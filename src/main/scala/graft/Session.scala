package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.Files

/** The one place a SparkSession is configured: every main, tool and test
  * suite builds its session here, so their confs cannot drift apart.
  *
  * `getOrCreate` semantics: a JVM that already holds a session gets that
  * session back with the runtime SQL confs below re-applied; static confs
  * (master, warehouse, codegen cache) stay those of the first build.
  */
object Session {
  private lazy val warehouse = Files.createTempDirectory("graft_wh").toString

  /** A `local[cores]` session with `cores` shuffle partitions. */
  def apply(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    // the test parquet carries TIMESTAMP(NANOS)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    // Static conf, default 100: a suite of wide plans evicts generated
    // classes between passes, so every pass re-runs Janino + JIT
    // (r2_candidates benched 18.3/18.0/7.8 s across its passes with the
    // default; isolated-and-warm the same plan is 2.3 s). Keeping classes
    // cached makes a repeated query measure the QUERY, not compilation.
    .config("spark.sql.codegen.cache.maxEntries", "10000")
    // per-JVM, so saveAsTable (Bucketing) never writes into the cwd
    .config("spark.sql.warehouse.dir", warehouse)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The core count from `SPARK_GRAFT_CPUS`, or `default` when unset. */
  def cpus(default: Int): Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"), default)

  private[graft] def parseCpus(raw: Option[String], default: Int): Int =
    raw.fold(default)(v => v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")))
}
