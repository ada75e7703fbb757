package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * failures.json naming every query that threw. Any failure makes the
  * run exit nonzero, after all the other queries have been dumped.
  * Extra args beyond <sfDir> <outDir> are a dev-only query-name filter
  * (the driver always passes exactly two, so its runs dump everything).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only: Set[String] = args.drop(2).toSet
    val spark = Session(Session.cpus(4))
    spark.sparkContext.setLogLevel("WARN")
    val failures = dump(spark, sfDir, outDir, SparkEntry.queries.toSeq
      .filter { case (n, _) => only.isEmpty || only(n) })
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries failed, " +
        s"see $outDir/failures.json")
      sys.exit(1)
    }
  }

  /** Writes each query's result to `<outDir>/<name>` and the ones that
    * threw, with their exception classes, to `<outDir>/failures.json`;
    * returns those (name, exception class) pairs.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    val failures = queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e.getClass.getName)
      }
    }
    Files.writeString(Paths.get(s"$outDir/failures.json"), failures
      .map { case (n, c) => s"""{"name":${q(n)},"exception":${q(c)}}""" }
      .mkString("[", ",", "]"))
    failures
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
