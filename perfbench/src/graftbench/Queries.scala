package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Registered queries run standalone through `SparkEntry.queries`, each
  * materialized with the `noop` sink, the way the repository's bench
  * times them.
  */
object QueryRun {
  def query(name: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"no registered query $name"))

  /** One timed execution; wall seconds. */
  def execute(spark: SparkSession, name: String, dataDir: String,
      tracer: Option[Tracer]): Double = {
    val t0 = System.nanoTime()
    def run(): Unit =
      query(name)(spark, dataDir).write.format("noop").mode("overwrite").save()
    tracer match {
      case Some(t) => t.op(spark, name, "query")(run())
      case None => run()
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Execution order of pass `pass`: a seeded permutation of the list. */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  final case class Result(execS: Seq[Double], attempted: Int, failed: Int)

  /** Pass number `pass` over the list, in that pass's order. */
  def pass(spark: SparkSession, names: Seq[String], dataDir: String,
      seed: Long, pass: Int, tracer: Option[Tracer]): Result = {
    val execS = Seq.newBuilder[Double]
    var failed = 0
    order(names, seed, pass).foreach { n =>
      try execS += execute(spark, n, dataDir, tracer)
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[graftbench] $n failed: $e")
      }
      // collect between executions, untimed, so no execution pays for
      // the garbage of the one before
      System.gc()
    }
    val r = Result(execS.result(), names.size, failed)
    System.err.println(s"[graftbench] pass $pass: ${r.execS.sum} s")
    r
  }
}

/** A result's canonical fingerprint: columns ordered by name, cells
  * rendered canonically, rows sorted by (is-null, text) per cell the way
  * `tools/check.py` orders them, then SHA-256 over the rendering.
  */
object Fingerprint {
  private def cell(v: Any): String = v match {
    case null => "\u0000null"
    case d: Double if d.isNaN => "NaN"
    case f: Float if f.isNaN => "NaN"
    case b: Array[Byte] => b.map(x => "%02x".formatLocal(java.util.Locale.ROOT, x & 0xff)).mkString
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(df: DataFrame): (Long, String) = {
    val cols = df.columns.toSeq
    val order = cols.indices.sortBy(cols(_))
    val rows = df.collect().map(r => order.map(i => cell(r.get(i))))
    val sorted = rows.sortWith { (a, b) =>
      val c = a.iterator.zip(b.iterator).map { case (x, y) =>
        val nx = x == "\u0000null"; val ny = y == "\u0000null"
        if (nx != ny) (if (nx) 1 else -1) else x.compareTo(y)
      }.find(_ != 0)
      c.exists(_ < 0)
    }
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(cols(_)).mkString("\u0001").getBytes(StandardCharsets.UTF_8))
    sorted.foreach { r =>
      md.update('\n'.toByte)
      md.update(r.mkString("\u0001").getBytes(StandardCharsets.UTF_8))
    }
    (rows.length.toLong, md.digest().map(x => "%02x".formatLocal(java.util.Locale.ROOT, x & 0xff)).mkString)
  }

  /** `name<TAB>rows<TAB>sha256` lines. */
  def load(path: java.nio.file.Path): Map[String, (Long, String)] =
    scala.io.Source.fromFile(path.toFile, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> (f(1).toLong, f(2)) }.toMap
}
