package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession

/** Locale-independent JSON rendering. Numbers never go through
  * `String.format` or a `%f` interpolator, whose decimal separator
  * follows the JVM's default locale; `java.lang.Double.toString` prints
  * every digit of the value with a '.' separator under any locale.
  */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= "\\u%04x".formatLocal(Locale.ROOT, c.toInt)
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): ListMap[String, Any] = ListMap(kv: _*)
}

/** Order statistics over timing samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    // linear interpolation between closest ranks (numpy's default)
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile, at most `want`, that leaves at least ten
    * samples above it; with fewer than 11 samples nothing qualifies and
    * the median stands in. Returns (percentile, value).
    */
  def tail(xs: Seq[Double], want: Double = 0.90): (Double, Double) = {
    val n = xs.size
    val supported = if (n <= 10) 0.5 else math.min(want, (n - 10).toDouble / n)
    val q = math.max(0.5, math.floor(supported * 100) / 100)
    (q, quantile(xs, q))
  }
}

/** Run-attribution context: recorded in every artifact, never gated. */
object RunContext {
  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ")
      .take(3).mkString(",")
    catch { case _: Throwable => "" }

  /** Fixed single-thread work (xorshift64), median of three: the ratio of
    * two runs' values is the host-speed factor between them.
    */
  def calibrate(): Double = {
    def spin(): Double = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L; var i = 0
      while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) System.err.println("")
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(Seq(spin(), spin(), spin()))
  }

  /** Peak resident set (VmHWM) of this JVM in MiB. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status"))
        .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => Double.NaN }
}

object Session {
  /** One local session shaped like the repository's bench: every core,
    * as many shuffle partitions, UI off, scratch space under `work`.
    */
  def build(cores: Int, work: Path): SparkSession = {
    Files.createDirectories(work.resolve("local"))
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Dirs {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(x => Files.deleteIfExists(x))
    finally st.close()
  }

  def sizeOf(p: Path): Long = if (!Files.exists(p)) 0L else {
    val st = Files.walk(p)
    try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally st.close()
  }
}
