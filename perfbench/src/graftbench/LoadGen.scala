package graftbench

import java.nio.file.{Files, Path}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.SplittableRandom

/** Seeded synthetic JVM server logs in the layout the program tails
  * (`<root>/net/<host>/server.log*`), one 10-second event interval at a
  * time. Everything the program sees is these files; the seed sets the
  * elapsed-time noise and which hosts turn slow over which intervals,
  * so the vote and cooldown stages have real work.
  *
  * Each (host, service) key logs `perKey` exit lines per interval, and
  * one line in ten is unrelated noise for the parser to reject.
  */
final class LoadGen(seed: Long, val hosts: Int, val services: Int,
    val perKey: Int, slowEvery: Int) {
  import LoadGen._

  val hostNames: IndexedSeq[String] = (0 until hosts).map(h => "h%03d".formatLocal(java.util.Locale.ROOT, h))
  val serviceNames: IndexedSeq[String] = (0 until services).map(s => s"S:svc$s")

  private val rnd0 = new SplittableRandom(seed)
  // the slow band: a quarter of the hosts (at least one) turn slow on
  // one seeded service for a seeded stretch of intervals, once every
  // `slowEvery` to 1.5 x `slowEvery` intervals
  private val slowHosts: Set[Int] = {
    val n = math.max(1, hosts / 4)
    scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle((0 until hosts).toList).take(n).toSet
  }
  private val slowService: Int = rnd0.nextInt(services)
  private val slowPeriod: Int = slowEvery + rnd0.nextInt(slowEvery / 2 + 1)
  private val slowLen: Int = slowEvery / 4 + 1 + rnd0.nextInt(3)

  private def slow(h: Int, s: Int, interval: Int): Boolean =
    slowHosts.contains(h) && s == slowService &&
      Math.floorMod(interval - h, slowPeriod) < slowLen

  /** The lines host `h` logs in event interval `interval`, in event-time
    * order.
    */
  def linesFor(h: Int, interval: Int): Seq[String] = {
    val r = new SplittableRandom(seed * 1000003L + h * 7919L + interval)
    val base = T0 + interval * IntervalMs
    val evs = for {
      s <- 0 until services
      k <- 0 until perKey
    } yield {
      val ms = base + r.nextLong(IntervalMs)
      val e = 80L + r.nextLong(40) + (if (slow(h, s, interval)) 220L + r.nextLong(60) else 0L)
      (ms, serviceNames(s), e)
    }
    val sorted = evs.sortBy(_._1)
    val out = new scala.collection.mutable.ArrayBuffer[String](sorted.size * 11 / 10 + 1)
    sorted.zipWithIndex.foreach { case ((ms, svc, e), i) =>
      out += exitLine(interval * 100000 + i, ms, svc, e)
      if (i % 10 == 9) out += s"${stamp(ms)} [a:b:42] DEBUG pool stats idle=${i % 7}"
    }
    out.toSeq
  }

  /** Write intervals [from, until) of every host as one file per host
    * named `name`. Returns the lines written.
    */
  def writeSpan(root: Path, name: String, from: Int, until: Int): Long = {
    var n = 0L
    hostNames.indices.foreach { h =>
      val sb = new StringBuilder
      (from until until).foreach { i =>
        val ls = linesFor(h, i)
        ls.foreach(l => sb.append(l).append('\n'))
        n += ls.size
      }
      writeFile(root, hostNames(h), name, sb.toString)
    }
    n
  }
}

object LoadGen {
  val T0 = 1578391200000L // 2020-01-07T10:00:00Z
  val IntervalMs = 10000L
  /** Host name of the far-future line that closes every open window. */
  val Sentinel = "zz"
  val SentinelMs: Long = T0 + 100000000L

  private val fmt = DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss,SSS", java.util.Locale.ROOT).withZone(ZoneOffset.UTC)
  def stamp(ms: Long): String = fmt.format(Instant.ofEpochMilli(ms))

  def exitLine(id: Int, ms: Long, svc: String, elapsed: Long): String =
    s"[$id] ${stamp(ms)} [a:b:42] INFO CommonTiming::Stop $svc handled in time $elapsed"

  def writeFile(root: Path, host: String, name: String, body: String): Path = {
    val p = root.resolve("net").resolve(host).resolve(name)
    Files.createDirectories(p.getParent)
    // write under a hidden name and rename, so a tailing reader never
    // lists a half-written file
    val tmp = p.resolveSibling("." + name + ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def writeSentinel(root: Path): Unit = {
    writeFile(root, Sentinel, "server.log",
      exitLine(999, SentinelMs, "S:svc0", 1L) + "\n")
    ()
  }
}
