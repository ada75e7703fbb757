package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Alerts, Parsing, ZScore}
import graft.sources.LogFileSource
import graft.streaming.{ApmGraph, ApmStreaming, ContractConsumer, JdbcSink, QueueRegistry, QueueTopic}

/** The queued APM topology as the benchmark drives it: five stages, each
  * a call to `ApmGraph.runStageQueued`, every stage boundary a file
  * topic under `<root>/q`, each stage's checkpoints under its own
  * `<root>/s<k>`.
  */
final class Topology(val root: Path) {
  val logs: Path = root.resolve("logs")
  val queue: Path = root.resolve("q")
  def work(stage: Int): Path = root.resolve(s"s$stage")
  def glob: String = s"$logs/net/*/*"
  /** The topic as the stage code resolves it (one instance per JVM). */
  def topic(name: String): QueueTopic = QueueRegistry.topic(name, 4, Some(queue.toString))
  def alertsDir: Path = work(4).resolve("alerts")
  def dbUrl: String = s"jdbc:derby:${work(5).resolve("db")}"

  /** One stage drain; returns its wall seconds. */
  def drain(spark: SparkSession, stage: Int, cfg: ApmGraph.GraphCfg,
      tracer: Option[Tracer]): Double = {
    val t0 = System.nanoTime()
    def run(): Unit = ApmGraph.runStageQueued(spark, stage, glob,
      work(stage).toString, queue.toString, cfg)
    tracer match {
      case Some(t) => t.op(spark, s"graph.s$stage.drain", s"graph.s$stage")(run())
      case None => run()
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Stop the embedded Derby database stage 5 booted, so a finished
    * topology holds no files open.
    */
  def closeDb(): Unit =
    try java.sql.DriverManager.getConnection(dbUrl + ";shutdown=true").close()
    catch { case _: java.sql.SQLException => () }
}

/** Output checks for a drained topology: every stage's output against
  * the batch chain over the same generated lines (the recipe the
  * repository's graph tests use), plus the drop alarms on `t_ops`.
  */
object GraphCheck {
  private val zOutSchema = Encoders.product[ApmStreaming.ZOut].schema

  private def records(t: QueueTopic): Seq[String] =
    new ContractConsumer(t, "graftbench_audit").poll(Int.MaxValue).map(_.value)

  private def fromJson(spark: SparkSession, values: Seq[String],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import spark.implicits._
    values.toDF("value").select(from_json(col("value"), schema).as("r"))
      .select(col("r.*"))
  }

  private def notSentinel(df: DataFrame): DataFrame =
    df.filter(col("server") =!= LoadGen.Sentinel)

  private type Bag = Map[Seq[Any], Int]
  private def bag(rows: Seq[Seq[Any]]): Bag =
    rows.groupBy(identity).view.mapValues(_.size).toMap
  private def rows(df: DataFrame, cols: Seq[String]): Bag =
    bag(df.select(cols.map(col): _*).collect().toSeq.map(_.toSeq))

  private val zCols = Seq("server", "service", "lag", "ts_ms",
    "average_signal", "per75_signal", "per95_signal")
  private val dbCols = Seq("ts_ms", "server", "service", "lag", "tpm", "stats_json")

  /** What the batch chain computes from the same lines. */
  final case class Expected(statsCols: Seq[String], stats: Bag, z: Bag,
      alerts: Seq[(Long, String, String, Int)],
      firedAt: Map[(Long, String, Int), Set[String]], db: Bag)

  def expected(spark: SparkSession, glob: String,
      cfg: ApmGraph.GraphCfg): Expected = {
    val parsedB = Parsing.extractStdExit(
        LogFileSource.batch(spark, glob).filter(col("log_type") === "server_log"))
      .select(col("server"), col("service"),
        timestamp_millis(col("end_ms")).as("end_ts"), col("elapsed"))
    val statsB = notSentinel(ApmStreaming.slidingStatsStream(
      parsedB, cfg.windowLen, cfg.slide, cfg.lateness)).cache()
    val zB = ZScore.zScoreFold(statsB.select("server", "service", "ts_ms",
      "tpm", "average", "per75", "per95"), Seq(cfg.lag)).cache()
    try {
      val candB = Alerts.candidates(zB, cfg.alert)
        .select("server", "service", "lag", "ts_ms", "bad", "causes").collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3),
          r.getInt(4) == 1, r.getString(5))).toIndexedSeq
      Expected(statsB.columns.toSeq, rows(statsB, statsB.columns.toSeq),
        rows(zB, zCols),
        Alerts.alertsRef(candB, cfg.alert).map(a => (a._1, a._2, a._3, a._4)),
        Alerts.firedRef(candB, cfg.alert).groupBy(f => (f._1, f._3, f._4))
          .view.mapValues(_.map(_._2).toSet).toMap,
        rows(JdbcSink.statsTableRows(zB), dbCols))
    } finally { statsB.unpersist(); zB.unpersist() }
  }

  /** Mismatch descriptions for a drained topology; empty when every
    * output matches.
    */
  def compare(spark: SparkSession, topo: Topology, exp: Expected): Seq[String] = {
    val bad = Seq.newBuilder[String]
    def same(what: String, got: Bag, want: Bag): Unit =
      if (got != want) bad += s"$what: ${got.values.sum} rows vs ${want.values.sum} " +
        s"expected; only got ${(got.keySet -- want.keySet).take(2)}; " +
        s"only expected ${(want.keySet -- got.keySet).take(2)}"

    same("stats", rows(notSentinel(fromJson(spark,
      records(topo.topic("t_stats")), ApmGraph.statsSchema)), exp.statsCols), exp.stats)
    same("zscore", rows(notSentinel(fromJson(spark,
      records(topo.topic("t_z")), zOutSchema)), zCols), exp.z)

    // alerts: the cooldown folds arrival order, so when two servers fire
    // one service at the same window the alert may name either server
    // the batch fired set admits; times, services and lags must match
    def key(a: (Long, String, String, Int)) = (a._1, a._3, a._4)
    val want = exp.alerts.sortBy(key)
    val got = (if (Files.exists(topo.alertsDir))
        notSentinel(spark.read.option("recursiveFileLookup", "true")
          .parquet(topo.alertsDir.toString))
          .select("ts_ms", "server", "service", "lag").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSeq
      else Nil).sortBy(key)
    if (want.isEmpty) bad += "alerts: the batch chain fired no alert"
    if (got.map(key) != want.map(key)) bad += s"alerts: ${got.size} rows vs ${want.size} expected"
    else got.foreach { g =>
      if (!exp.firedAt.getOrElse(key(g), Set.empty[String]).contains(g._2))
        bad += s"alerts: $g names a server the batch chain did not fire"
    }

    // sentinel rows are filtered on the client: Derby's CLOB columns
    // reject the comparison a pushed-down filter would send
    val db = spark.read.jdbc(topo.dbUrl, "stats_rows", new java.util.Properties())
    same("db", bag(db.select(dbCols.map(col): _*).collect().toSeq.map(_.toSeq)
      .filterNot(_(1) == LoadGen.Sentinel)), exp.db)

    if (Files.exists(topo.queue.resolve("t_ops")))
      records(topo.topic("t_ops")).foreach(v => bad += s"drop alarm: $v")
    bad.result()
  }
}

/** `graph_drain`: a fixed backlog drained through the whole topology,
  * each round into fresh queues and checkpoints.
  */
object GraphDrain {
  // 32 hosts x 4 services x 4 exit lines per 10-s interval, 24 intervals
  // (4 min of event time) in 3 rotated files per host
  val Hosts = 32
  val Services = 4
  val PerKey = 4
  val Intervals = 24
  val FilesPerHost = 3
  val SlowPeriod = 12
  val WarmSeed = -1L

  final case class Backlog(dir: Path, lines: Long, files: Seq[Path], genS: Double)

  def generate(seed: Long, dir: Path): Backlog = {
    val t0 = System.nanoTime()
    val gen = new LoadGen(seed, Hosts, Services, PerKey, SlowPeriod)
    val per = Intervals / FilesPerHost
    val lines = (0 until FilesPerHost).map { f =>
      val name = if (f == 0) "server.log" else s"server.log.$f"
      gen.writeSpan(dir, name, f * per, (f + 1) * per)
    }.sum
    val st = Files.walk(dir)
    val files = try st.filter(Files.isRegularFile(_)).iterator().asScala.toList
      finally st.close()
    Backlog(dir, lines, files, (System.nanoTime() - t0) / 1e9)
  }

  /** The whole backlog is admitted in one micro-batch, as a backfill
    * must be (see `ApmGraph.GraphCfg`).
    */
  val cfg: ApmGraph.GraphCfg =
    ApmGraph.GraphCfg(stage1MaxFiles = Hosts * FilesPerHost + 8)

  /** The first drains of a JVM are several times slower than the rest,
    * and a small backlog leaves the next round still compiling: drain a
    * full-size backlog of a fixed seed through all five stages first.
    */
  def warmUp(spark: SparkSession, dir: Path): Unit = {
    val b = generate(WarmSeed, dir.resolve("backlog"))
    val (_, topo) = round(spark, b, dir.resolve("round"), None)
    topo.closeDb()
    Dirs.deleteTree(dir)
  }

  final case class Round(wallS: Double, lagS: Double, failed: Int,
      attempted: Int, queueRecords: Long, queueBytes: Long, backlogMax: Long)

  /** Drain the backlog once, from a fresh topology under `root`: stage 1,
    * the sentinel, stage 1 again, then 2, 3, 4 and 5. Every stage drain
    * is one operation. The stats rows become due when the sentinel is
    * written and are visible when the second stage-1 drain returns.
    */
  def round(spark: SparkSession, b: Backlog, root: Path,
      tracer: Option[Tracer]): (Round, Topology) = {
    val topo = new Topology(root)
    b.files.foreach { f =>
      val dst = topo.logs.resolve(b.dir.relativize(f))
      Files.createDirectories(dst.getParent)
      Files.createLink(dst, f)
    }
    var failed = 0; var backlogMax = 0L
    val stageS = scala.collection.mutable.ArrayBuffer.empty[Double]
    def stage(k: Int): Unit = {
      backlogMax = math.max(backlogMax, Topology.backlog(topo, k))
      try stageS += topo.drain(spark, k, cfg, tracer)
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[graftbench] stage $k drain failed: $e")
      }
    }
    System.gc()
    val t0 = System.nanoTime()
    stage(1)
    LoadGen.writeSentinel(topo.logs)
    val due = System.nanoTime()
    stage(1)
    val visible = System.nanoTime()
    Seq(2, 3, 4, 5).foreach(stage)
    val wall = (System.nanoTime() - t0) / 1e9
    System.err.println(s"[graftbench] drain round ${root.getFileName}: " +
      s"wall=$wall stages=${stageS.mkString(",")}")
    val (recs, bytes) = Topology.queueSize(topo)
    (Round(wall, (visible - due) / 1e9, failed, 6, recs, bytes, backlogMax), topo)
  }
}

object Topology {
  private val inputs = Map(2 -> ("t_stats", "stage2"), 3 -> ("t_z", "stage3"),
    4 -> ("t_fired", "stage4"), 5 -> ("t_z", "s6db"))

  /** End offset minus the committed offset of stage `k`'s consumer
    * group on its input topic (0 for stage 1, which tails files).
    */
  def backlog(topo: Topology, k: Int): Long = inputs.get(k) match {
    case Some((t, g)) if Files.exists(topo.queue.resolve(t)) =>
      // a fresh consumer starts at the group's committed offsets, so its
      // lag is the group's backlog
      new ContractConsumer(topo.topic(t), g).lag
    case _ => 0L
  }

  /** (records, bytes) across every topic of the topology. */
  def queueSize(topo: Topology): (Long, Long) = {
    if (!Files.exists(topo.queue)) (0L, 0L) else {
      val names = Files.list(topo.queue)
      val ts = try names.iterator().asScala.toList finally names.close()
      val recs = ts.filter(Files.isDirectory(_))
        .map(d => topo.topic(d.getFileName.toString).endOffsets.values.sum).sum
      (recs, Dirs.sizeOf(topo.queue))
    }
  }
}
