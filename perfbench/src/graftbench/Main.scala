package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark: one workload, one seed, one JVM on `local[nproc]`.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --out <dir> --data <dir> --fingerprints <file>
  * }}}
  *
  * Prints the workload's metrics by name and unit, then, as the last
  * line, one JSON object: `correct`, `attempted`, `failed` and
  * `metrics` (the end-to-end metrics with `--trace 0`, the per-layer
  * ones with `--trace 1`). Exits 1 when an output check fails.
  */
object Main {
  val Workloads = Seq("graph_drain", "dashboard_queries")

  /** Registered dashboard queries, one from each of seven families of
    * APM (a, f, j, p, w, z) and relational (q) queries a dashboard
    * issues, all bound by planning and scheduling at sf0.01. One pass is
    * about 3 s on 4 cores. With an odd number of queries the median of
    * all executions falls among one query's executions instead of
    * between two queries', and with 4 passes so does the tail (p64).
    */
  val Dashboard: Seq[String] = Seq(
    "a1_bucketize", "f9_json_flatten", "j2_enrichment", "p3_ejb_roundtrip",
    "q1_agg", "w4_transitions", "z7_mad_outliers")

  /** A run's work is fixed by `--seconds`, so every run times the same
    * units: one pass over the query list per `NominalPassS`, or one
    * drain of the backlog per `NominalRoundS`, at least one.
    */
  val NominalPassS = 4.0
  val NominalRoundS = 16.0
  /** Query passes keep getting faster for several passes after the
    * first (cold) one, while the JIT compiles: untimed passes before
    * timing.
    */
  val WarmPasses = 2

  def units(workload: String, seconds: Double): Int = {
    val nominal = if (workload == "graph_drain") NominalRoundS else NominalPassS
    math.max(1, math.round(seconds / nominal).toInt)
  }

  /** Which units run traced, in order. A traced run runs untraced,
    * traced, untraced, with as many untraced units as traced ones, so a
    * drift over the run weighs on both sides of `trace.overhead_frac`.
    */
  def plan(units: Int, trace: Boolean): Seq[Boolean] =
    if (!trace) Seq.fill(units)(false)
    else {
      val traced = math.max(1, units / 2)
      val side = math.max(1, traced / 2)
      Seq.fill(side)(false) ++ Seq.fill(traced)(true) ++ Seq.fill(side)(false)
    }

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: Path, data: Option[Path],
      fingerprints: Option[Path], dump: Option[Path])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w; one of ${Workloads.mkString(", ")}")
    val t = kv.getOrElse("trace", "0")
    require(t == "0" || t == "1", s"--trace takes 0 or 1, not $t")
    val s = need("seconds").toDouble
    require(s > 0, "--seconds must be positive")
    Args(w, need("seed").toLong, s, t == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("out")).toAbsolutePath,
      kv.get("data").map(Paths.get(_).toAbsolutePath),
      kv.get("fingerprints").map(Paths.get(_).toAbsolutePath),
      kv.get("dump").map(Paths.get(_).toAbsolutePath))
  }

  /** What one measured phase of a workload yields. */
  final case class Measured(
      workPerS: Double,
      lags: Seq[Double],
      attempted: Int, failed: Int, mismatches: Seq[String],
      named: ListMap[String, (Double, String, Int)],
      wallS: Double, rounds: Double,
      queueRecords: Double, queueBytes: Double, backlogMax: Long,
      genLines: Long, genS: Double,
      stageRowsOut: Map[Int, Double])

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(argv)) catch { case e: Throwable =>
      System.err.println(s"[graftbench] error: $e")
      e.printStackTrace()
      2
    }
    System.out.flush()
    System.exit(code)
  }

  private def nowS(): Double = System.currentTimeMillis() / 1000.0

  def run(a: Args): Int = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    val cores = Runtime.getRuntime.availableProcessors
    val loadStart = RunContext.loadavg()
    val work = a.work.resolve(s"${a.workload}-${a.seed}-${if (a.trace) 1 else 0}")
    Dirs.deleteTree(work)
    Files.createDirectories(work)
    Files.createDirectories(a.out)

    val dataDir = a.data.map(_.toString).getOrElse("")
    if (a.workload == "dashboard_queries")
      require(a.data.exists(Files.isDirectory(_)), s"no query data at ${a.data}")

    // ---- set-up: from JVM start to the first timed operation, the
    // session build and the warm-up; generating the backlog is excluded
    val spark = Session.build(cores, work.resolve("spark"))
    val sessionS = nowS() - jvmStartS

    a.dump.foreach { d =>
      dumpQueries(spark, dataDir, d)
      spark.stop()
      return 0
    }

    val backlog = if (a.workload != "graph_drain") None
      else Some(GraphDrain.generate(a.seed, work.resolve("backlog")))

    // warm-up: for the query workload, the output check pass (it runs
    // every query once) and `WarmPasses` untimed passes; graph outputs
    // are checked after the timed rounds
    val c0 = nowS()
    val queryMismatches = a.workload match {
      case "dashboard_queries" =>
        checkQueries(spark, dataDir, a.fingerprints) ++
          (1 to WarmPasses).flatMap { i =>
            val r = QueryRun.pass(spark, Dashboard, dataDir, a.seed, -i, None)
            if (r.failed > 0) Seq(s"warm-up pass $i: ${r.failed} executions threw") else Nil
          }
      case _ =>
        GraphDrain.warmUp(spark, work.resolve("warm"))
        Nil
    }
    val warmS = nowS() - c0
    val setupS = nowS() - jvmStartS - backlog.map(_.genS).getOrElse(0.0)
    System.err.println(s"[graftbench] set-up $setupS s (session $sessionS s, " +
      s"warm-up $warmS s)")

    val (untraced, traced) = measure(spark, a, work.resolve("m"), dataDir,
      backlog, plan(units(a.workload, a.seconds), a.trace))

    val calib = RunContext.calibrate()
    val loadEnd = RunContext.loadavg()
    spark.stop()

    val phases = Seq(untraced) ++ traced.map(_._1)
    // the query warm-up executes every query 1 + WarmPasses times more
    val attempted = phases.map(_.attempted).sum +
      (if (a.workload == "dashboard_queries") Dashboard.size * (1 + WarmPasses) else 0)
    val mismatches = queryMismatches ++ phases.flatMap(_.mismatches)
    val failed = phases.map(_.failed).sum + mismatches.size
    val correct = mismatches.isEmpty && failed == 0
    val rss = RunContext.peakRssMb()

    // ---- end-to-end metrics: from the untraced units
    val m = untraced
    val (tailQ, tailV) = Stats.tail(m.lags)
    val e2e = ListMap(
      "setup_s" -> (setupS, "s"),
      "work_per_s" -> (m.workPerS, "1/s"),
      "lag_p50_s" -> (Stats.median(m.lags), "s"),
      "lag_p90_s" -> (tailV, "s"),
      "peak_rss_mb" -> (rss, "MiB"))
    val named = m.named ++ ListMap(
      "setup_s" -> (setupS, "s", 1),
      "ops_failed_frac" -> (failed.toDouble / math.max(1, attempted), "frac", attempted),
      "peak_rss_mb" -> (rss, "MiB", 1))

    val perLayer: ListMap[String, (Double, String)] = traced match {
      case Some((t, tr)) => layerMetrics(a.workload, m, t, tr, cores, mismatches.size)
      case None => ListMap.empty
    }

    // ---- artifacts
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    val artifact = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace,
      "context" -> Json.obj(
        "nproc" -> cores, "spark" -> org.apache.spark.SPARK_VERSION,
        "jdk" -> System.getProperty("java.version"),
        "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
        "calib_s" -> calib),
      "session_s" -> sessionS, "warmup_s" -> warmS,
      "lag_tail_percentile" -> tailQ,
      "named_metrics" -> named.map { case (k, (v, u, n)) =>
        k -> Json.obj("value" -> v, "unit" -> u, "samples" -> n) },
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) },
      "per_layer" -> perLayer.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) },
      "self_time_s" -> traced.map(_._2.selfTimes()).getOrElse(Map.empty),
      "attempted" -> attempted, "failed" -> failed, "mismatches" -> mismatches)
    Files.writeString(a.out.resolve(s"$tag.json"), Json.render(artifact) + "\n")
    traced.foreach { case (_, t) =>
      Files.write(a.out.resolve(s"$tag.spans.jsonl"), t.spanLines().toSeq.asJava)
    }
    Dirs.deleteTree(work)

    mismatches.take(20).foreach(x => System.err.println(s"[graftbench] MISMATCH $x"))
    named.foreach { case (k, (v, u, n)) =>
      println(s"metric $k = ${Json.num(v)} $u (samples=$n)")
    }
    println(s"metric lag percentile reported as lag_p90_s = ${Json.num(tailQ)}")
    val shown = if (a.trace) perLayer else e2e
    println(Json.render(Json.obj(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> shown.map { case (k, (v, u)) => k -> Json.obj("value" -> v, "unit" -> u) })))
    if (correct) 0 else 1
  }

  /** Run the units of `plan` in order, unit `i` traced when `plan(i)`.
    * The tracer is made and attached just before the first traced unit
    * and stopped and detached after the last, so it sees only those.
    */
  def runPlan[T](spark: SparkSession, plan: Seq[Boolean])(
      unit: (Int, Option[Tracer]) => T): (Seq[(Boolean, T)], Option[Tracer]) = {
    var tracer: Option[Tracer] = None
    val (first, last) = (plan.indexOf(true), plan.lastIndexOf(true))
    val done = plan.zipWithIndex.map { case (traced, i) =>
      if (i == first) { val t = new Tracer(); t.attach(spark); tracer = Some(t) }
      val r = try unit(i, if (traced) tracer else None)
        finally if (i == last) tracer.foreach { t => t.stop(); t.detach(spark) }
      traced -> r
    }
    (done, tracer)
  }

  /** The untraced units' results and, when `plan` traces some, the
    * traced units' results with their tracer.
    */
  def measure(spark: SparkSession, a: Args, dir: Path, dataDir: String,
      backlog: Option[GraphDrain.Backlog],
      plan: Seq[Boolean]): (Measured, Option[(Measured, Tracer)]) = {
    def split[T](done: Seq[(Boolean, T)], tracer: Option[Tracer])(
        of: Seq[T] => Measured): (Measured, Option[(Measured, Tracer)]) =
      (of(done.filterNot(_._1).map(_._2)),
        tracer.map(t => (of(done.filter(_._1).map(_._2)), t)))
    a.workload match {
      case "graph_drain" =>
        val b = backlog.get
        val (done, tracer) = runPlan(spark, plan) { (i, t) =>
          GraphDrain.round(spark, b, dir.resolve(s"r$i"), t)
        }
        val exp = GraphCheck.expected(spark, done.head._2._2.glob, GraphDrain.cfg)
        val checked = done.map { case (traced, (r, topo)) =>
          val outs = stageRowsOut(spark, topo)
          val mism = try GraphCheck.compare(spark, topo, exp)
            finally { topo.closeDb(); Dirs.deleteTree(topo.root) }
          traced -> (r, outs, mism)
        }
        split(checked, tracer) { rounds =>
          val n = rounds.size
          val rs = rounds.map(_._1)
          val rate = rs.map(r => b.lines / r.wallS)
          Measured(Stats.median(rate), rs.map(_.lagS),
            rs.map(_.attempted).sum, rs.map(_.failed).sum, rounds.flatMap(_._3),
            ListMap(
              "drain_lines_per_s" -> (Stats.median(rate), "1/s", n),
              "drain_s" -> (Stats.median(rs.map(_.wallS)), "s", n),
              "stats_lag_p50_s" -> (Stats.median(rs.map(_.lagS)), "s", n),
              "loadgen.lines" -> (b.lines.toDouble, "count", 1)),
            rs.map(_.wallS).sum, n, rs.map(_.queueRecords).sum.toDouble / n,
            rs.map(_.queueBytes).sum.toDouble / n, rs.map(_.backlogMax).max,
            b.lines, b.genS,
            (1 to 5).map(k => k -> rounds.map(_._2(k)).sum.toDouble / n).toMap)
        }

      case "dashboard_queries" =>
        val (done, tracer) = runPlan(spark, plan) { (i, t) =>
          QueryRun.pass(spark, Dashboard, dataDir, a.seed, i, t)
        }
        split(done, tracer) { passes =>
          val execS = passes.flatMap(_.execS)
          val passS = passes.map(_.execS.sum)
          val (q, v) = Stats.tail(execS)
          Measured(Stats.median(passes.map(p => p.execS.size / p.execS.sum)), execS,
            passes.map(_.attempted).sum, passes.map(_.failed).sum, Nil,
            ListMap(
              "query_p50_s" -> (Stats.median(execS), "s", execS.size),
              s"query_p${math.round(q * 100)}_s" -> (v, "s", execS.size),
              "suite_s" -> (Stats.median(passS), "s", passS.size)),
            passS.sum, execS.size, 0, 0, 0, 0, 0, Map.empty)
        }
    }
  }

  /** Rows each stage produced: its output topic's records for stages
    * 1-3, alert rows for 4, database rows for 5.
    */
  def stageRowsOut(spark: SparkSession, topo: Topology): Map[Int, Long] = {
    def topicRows(t: String) =
      if (Files.exists(topo.queue.resolve(t))) topo.topic(t).endOffsets.values.sum else 0L
    val alerts =
      if (Files.exists(topo.alertsDir)) spark.read.option("recursiveFileLookup", "true")
        .parquet(topo.alertsDir.toString).count() else 0L
    val db = try spark.read.jdbc(topo.dbUrl, "stats_rows", new java.util.Properties()).count()
      catch { case _: Throwable => 0L }
    Map(1 -> topicRows("t_stats"), 2 -> topicRows("t_z"), 3 -> topicRows("t_fired"),
      4 -> alerts, 5 -> db)
  }

  def layerMetrics(workload: String, untraced: Measured, m: Measured,
      t: Tracer, cores: Int, mismatches: Int): ListMap[String, (Double, String)] = {
    val ops = t.ops.asScala.toSeq
    val nOps = math.max(1, ops.size).toDouble
    val ls = t.layers.asScala.values.toSeq
    def sum(f: t.Layer => Long): Double = ls.map(l => f(l).toDouble).sum
    val wallUs = ops.map(o => (o._4 - o._3).toDouble).sum
    val taskS = sum(_.taskMs.sum) / 1000.0
    val out = ListMap.newBuilder[String, (Double, String)]
    (1 to 5).foreach { k =>
      val name = s"graph.s$k"
      val l = Option(t.layers.get(name))
      def v(f: t.Layer => Long): Double = l.map(x => f(x).toDouble).getOrElse(0.0)
      val busy = ops.filter(_._2 == name).map(o => (o._4 - o._3) / 1e6).sum
      val r = math.max(m.rounds, 1e-9)
      val graph = workload == "graph_drain"
      out += s"$name.busy_s" -> (busy / r, "s")
      out += s"$name.idle_s" -> ((if (graph) math.max(0.0, m.wallS - busy) else 0.0) / r, "s")
      out += s"$name.batches" -> (v(_.batches.sum) / r, "count")
      out += s"$name.rows_in" -> (v(_.rowsIn.sum) / r, "count")
      out += s"$name.rows_out" -> (m.stageRowsOut.getOrElse(k, 0.0), "count")
      out += s"$name.plan_s" -> (v(_.planMs.sum) / 1000.0 / r, "s")
      out += s"$name.exec_s" -> (v(_.execMs.sum) / 1000.0 / r, "s")
      out += s"$name.offsets_s" -> (v(_.offsetsMs.sum) / 1000.0 / r, "s")
      out += s"$name.commit_s" -> (v(_.commitMs.sum) / 1000.0 / r, "s")
      out += s"$name.state_rows" -> (v(_.stateRowsMax.get), "count")
      out += s"$name.state_bytes" -> (v(_.stateBytesMax.get), "bytes")
      out += s"$name.state_commit_s" -> (v(_.stateCommitMs.sum) / 1000.0 / r, "s")
      out += s"$name.wm_dropped" -> (v(_.wmDropped.sum), "count")
    }
    out += "queue.records" -> (m.queueRecords, "count")
    out += "queue.bytes" -> (m.queueBytes, "bytes")
    out += "queue.backlog_max" -> (m.backlogMax.toDouble, "count")
    out += "loadgen.lines" -> (m.genLines.toDouble, "count")
    out += "loadgen.gen_s" -> (m.genS, "s")
    out += "driver.analysis_s" -> (t.analysisMs.sum / 1000.0 / nOps, "s")
    out += "driver.optimize_s" -> (t.optimizeMs.sum / 1000.0 / nOps, "s")
    out += "driver.plan_s" -> (t.planningMs.sum / 1000.0 / nOps, "s")
    out += "codegen.compiles" -> (t.codegenCompiles / nOps, "count")
    out += "codegen.compile_s" -> (t.codegenCompileS / nOps, "s")
    out += "sched.jobs" -> (sum(_.jobs.sum) / nOps, "count")
    out += "sched.stages" -> (sum(_.stages.sum) / nOps, "count")
    out += "sched.tasks" -> (sum(_.tasks.sum) / nOps, "count")
    out += "sched.idle_s" -> (t.schedIdleUs("") / 1e6 / nOps, "s")
    out += "exec.task_s" -> (taskS / nOps, "s")
    out += "exec.cpu_s" -> (sum(_.cpuNs.sum) / 1e9 / nOps, "s")
    out += "exec.gc_s" -> (sum(_.gcMs.sum) / 1000.0 / nOps, "s")
    out += "exec.shuffle_bytes" -> (sum(_.shuffleBytes.sum) / nOps, "bytes")
    out += "exec.spill_bytes" -> (sum(_.spillBytes.sum) / nOps, "bytes")
    out += "exec.util" -> (if (wallUs > 0) taskS / (wallUs / 1e6 * cores) else 0.0, "frac")
    out += "check.mismatches" -> (mismatches.toDouble, "count")
    // tracing overhead on the headline number: the median lag of the
    // traced units against that of the untraced units around them
    val base = Stats.median(untraced.lags)
    out += "trace.overhead_frac" -> ((Stats.median(m.lags) - base) / base, "frac")
    out.result()
  }

  // ---- query outputs

  def checkQueries(spark: SparkSession, dataDir: String,
      fingerprints: Option[Path]): Seq[String] = {
    val exp = fingerprints.filter(Files.exists(_)).map(Fingerprint.load)
      .getOrElse(throw new IllegalStateException("no query fingerprints file"))
    Dashboard.flatMap { n =>
      try {
        val got = Fingerprint.of(QueryRun.query(n)(spark, dataDir))
        exp.get(n) match {
          case None => Seq(s"$n: no stored fingerprint")
          case Some(e) if e != got => Seq(s"$n: got rows=${got._1} ${got._2}, stored rows=${e._1} ${e._2}")
          case _ => Nil
        }
      } catch { case e: Throwable => Seq(s"$n: threw $e") }
    }
  }

  /** Writes each dashboard query's result as parquet, its oracle SQL and
    * the fingerprints file, for `validate_oracle.py`.
    */
  def dumpQueries(spark: SparkSession, dataDir: String, dir: Path): Unit = {
    Files.createDirectories(dir)
    val lines = Dashboard.map { n =>
      val df = QueryRun.query(n)(spark, dataDir)
      df.write.mode("overwrite").parquet(dir.resolve(n).toString)
      val (rows, sha) = Fingerprint.of(df)
      s"$n\t$rows\t$sha"
    }
    Files.write(dir.resolve("fingerprints.tsv"), lines.asJava)
    val sql = Dashboard.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Files.writeString(dir.resolve("oracle_sql.json"), Json.render(sql) + "\n")
    ()
  }
}
