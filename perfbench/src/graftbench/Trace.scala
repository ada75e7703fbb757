package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed interval with its cause. Times are epoch
  * microseconds; `parent` is 0 for a trace root.
  */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startUs: Long, endUs: Long, attrs: Map[String, Any] = Map.empty)

/** Which operation a thread is working for; inherited by the threads it
  * starts, which is how a streaming query's own thread is tied back to
  * the stage drain that started it.
  */
final case class OpCtx(trace: Long, span: Long, layer: String)

/** In-memory spans and counters for one traced phase, fed by spans the
  * benchmark opens around each call into the program and by Spark's
  * public listeners. Nothing is written until [[spanLines]] is asked
  * for at the end of the run.
  */
final class Tracer {
  private val ids = new AtomicLong(0L)
  private val clockBase = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs(): Long = clockBase + System.nanoTime() / 1000L

  val spans = new ConcurrentLinkedQueue[Span]()
  val ctx = new InheritableThreadLocal[OpCtx]()

  /** Completed operations: (span id, layer, start, end). */
  val ops = new ConcurrentLinkedQueue[(Long, String, Long, Long)]()

  // ---- counters, keyed by layer ("query", "graph.s1", ...)
  final class Layer {
    val jobs, stages, tasks = new LongAdder
    val taskMs, cpuNs, gcMs, shuffleBytes, spillBytes = new LongAdder
    val batches, rowsIn, rowsOut = new LongAdder
    val planMs, execMs, offsetsMs, commitMs = new LongAdder
    val stateCommitMs, wmDropped = new LongAdder
    /** Largest state seen in any micro-batch. */
    val stateRowsMax, stateBytesMax = new AtomicLong(0L)
  }
  val layers = new ConcurrentHashMap[String, Layer]()
  def layer(name: String): Layer = layers.computeIfAbsent(name, _ => new Layer)

  val analysisMs, optimizeMs, planningMs = new LongAdder
  private val lastEvent = new AtomicLong(System.nanoTime())

  /** Task run intervals per operation span, for scheduler idle time. */
  val taskIntervals = new ConcurrentHashMap[Long, ConcurrentLinkedQueue[(Long, Long)]]()

  private def newId(): Long = ids.incrementAndGet()

  /** Run `f` as a new operation (one trace) of `layer`. */
  def op[T](spark: SparkSession, name: String, layer: String)(f: => T): T = {
    val id = newId()
    val prev = ctx.get()
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(Tracer.SpanProp)
    val c = OpCtx(id, id, layer)
    register(c)
    ctx.set(c)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val t0 = nowUs()
    try f finally {
      val t1 = nowUs()
      spans.add(Span(id, 0L, id, name, t0, t1, Map("layer" -> layer)))
      ops.add((id, layer, t0, t1))
      ctx.set(prev)
      sc.setLocalProperty(Tracer.SpanProp, prevProp)
    }
  }

  private def ctxOf(props: java.util.Properties): Option[OpCtx] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .flatMap(s => Option(opCtxById.get(s.toLong)))

  // op span id -> context, filled when the op's first job or query shows up
  private val opCtxById = new ConcurrentHashMap[Long, OpCtx]()
  def register(c: OpCtx): Unit = { opCtxById.put(c.span, c); () }

  // streaming micro-batch span ids, by (query id, batch id)
  private val batchSpan = new ConcurrentHashMap[(String, Long), Long]()
  private def batchSpanId(q: String, b: Long): Long =
    batchSpan.computeIfAbsent((q, b), _ => newId())
  // streaming query id -> the op context that started it
  private val queryCtx = new ConcurrentHashMap[String, OpCtx]()
  // job id -> (op ctx, job span id); stage id -> (op ctx, job span id)
  private val jobInfo = new ConcurrentHashMap[Int, (OpCtx, Long, Long, Long)]()
  private val stageInfo = new ConcurrentHashMap[Int, (OpCtx, Long)]()

  private def touch(): Unit = lastEvent.set(System.nanoTime())

  // listener events count only while recording: the output checks that
  // follow a traced phase run with the listeners still attached
  @volatile private var recording = true
  private var compilesAtStop = -1L

  /** End the traced phase: wait for the phase's events, then ignore the
    * rest.
    */
  def stop(): Unit = {
    settle()
    compilesAtStop = Tracer.compiles()
    recording = false
  }

  /** Block until the asynchronous listener bus has been quiet for a
    * while, so counters read afterwards include every event of the
    * phase.
    */
  def settle(quietMs: Long = 300L, maxMs: Long = 5000L): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEvent.get() < quietMs * 1000000L &&
        System.nanoTime() < deadline) Thread.sleep(25)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      touch()
      if (recording) ctxOf(e.properties).foreach { c =>
        val parent = Option(e.properties.getProperty("sql.streaming.queryId"))
          .flatMap(q => Option(e.properties.getProperty("streaming.sql.batchId"))
            .map(b => batchSpanId(q, b.toLong))).getOrElse(c.span)
        val jobSpan = newId()
        jobInfo.put(e.jobId, (c, jobSpan, parent, e.time))
        e.stageIds.foreach(s => stageInfo.putIfAbsent(s, (c, jobSpan)))
        layer(c.layer).jobs.increment()
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      touch()
      Option(jobInfo.remove(e.jobId)).foreach { case (c, jobSpan, parent, t0) =>
        spans.add(Span(jobSpan, parent, c.trace, "spark.job",
          t0 * 1000L, e.time * 1000L, Map("job" -> e.jobId)))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      touch()
      val si = e.stageInfo
      if (recording) Option(stageInfo.get(si.stageId)).foreach { case (c, jobSpan) =>
        layer(c.layer).stages.increment()
        for (s <- si.submissionTime; f <- si.completionTime)
          spans.add(Span(newId(), jobSpan, c.trace, "spark.stage",
            s * 1000L, f * 1000L,
            Map("stage" -> si.stageId, "tasks" -> si.numTasks)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      touch()
      if (recording) Option(stageInfo.get(e.stageId)).foreach { case (c, _) =>
        val l = layer(c.layer)
        l.tasks.increment()
        val m = e.taskMetrics
        if (m != null) {
          l.taskMs.add(m.executorRunTime)
          l.cpuNs.add(m.executorCpuTime)
          l.gcMs.add(m.jvmGCTime)
          l.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
          l.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
        taskIntervals.computeIfAbsent(c.span, _ => new ConcurrentLinkedQueue())
          .add((e.taskInfo.launchTime * 1000L, e.taskInfo.finishTime * 1000L))
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      touch()
      if (recording) {
        val ph = qe.tracker.phases
        ph.get("analysis").foreach(p => analysisMs.add(p.durationMs))
        ph.get("optimization").foreach(p => optimizeMs.add(p.durationMs))
        ph.get("planning").foreach(p => planningMs.add(p.durationMs))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = touch()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      // runs on the query's own thread, which inherited the op context
      Option(ctx.get()).foreach(c => queryCtx.put(e.id.toString, c))
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      touch()
      val p = e.progress
      if (recording) Option(queryCtx.get(p.id.toString)).foreach { c =>
        val l = layer(c.layer)
        def d(k: String): Long =
          Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val trig = d("triggerExecution")
        l.batches.increment()
        l.rowsIn.add(p.numInputRows)
        l.planMs.add(d("queryPlanning"))
        l.execMs.add(d("addBatch"))
        l.offsetsMs.add(d("latestOffset") + d("getBatch"))
        l.commitMs.add(d("walCommit") + d("commitOffsets"))
        p.stateOperators.foreach { s =>
          l.stateRowsMax.accumulateAndGet(s.numRowsTotal, math.max)
          l.stateBytesMax.accumulateAndGet(s.memoryUsedBytes, math.max)
          l.stateCommitMs.add(s.commitTimeMs)
          l.wmDropped.add(s.numRowsDroppedByWatermark)
        }
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L + trig * 1000L
        spans.add(Span(batchSpanId(p.id.toString, p.batchId), c.span, c.trace,
          "stream.batch", end - trig * 1000L, end,
          Map("layer" -> c.layer, "batch" -> p.batchId,
            "rows" -> p.numInputRows)))
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val compilesAt0 = Tracer.compiles()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def codegenCompiles: Long =
    (if (compilesAtStop >= 0) compilesAtStop else Tracer.compiles()) - compilesAt0
  /** Codegen keeps compile times only as a sampled histogram (ms), so
    * the phase total is estimated as compiles x the sampled mean.
    */
  def codegenCompileS: Double = codegenCompiles * Tracer.compileMeanMs() / 1000.0

  /** Length of the union of intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-operation scheduler idle time: the part of each operation's
    * wall time during which none of its tasks ran. Returns the sum.
    */
  def schedIdleUs(layerPrefix: String): Long =
    ops.asScala.filter(_._2.startsWith(layerPrefix)).map { case (id, _, s, e) =>
      val iv = Option(taskIntervals.get(id)).map(_.asScala.toSeq).getOrElse(Nil)
        .map { case (a, b) => (math.max(a, s), math.min(b, e)) }
        .filter { case (a, b) => b > a }
      (e - s) - covered(iv)
    }.sum

  /** Self time per span name: duration minus the union of its children. */
  def selfTimes(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val ch = kids.getOrElse(s.id, Nil).filter(_.id != s.id)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter { case (a, b) => b > a }
        (s.endUs - s.startUs - covered(ch)) / 1e6
      }.sum
    }
  }

  def spanLines(): Iterator[String] = spans.asScala.iterator.map { s =>
    Json.render(Json.obj("id" -> s.id, "parent" -> s.parent,
      "trace" -> s.trace, "name" -> s.name,
      "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs))
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  private def hist = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  def compiles(): Long = hist.getCount
  def compileMeanMs(): Double = hist.getSnapshot.getMean
}
