package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are milliseconds since the run's clock origin. */
final case class Span(id: Long, parent: Long, op: Int, name: String, layer: String,
    startMs: Double, endMs: Double)

/** Span recorder plus the Spark listeners that attach engine work to spans.
  *
  * The client thread opens spans around each call into a layer; before each
  * call it sets the thread-local Spark property [[Tracer.SpanProp]] to the
  * span id, so every job the call launches (including the micro-batches of a
  * streaming query started inside it) carries the id. The listeners record
  * jobs, stages and per-stage task totals keyed by that id, and the SQL
  * metrics of every executed plan (`QueryExecutionListener`). Everything stays in memory until [[dump]].
  *
  * A disabled tracer registers no Spark listener at all; [[span]] then only
  * runs its body. Within an enabled tracer, [[op]] decides per operation
  * whether spans are recorded, so a traced run can alternate traced and
  * untraced operations and measure its own overhead. */
final class Tracer(spark: SparkSession, val enabled: Boolean, clock: Clock) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(1)
  private var stack: List[Long] = Nil
  private var opIndex = -1
  private var recording = false

  // listener-side state (listener bus thread)
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val accSpan = new ConcurrentHashMap[Long, Long]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  private val events = new AtomicLong(0)

  /** Run one client operation as a root span (request id = `index`). */
  def op[T](index: Int, kind: String, traced: Boolean)(body: => T): T = {
    opIndex = index
    recording = enabled && traced
    try span(kind, "op")(body)
    finally { recording = false; opIndex = -1 }
  }

  /** Time `body` as a child of the innermost open span. */
  def span[T](name: String, layer: String)(body: => T): T = {
    if (!recording) return body
    val id = nextId.getAndIncrement()
    val parent = stack.headOption.getOrElse(0L)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanProp)
    stack = id :: stack
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = clock.nowMs
    try body
    finally {
      val t1 = clock.nowMs
      stack = stack.tail
      sc.setLocalProperty(SpanProp, prevProp)
      spans.synchronized { spans += Span(id, parent, opIndex, name, layer, t0, t1) }
    }
  }

  /** The innermost open span, or 0 outside any traced operation. */
  def currentSpan: Long = if (recording) stack.headOption.getOrElse(0L) else 0L

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = spanOf(e.properties)
      if (span == 0L) return
      events.incrementAndGet()
      jobs.put(e.jobId, new JobRec(e.jobId, span, clock.epochToMs(e.time), e.stageIds))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) { events.incrementAndGet(); j.endMs = clock.epochToMs(e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (!stageJob.containsKey(i.stageId)) return
      events.incrementAndGet()
      val s = stages.computeIfAbsent(i.stageId, _ => new StageRec(i.stageId))
      s.synchronized {
        s.startMs = i.submissionTime.map(clock.epochToMs).getOrElse(Double.NaN)
        s.endMs = i.completionTime.map(clock.epochToMs).getOrElse(Double.NaN)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (!stageJob.containsKey(e.stageId) || e.taskMetrics == null) return
      events.incrementAndGet()
      val m = e.taskMetrics
      val info = e.taskInfo
      val s = stages.computeIfAbsent(e.stageId, _ => new StageRec(e.stageId))
      val span = jobs.get(stageJob.get(e.stageId)).span
      info.accumulables.foreach(a => accSpan.putIfAbsent(a.id, span))
      val run = m.executorRunTime.toDouble
      val delay = math.max(0.0, (info.finishTime - info.launchTime).toDouble - run -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      val empty = m.inputMetrics.recordsRead == 0 && m.outputMetrics.recordsWritten == 0 &&
        m.shuffleReadMetrics.recordsRead == 0 && m.shuffleWriteMetrics.recordsWritten == 0
      s.synchronized {
        s.tasks += 1
        if (empty) s.emptyTasks += 1
        s.runMs += run
        s.cpuMs += m.executorCpuTime / 1e6
        s.gcMs += m.jvmGCTime
        s.waitMs += delay
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spillDisk += m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet()
      val rec = new PlanRec
      walk(qe.executedPlan, rec)
      plans.add(rec)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Per-node SQL metrics of the final (post-AQE) plan. Reused exchanges
    * are skipped so a broadcast or shuffle counts once per build. */
  private def walk(p: SparkPlan, rec: PlanRec): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, rec)
    case q: QueryStageExec => walk(q.plan, rec)
    case _: ReusedExchangeExec => ()
    case node =>
      def m(k: String): Long = node.metrics.get(k).map(_.value).getOrElse(0L)
      rec.accIds ++= node.metrics.values.map(_.id)
      node.nodeName match {
        case n if n.startsWith("Scan") || n.startsWith("FileScan") =>
          rec.scanMs += m("scanTime"); rec.filesRead += m("numFiles")
        case "Sort" => rec.sortMs += m("sortTime"); rec.spill += m("spillSize")
        case "HashAggregate" | "ObjectHashAggregate" | "SortAggregate" =>
          rec.aggMs += m("aggTime"); rec.spill += m("spillSize")
        case _ =>
      }
      node match {
        case _: SortMergeJoinExec => rec.smj += 1
        case _: BroadcastHashJoinExec => rec.bhj += 1
        case _: ShuffleExchangeExec => rec.shuffleWrite += m("shuffleBytesWritten")
        case _: BroadcastExchangeExec =>
          rec.broadcasts += 1; rec.broadcastMs += m("buildTime"); rec.broadcastBytes += m("dataSize")
        case _ =>
      }
      node.children.foreach(walk(_, rec))
      node.subqueries.foreach(walk(_, rec))
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def drain(): Unit = if (enabled) Quiet.await(events.get())

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  def dump(): Map[String, Any] = Map(
    "spans" -> spans.synchronized(spans.toList).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
    "jobs" -> jobs.values.asScala.toList.sortBy(_.id).map(j => Map(
      "id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "stages" -> j.stageIds.toList)),
    "stages" -> stages.values.asScala.toList.sortBy(_.id).map(s => s.synchronized(Map(
      "id" -> s.id, "job" -> stageJob.get(s.id), "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "tasks" -> s.tasks, "empty_tasks" -> s.emptyTasks, "run_ms" -> s.runMs,
      "cpu_ms" -> s.cpuMs, "gc_ms" -> s.gcMs, "wait_ms" -> s.waitMs,
      "shuffle_read_bytes" -> s.shuffleRead, "shuffle_write_bytes" -> s.shuffleWrite,
      "spill_disk_bytes" -> s.spillDisk))),
    "plans" -> plans.asScala.toList.flatMap { p =>
      p.accIds.iterator.map(accSpan.getOrDefault(_, 0L)).find(_ != 0L).map(span => Map(
        "span" -> span, "scan_ms" -> p.scanMs, "files_read" -> p.filesRead,
        "sort_ms" -> p.sortMs, "agg_build_ms" -> p.aggMs, "spill_bytes" -> p.spill,
        "smj_joins" -> p.smj, "bhj_joins" -> p.bhj, "shuffle_write_bytes" -> p.shuffleWrite,
        "broadcast_builds" -> p.broadcasts, "broadcast_build_ms" -> p.broadcastMs,
        "broadcast_bytes" -> p.broadcastBytes))
    })
}

object Tracer {
  val SpanProp = "graftbench.span"

  final class JobRec(val id: Int, val span: Long, val startMs: Double, val stageIds: Seq[Int]) {
    @volatile var endMs: Double = Double.NaN
  }
  final class StageRec(val id: Int) {
    var startMs, endMs = Double.NaN
    var tasks, emptyTasks = 0L
    var runMs, cpuMs, gcMs, waitMs = 0.0
    var shuffleRead, shuffleWrite, spillDisk = 0L
  }
  /** SQL metrics of one executed plan. The plan is attributed to a span
    * through its metric accumulators: task-end events of traced jobs report
    * the accumulator ids they updated. */
  final class PlanRec {
    val accIds = mutable.ArrayBuffer.empty[Long]
    var scanMs, filesRead, sortMs, aggMs, spill, smj, bhj, shuffleWrite = 0L
    var broadcasts, broadcastMs, broadcastBytes = 0L
  }
}

/** Micro-batch progress of every streaming query, keyed by the operation
  * that started it. `onQueryStarted` runs synchronously on the thread that
  * calls `start()`, so the client's current operation (and span) is read
  * there; progress events arrive later on the listener bus. */
final class StreamProgress(spark: SparkSession, tracer: Tracer, clock: Clock) {
  @volatile var currentOp: Int = -1
  private val runOwner = new ConcurrentHashMap[java.util.UUID, (Int, Long)]()
  private val batches = java.util.Collections.synchronizedList(
    new java.util.ArrayList[Map[String, Any]]())

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      runOwner.put(e.runId, (currentOp, tracer.currentSpan))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val (op, span) = Option(runOwner.get(p.runId)).getOrElse((-1, 0L))
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val state = p.stateOperators.toSeq
      val endMs = clock.epochToMs(java.time.Instant.parse(p.timestamp).toEpochMilli) +
        d.getOrElse("triggerExecution", 0L)
      batches.add(Map(
        "op" -> op, "span" -> span, "batch" -> p.batchId, "end_ms" -> endMs,
        "input_rows" -> p.numInputRows,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "query_planning_ms" -> d.getOrElse("queryPlanning", 0L),
        "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
        "commit_offsets_ms" -> d.getOrElse("commitOffsets", 0L),
        "latest_offset_ms" -> d.getOrElse("latestOffset", 0L),
        "state_rows" -> state.map(_.numRowsTotal).sum,
        "state_memory_bytes" -> state.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> state.map(_.commitTimeMs).sum,
        "late_rows_dropped" -> state.map(_.numRowsDroppedByWatermark).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  spark.streams.addListener(listener)

  def drain(): Unit = Quiet.await(batches.size.toLong)
  def all: List[Map[String, Any]] = batches.synchronized(batches.asScala.toList)
  def close(): Unit = spark.streams.removeListener(listener)
}

/** Listener buses deliver asynchronously: wait until a listener's event
  * counter has not moved for three 100 ms polls. */
private object Quiet {
  def await(counter: => Long): Unit = {
    var last = -1L
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(100)
      val now = counter
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }
}

/** The run's clock: milliseconds since the driver's origin, for both
  * `System.nanoTime` readings and the epoch-millisecond event times Spark
  * listeners report. */
final class Clock {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - nano0) / 1e6
  def epochToMs(epochMs: Long): Double = (epochMs - epoch0).toDouble
}
