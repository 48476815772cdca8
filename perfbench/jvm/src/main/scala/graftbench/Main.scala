package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one operation hands back: units of work done (keys, rows,
  * events) and workload-specific details for the record. */
final case class Outcome(units: Long, extra: Map[String, Any] = Map.empty)

final case class OpRecord(index: Int, kind: String, startMs: Double, endMs: Double,
    traced: Boolean, ok: Boolean, error: String, units: Long, extra: Map[String, Any]) {
  def toMap: Map[String, Any] = Map("index" -> index, "kind" -> kind,
    "start_ms" -> startMs, "end_ms" -> endMs, "traced" -> traced, "ok" -> ok,
    "error" -> error, "units" -> units, "extra" -> extra)
}

/** Everything a workload needs from the driver. */
final class Ctx(val spark: SparkSession, val in: String, val out: String,
    val plan: com.fasterxml.jackson.databind.JsonNode, val tracer: Tracer) {
  val work: String = s"$out/work"
  /** How often a workload that compares like with like issues each planned
    * request: twice in a traced run (traced, then untraced), else once. */
  val replay: Int = if (tracer.enabled) 2 else 1
}

/** One client, closed loop: the next operation starts when the previous
  * one has returned. */
trait Workload {
  /** The initial store load; the driver runs it three times and reports the
    * median, so the last load is the one the timed phase uses. */
  def load(): Unit
  /** Untimed first use of the code paths the operations take, after the
    * loads. */
  def warmUp(): Unit
  def hasOp(i: Int): Boolean
  /** The timed phase ends only on a multiple of this many operations, so
    * every run holds whole rotations of a workload's operation kinds. */
  def cycle: Int = 1
  def kind(i: Int): String
  def op(i: Int): Outcome
  /** Bookkeeping after an operation, outside its latency (store scans). */
  def after(i: Int, ok: Boolean): Map[String, Any] = Map.empty
  /** Checks every output; returns failure reasons by operation index, and
    * adds anything an external oracle must compare to `pending`. */
  def check(records: Seq[OpRecord], pending: mutable.Buffer[Map[String, Any]]): Map[Int, String]
  /** Workload figures computed after the timed phase. */
  def summary(records: Seq[OpRecord]): Map[String, Any] = Map.empty
}

/** Benchmark driver: one workload, one seed's inputs, one JVM.
  *
  * Usage: Main --workload NAME --in DIR --out DIR --seconds S --trace 0|1
  * --cores N. Writes `result.json` under `--out`; the Python runner turns it
  * into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val in = a("in")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val clock = new Clock
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val tracer = new Tracer(spark, trace, clock)
    val progress =
      if (workload == "stream_ingest") Some(new StreamProgress(spark, tracer, clock)) else None
    val ctx = new Ctx(spark, in, out, Json.read(new File(in, "plan.json")), tracer)
    val wl: Workload = workload match {
      case "online_serving" => new OnlineServing(ctx)
      case "stream_ingest" => new StreamIngest(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    def timed(body: => Unit): Double = {
      val t0 = clock.nowMs; body; (clock.nowMs - t0) / 1000.0
    }
    val loadS = (1 to 3).map(_ => timed(wl.load()))
    val warmS = timed(wl.warmUp())

    val heap = new HeapWatch
    val heapStart = heap.liveMb()
    heap.start()
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val phaseStart = clock.nowMs
    val deadline = phaseStart + seconds * 1000.0
    var i = 0
    while ((clock.nowMs < deadline || i % wl.cycle != 0) && wl.hasOp(i)) {
      // a traced run alternates traced and untraced operations, so the
      // tracing overhead is measured inside the run
      val traced = trace && i % 2 == 0
      progress.foreach(_.currentOp = i)
      val t0 = clock.nowMs
      val result =
        try Right(tracer.op(i, wl.kind(i), traced)(wl.op(i)))
        catch { case NonFatal(e) => Left(e) }
      val t1 = clock.nowMs
      val extra = wl.after(i, result.isRight)
      records += (result match {
        case Right(o) => OpRecord(i, wl.kind(i), t0, t1, traced, ok = true, null, o.units, o.extra ++ extra)
        case Left(e) => OpRecord(i, wl.kind(i), t0, t1, traced, ok = false,
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500), 0L, extra)
      })
      i += 1
    }
    val phaseEnd = clock.nowMs
    heap.stop()
    val heapEnd = heap.liveMb()

    val pending = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = try wl.check(records.toSeq, pending) catch {
      case NonFatal(e) => Map(-1 -> s"check crashed: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val summary = try wl.summary(records.toSeq) catch {
      case NonFatal(e) => Map("summary_error" -> e.toString)
    }
    tracer.drain()
    progress.foreach(_.drain())
    val checked = records.map { r =>
      failures.get(r.index).filter(_ => r.ok)
        .map(reason => r.copy(ok = false, error = s"wrong output: $reason")).getOrElse(r)
    }

    val result = Map(
      "workload" -> workload,
      "trace" -> trace,
      "cores" -> cores,
      "host" -> Map(
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "spark" -> spark.version,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)),
      "setup" -> Map("session_s" -> sessionS, "warmup_s" -> warmS, "load_s" -> loadS),
      "phase" -> Map("start_ms" -> phaseStart, "end_ms" -> phaseEnd),
      "heap" -> Map("start_mb" -> heapStart, "end_mb" -> heapEnd, "gc_peak_mb" -> heap.peakMb),
      "ops" -> checked.map(_.toMap),
      "global_failures" -> failures.get(-1).toList,
      "pending_checks" -> pending,
      "summary" -> summary,
      "batches" -> progress.map(_.all).getOrElse(Nil)
    ) ++ tracer.dump()
    tracer.close()
    progress.foreach(_.close())
    val f = new File(out, "result.json")
    java.nio.file.Files.write(f.toPath, Json.write(result).getBytes("UTF-8"))
    spark.stop()
  }
}

/** Driver heap: live size after a forced full collection, and the largest
  * after-collection heap reported by any GC while watching. */
final class HeapWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  @volatile var peakMb: Double = 0.0
  @volatile private var watching = false
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (watching && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peakMb = math.max(peakMb, used / 1048576.0)
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  /** Heap in use after a full collection. Spark's ContextCleaner drops
    * broadcast and shuffle blocks only once their owners are collected, so
    * a second collection after it has run gives the settled live size. */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def start(): Unit = { watching = true; emitters.foreach(_.addNotificationListener(listener, null, null)) }
  def stop(): Unit = {
    watching = false
    emitters.foreach(e => try e.removeNotificationListener(listener) catch { case NonFatal(_) => })
  }
}
