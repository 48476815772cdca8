package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.contract._
import graft.core.FeatureType._
import graft.sources.BucketedLogUpsertSource
import graft.store.ContractStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

private object Io {
  def micros(us: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS))

  /** Regular files under `dir` with their sizes. */
  def files(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return Map.empty
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap
    finally s.close()
  }

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete(_: Path))
      finally s.close()
    }
  }

  /** Bytes of the parquet data files of `df` written once, as one file. */
  def parquetBytes(df: DataFrame, dir: String): Long = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    files(dir).collect { case (f, n) if f.endsWith(".parquet") => n }.sum
  }

  def writeJson(path: String, v: Any): Unit =
    Files.write(Paths.get(path), Json.write(v).getBytes("UTF-8"))
}

/** Online serving over a bucketed log (LSM) store: seeded small upserts
  * beside `onlineFeaturesFor` lookups, checked against a model of the
  * latest acknowledged write per key. The store keeps the library's default
  * fold cadence ([[graft.sources.GenLog.defaultAutoCompactEvery]]); the
  * warm-up appends generations until the timed phase's [[FoldAt]]-th upsert
  * is the one that reaches it, so every run times one fold at the same
  * point and the lookups before it read a store near its generation limit. */
final class OnlineServing(ctx: Ctx) extends Workload {
  import ctx._
  private val ops = plan.get("ops")
  private val keys = Seq("item_id")
  private val schema = StructType(Seq(StructField("item_id", LongType),
    StructField("ts", TimestampType), StructField("price", DoubleType),
    StructField("status", StringType)))
  private val keySchema = StructType(Seq(StructField("item_id", LongType)))
  private val refs = Seq("item_latest:price", "item_latest:status")
  private val WarmOps = 12
  private val FoldAt = 3
  private def bulk = spark.read.parquet(s"$in/bulk.parquet")
    .select(col("item_id"), timestamp_micros(col("ts_us")).as("ts"), col("price"), col("status"))

  private var path: String = _
  private var src: BucketedLogUpsertSource = _
  private var store: ContractStore = _
  private var loads = 0
  private lazy val bulkRows: Map[Long, Row] = bulk.collect().map(r => r.getLong(0) -> r).toMap
  // the latest acknowledged row per key
  private val model = mutable.HashMap.empty[Long, Row]
  private val upserted = mutable.ArrayBuffer.empty[Row]
  private val lookups = mutable.HashMap.empty[Int, (Seq[Long], Seq[Option[(Double, String)]], Array[Row])]
  private var seen = Map.empty[String, Long]
  private var createdBytes = 0L
  private var gens = 0

  private def open(dir: String): Unit = {
    path = dir
    src = BucketedLogUpsertSource(dir, keys, numBuckets = 16)
    store = new ContractStore().addView(FeatureView("item_latest", src,
      entities = Seq(Feature("item_id", FInt64)),
      features = Seq(Feature("price", FFloat64), Feature("status", FString)),
      eventTimestamp = Some(EventTimestamp("ts"))))
  }
  private def upsertDf(node: com.fasterxml.jackson.databind.JsonNode): (DataFrame, Seq[Row]) = {
    val rows = node.get("rows").elements().asScala.map { r =>
      Row(r.get(0).asLong, Io.micros(r.get(1).asLong), r.get(2).asDouble, r.get(3).asText)
    }.toSeq
    (spark.createDataFrame(rows.asJava, schema), rows)
  }
  private def lookupDf(ks: Seq[Long]): DataFrame =
    spark.createDataFrame(ks.map(k => Row(k)).asJava, keySchema)
  private def genCount: Int = Option(new java.io.File(path).list()).getOrElse(Array.empty[String])
    .count(_.startsWith("__gen="))

  def load(): Unit = {
    if (path != null) Io.delete(path)
    open(s"$work/store_$loads")
    loads += 1
    src.upsert(bulk, keys)
    model.clear(); model ++= bulkRows
  }

  /** Runs the plan's first [[WarmOps]] operations against the loaded store,
    * then appends the plan's prefill upserts until the store is [[FoldAt]]
    * generations short of its fold threshold (every write enters the model);
    * the timed phase continues after them. */
  def warmUp(): Unit = {
    (0 until WarmOps).foreach(i => timedOp(i, -1 - i))
    val prefill = plan.get("prefill").elements().asScala
    while (genCount < src.autoCompactEvery - FoldAt) {
      val (df, rows) = upsertDf(prefill.next())
      src.upsert(df, keys)
      rows.foreach(r => model(r.getLong(0)) = r)
    }
    lookups.clear()
    upserted.clear()
    seen = Io.files(path)
    gens = genCount
  }

  def hasOp(i: Int): Boolean = i + WarmOps < ops.size
  def kind(i: Int): String = ops.get(i + WarmOps).get("kind").asText

  def op(i: Int): Outcome = timedOp(i + WarmOps, i)

  private def timedOp(planIndex: Int, i: Int): Outcome = {
    val n = ops.get(planIndex)
    if (n.get("kind").asText == "upsert") {
      val (df, rows) = upsertDf(n)
      tracer.span("sources.upsert", "graft.sources")(src.upsert(df, keys))
      rows.foreach(r => model(r.getLong(0)) = r)
      upserted ++= rows
      Outcome(rows.size)
    } else {
      val ks = n.get("keys").elements().asScala.map(_.asLong).toSeq
      val expected = ks.map(k => model.get(k).map(r => (r.getDouble(2), r.getString(3))))
      val df = tracer.span("store.onlineFeaturesFor", "graft.store")(
        store.onlineFeaturesFor(spark, lookupDf(ks), refs))
      val got = tracer.span("action.collect", "action")(df.collect())
      lookups(i) = (ks, expected, got)
      Outcome(ks.size, Map("keys" -> ks.size))
    }
  }

  override def after(i: Int, ok: Boolean): Map[String, Any] = {
    val files = if (kind(i) == "upsert") {
      val now = Io.files(path)
      val fresh = now.filter { case (f, _) => !seen.contains(f) }
      createdBytes += fresh.values.sum
      seen = now
      val before = gens
      gens = genCount
      Map("created_bytes" -> fresh.values.sum, "files_created" -> fresh.size,
        "folded" -> (gens <= before))
    } else Map.empty[String, Any]
    files ++ Map("generations" -> gens,
      "store_files" -> seen.keysIterator.count(_.endsWith(".parquet")))
  }

  def check(records: Seq[OpRecord], pending: mutable.Buffer[Map[String, Any]]): Map[Int, String] =
    lookups.toSeq.flatMap { case (i, (ks, expected, got)) =>
      val byKey = got.map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getDouble(1), r.getString(2))))).toMap
      if (got.length != ks.size) Some(i -> s"${got.length} rows for ${ks.size} keys")
      else ks.zip(expected).collectFirst {
        case (k, e) if byKey.get(k) != Some(e) => i -> s"key $k: got ${byKey.get(k)}, expected $e"
      }
    }.toMap

  override def summary(records: Seq[OpRecord]): Map[String, Any] = {
    val storeBytes = Io.files(path).values.sum
    val writtenOnce =
      if (upserted.isEmpty) 0L
      else Io.parquetBytes(spark.createDataFrame(upserted.asJava, schema), s"$work/once_upserts")
    val liveOnce = Io.parquetBytes(
      spark.createDataFrame(model.values.toSeq.asJava, schema), s"$work/once_live")
    Map("created_bytes" -> createdBytes, "upserted_once_bytes" -> writtenOnce,
      "store_bytes" -> storeBytes, "live_once_bytes" -> liveOnce)
  }
}

/** Replays of a staged event backlog through the staged streaming gates,
  * rotating window aggregation, session aggregation and the outer
  * interval join. */
final class StreamIngest(ctx: Ctx) extends Workload {
  import ctx._
  import graft.streaming.Streaming
  private val runs = plan.get("runs")
  private val outputs = mutable.HashMap.empty[Int, Array[Row]]
  // the rotation of kinds, each with the registered query whose oracle SQL
  // checks its final store
  private val oracleName = Map(
    "window" -> "q165_streaming_window_store",
    "session" -> "q177_streaming_session_run",
    "outer_join" -> "q187_streaming_outer_join_run")

  private val streamSource = graft.sources.CustomSource(_.emptyDataFrame)
  private val streamContract = FeatureView("events_stream", streamSource,
    entities = Seq(Feature("event_type", FString)),
    features = Seq(Feature("value", FFloat64)),
    eventTimestamp = Some(EventTimestamp("ts")),
    mappingKeys = Map("evt_type" -> "event_type"))

  private def events(run: Int): DataFrame = spark.read.parquet(s"$in/events.parquet")
    .filter(col("run_id") === run)
    .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
      col("event_type"), col("value"))

  private def staged(kind: String, ev: DataFrame, chunks: Int, dir: String): DataFrame = kind match {
    case "window" =>
      // the q165 shape: the contract pipeline renames evt_type inside the
      // stream; the worker loads its contract from JSON, as from a registry
      val view = tracer.span("contract.ContractJson.roundTrip", "graft.contract")(
        ContractJson.fromJson(ContractJson.toJson(streamContract), Map(streamContract.name -> streamSource)))
      tracer.span("streaming.stagedWindowAggRun", "graft.streaming")(
        Streaming.stagedWindowAggRun(spark,
          ev.select(col("ts"), col("event_type").as("evt_type"), col("value").cast("string")),
          "ts", "event_type", "value", chunks = chunks, workDir = Some(dir),
          pipeline = Streaming.contractPipeline(view)))
    case "session" =>
      tracer.span("streaming.stagedSessionAggRun", "graft.streaming")(
        Streaming.stagedSessionAggRun(spark, ev.select("ts", "user_id", "value", "event_id"),
          tsCol = "ts", keyCol = "user_id", valueCol = "value", gap = "30 minutes",
          chunks = chunks, workDir = Some(dir)))
    case "outer_join" =>
      tracer.span("streaming.stagedOuterIntervalJoinRun", "graft.streaming")(
        Streaming.stagedOuterIntervalJoinRun(spark,
          ev.select("ts", "user_id", "event_type", "event_id"),
          tsCol = "ts", keys = Seq("user_id"), idCol = "event_id",
          leftPred = "event_type = 'click'", rightPred = "event_type = 'purchase'",
          after = "1 hour", chunks = chunks, workDir = Some(dir)))
  }

  /** Operation i replays planned run i / replay, so a traced run times every
    * run once traced and once untraced. */
  private def run(i: Int) = runs.get(i / replay % runs.size)

  def warmUp(): Unit = Seq("window", "session", "outer_join").foreach { k =>
    staged(k, events(0).limit(200), 1, s"$work/warm_$k").collect()
  }
  def load(): Unit = spark.read.parquet(s"$in/events.parquet").write.format("noop").mode("overwrite").save()
  def hasOp(i: Int): Boolean = true
  override def cycle: Int = oracleName.size * replay
  def kind(i: Int): String = run(i).get("kind").asText
  def op(i: Int): Outcome = {
    val r = run(i)
    val df = staged(r.get("kind").asText, events(r.get("run").asInt), r.get("chunks").asInt,
      s"$work/op_$i")
    outputs(i) = tracer.span("action.collect", "action")(df.collect())
    Outcome(r.get("events").asLong, Map("run" -> r.get("run").asInt, "chunks" -> r.get("chunks").asInt))
  }

  def check(records: Seq[OpRecord], pending: mutable.Buffer[Map[String, Any]]): Map[Int, String] = {
    outputs.foreach { case (i, rows) =>
      val r = run(i)
      val path = s"$out/check/stream_$i.json"
      Io.writeJson(path, Map("columns" -> (if (rows.isEmpty) Nil else rows.head.schema.fieldNames.toSeq),
        "rows" -> rows.toSeq))
      pending += Map("check" -> "stream_ingest", "op" -> i, "run" -> r.get("run").asInt,
        "path" -> path, "oracle" -> graft.SparkEntry.oracleSql(oracleName(r.get("kind").asText)))
    }
    Map.empty
  }
}
