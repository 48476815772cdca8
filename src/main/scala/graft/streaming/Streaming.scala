package graft.streaming

import graft.contract._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming worker — the analog of the reference's StreamWorker
  * (aligned/worker.py:150-260). The reference hand-rolls sliding-window state
  * with parquet checkpoint files per AggregateOver
  * (StreamAggregationJob, retrieval_job.py:2541-2650); Structured Streaming
  * replaces that with watermarked windowed aggregation + built-in state-store
  * checkpointing, which is incremental instead of recompute-from-file
  * (SURVEY §2.9 — the late-data cutoff becomes the watermark).
  */
object Streaming {

  /** Kafka topic config (reference: sources/kafka.py:15): value is JSON. */
  final case class KafkaTopic(bootstrap: String, topic: String)

  /** readStream for a Kafka JSON topic decoded to `schema` (the reference's
    * JSON record coder, schemas/record_coders.py). */
  def kafkaJsonStream(spark: SparkSession, t: KafkaTopic, schema: StructType): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", t.bootstrap)
      .option("subscribe", t.topic)
      .load()
      .select(from_json(col("value").cast("string"), schema).as("r"))
      .select("r.*")

  /** File-based stream (used by tests: a parquet dir driven synchronously). */
  def fileStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** STREAM-STREAM interval join: two live streams equi-joined on entity
    * keys with the right event constrained to a time window around the left
    * event (`[leftTs - before, leftTs + after]`). Both sides carry
    * watermarks, and the time bound is what lets Spark EVICT buffered state:
    * without it a stream-stream join must retain every row forever. The
    * streaming analog of the batch as-of/PIT family for enriching one event
    * stream with another (click ⋈ purchase attribution, impression ⋈
    * conversion). `leftTs`/`rightTs` must be distinct column names. */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, before: String, after: String,
      lateness: String = "10 minutes", joinType: String = "inner"): DataFrame = {
    require(leftTs != rightTs, "rename one side: leftTs and rightTs must differ")
    val l = left.withWatermark(leftTs, lateness)
    // rename the right side's key copies BEFORE the join: the output must
    // keep exactly l's keys (on an unmatched left under an outer join,
    // r's copies are null), and a post-join drop-by-reference is not
    // reliable through the streaming join's plan rewrite — renamed inputs
    // leave nothing to disambiguate
    val r = keys.foldLeft(right.withWatermark(rightTs, lateness))(
      (df, k) => df.withColumnRenamed(k, "__r_" + k))
    // qualify the time bounds through each side — bare col() refs are
    // AMBIGUOUS_REFERENCE when both streams carry both timestamp column
    // names (e.g. pre-enriched events)
    val cond = keys.map(k => l(k) === r("__r_" + k)).reduce(_ && _) &&
      r(rightTs) >= l(leftTs) - expr(s"INTERVAL $before") &&
      r(rightTs) <= l(leftTs) + expr(s"INTERVAL $after")
    keys.foldLeft(l.join(r, cond, joinType))((df, k) => df.drop("__r_" + k))
  }

  /** Streaming exact dedup with BOUNDED state: keep the first row per key,
    * dropping repeats that arrive within the watermark delay; key state is
    * evicted once the watermark passes it, so state size tracks the delay
    * window instead of the stream's lifetime (dropDuplicates without a
    * watermark grows forever — the classic streaming-dedup OOM). The
    * streaming face of [[graft.ops.Dedup.exact]] for at-least-once sources. */
  def dedupStream(stream: DataFrame, keys: Seq[String], ts: String,
      delay: String = "10 minutes"): DataFrame =
    stream.withWatermark(ts, delay).dropDuplicatesWithinWatermark(keys)

  /** The per-batch contract pipeline (worker.py:172-204): rename → fill
    * missing → ensure types → derive. The same code path as batch: it is
    * [[graft.contract.FeatureView.conform]], the chain every batch read,
    * online lookup and SQL write of the view runs. */
  def contractPipeline(view: FeatureView)(df: DataFrame): DataFrame = view.conform(df)

  /** Watermarked sliding-window aggregation (replaces StreamAggregationJob's
    * checkpoint-file recompute, retrieval_job.py:2541-2650). */
  def windowedAggregate(
      stream: DataFrame, view: FeatureView,
      lateness: String = "10 minutes"): DataFrame = {
    val ts = view.eventTimestamp.map(_.name)
      .getOrElse(throw new IllegalStateException("stream aggregation needs an event timestamp"))
    val keys = view.entities.map(_.name)
    val byWindow = view.aggregates.filter(_.window.isDefined).groupBy(_.window.get)
    require(byWindow.size == 1, "one window per streaming aggregate query")
    val (w, aggs) = byWindow.head
    val every = w.everyInterval.getOrElse(w.window)
    val exprs = aggs.map(a => a.agg(col(a.sourceColumn)).as(a.name))
    stream.withWatermark(ts, lateness)
      .groupBy(window(col(ts), s"${w.window.getSeconds} seconds", s"${every.getSeconds} seconds")
        +: keys.map(col): _*)
      .agg(exprs.head, exprs.tail: _*)
  }

  /** STREAMING histogram sketches: per (watermarked time window, keys, bin)
    * counts — the incremental producer of the mergeable sketch family
    * ([[graft.ops.Aggregations.histSketch]]): window sketches land in a
    * store and [[graft.ops.Aggregations.histRollup]] merges hours → days →
    * months without ever touching raw events again, and
    * [[graft.ops.Aggregations.histQuantile]] answers quantiles from any
    * merged level. State per key is O(occupied bins), bounded by the
    * watermark. */
  def histSketchStream(stream: DataFrame, keys: Seq[String], valueCol: String,
      binWidth: Double, tsCol: String, windowDur: String,
      lateness: String = "10 minutes"): DataFrame = {
    require(binWidth > 0, "binWidth > 0")
    stream.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDur) +: keys.map(col) :+
        floor(col(valueCol).cast("double") / binWidth).cast("long").as("bin"): _*)
      .agg(count(col(valueCol)).as("n"))
  }

  /** Session-window aggregation (gap-based): the streaming-native analog of
    * batch sessionization — `session_window(ts, gap)` with a watermark keeps
    * per-key session state incrementally. (The reference has no session
    * windows; Spark provides them natively — SURVEY §2.9.) */
  def sessionAggregate(
      stream: DataFrame, view: FeatureView, gap: String,
      lateness: String = "10 minutes"): DataFrame = {
    val ts = view.eventTimestamp.map(_.name)
      .getOrElse(throw new IllegalStateException("session aggregation needs an event timestamp"))
    val keys = view.entities.map(_.name)
    val aggs = view.aggregates
    require(aggs.nonEmpty, "declare at least one aggregate")
    val exprs = aggs.map(a => a.agg(col(a.sourceColumn)).as(a.name))
    stream.withWatermark(ts, lateness)
      .groupBy(session_window(col(ts), gap) +: keys.map(col): _*)
      .agg(exprs.head, exprs.tail: _*)
  }

  /** Custom keyed state via flatMapGroupsWithState (SURVEY §2.9): per-entity
    * LATEST-row changelog — the online feature-store semantic the reference
    * maintains by upserting each batch into Redis/file stores
    * (sources/redis.py:225-307). State per key is exactly one row (the
    * current latest by event time); a micro-batch emits a key's row only
    * when its latest value ADVANCES, so downstream sinks receive a compacted
    * update stream instead of every raw event. Null timestamps never win.
    * Run the query in Update output mode. */
  def statefulLatest(stream: DataFrame, keys: Seq[String], ts: String,
      tieCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val schema = stream.schema
    val tsIdx = schema.fieldIndex(ts)
    // optional NUMERIC tiebreak (e.g. an event id): equal-ts rows otherwise
    // resolve by arrival order — nondeterministic across retries/plans.
    // With a tie column the winner is the max (ts, tie) pair, reproducible
    // and restatable as a row_number-over-(ts DESC, tie DESC) oracle (q167).
    val tieIdx = tieCol.map(schema.fieldIndex)
    tieIdx.foreach(i => require(
      schema(i).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"statefulLatest tieCol '${tieCol.get}' must be numeric, got " +
        s"${schema(i).dataType} — a non-numeric tie would fail mid-stream " +
        "inside the state function instead of here"))
    implicit val rowEnc = Encoders.row(schema)
    def tsOf(r: Row): Long =
      if (r.isNullAt(tsIdx)) Long.MinValue else r.getTimestamp(tsIdx).getTime
    def ordOf(r: Row): (Long, Long) = (tsOf(r),
      tieIdx.fold(0L)(i => if (r.isNullAt(i)) Long.MinValue
        else r.getAs[Number](i).longValue))
    val ord = Ordering.Tuple2[Long, Long]
    stream
      .groupByKey(r => keys.map(k => String.valueOf(r.getAs[Any](k))).mkString("\u0001"))(
        Encoders.STRING)
      .flatMapGroupsWithState[Row, Row](OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row], state: GroupState[Row]) =>
          val newest = rows.maxBy(ordOf)(ord)
          val current = state.getOption
          if (current.forall(c => ord.gt(ordOf(newest), ordOf(c)))) {
            state.update(newest); Iterator.single(newest)
          } else Iterator.empty
      }
  }

  /** STREAMING event transitions — the incremental producer of
    * [[graft.ops.EventAnalytics.transitions]]' Markov counts: per-key state
    * is the latest (ts, type) seen; each micro-batch emits the (from_type,
    * to_type) adjacencies its events complete, in event-time order, with
    * late events (older than the state) dropped. Downstream, a simple
    * groupBy count over the emitted pairs IS the transition matrix — state
    * per key is one row, like [[statefulLatest]]. Input needs (keys…, ts,
    * typeCol); output (from_type, to_type).
    *
    * Key encoding caveats (shared with [[statefulLatest]]): parts join on
    * U+0001, so a key VALUE containing that control char can collide, and changing the
    * encoding orphans per-key state in existing checkpoints — restart from
    * a fresh checkpoint directory after any key-format change. */
  def transitionsStream(stream: DataFrame, keys: Seq[String], ts: String,
      typeCol: String, tieCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val schema = stream.schema
    val tsIdx = schema.fieldIndex(ts)
    val typeIdx = schema.fieldIndex(typeCol)
    val tieIdx = tieCol.map(schema.fieldIndex)
    implicit val pairEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    implicit val stateEnc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.STRING)
    implicit val rowEnc = Encoders.row(schema)
    def tsOf(r: Row): Long =
      if (r.isNullAt(tsIdx)) Long.MinValue else r.getTimestamp(tsIdx).getTime
    // tie values compare on their STRING form (the state needs a fixed
    // encoder type) — exact parity with the batch
    // [[graft.ops.EventAnalytics.transitions]] tie-break when tieCol is a
    // string or its string order matches its native order (zero-pad numeric
    // ids upstream). Without a tieCol, equal-ts events never advance the
    // chain (the previous behavior, kept as the default).
    def tieOf(r: Row): String =
      tieIdx.map(i => if (r.isNullAt(i)) "" else String.valueOf(r.getAs[Any](i))).getOrElse("")
    def advances(prev: (Long, String, String), t: Long, tie: String): Boolean =
      prev._1 < t || (tieIdx.isDefined && prev._1 == t && prev._2 < tie)
    stream
      .groupByKey(r => keys.map(k => String.valueOf(r.getAs[Any](k))).mkString("\u0001"))(
        Encoders.STRING)
      .flatMapGroupsWithState[(Long, String, String), (String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row], state: GroupState[(Long, String, String)]) =>
          val ordered = rows.toSeq.sortBy(r => (tsOf(r), tieOf(r)))
          var prev = state.getOption
          val out = Seq.newBuilder[(String, String)]
          ordered.foreach { r =>
            val t = tsOf(r)
            val tie = tieOf(r)
            // late events (older than the state, or equal-ts losers of the
            // tie order) never rewind the chain
            if (prev.forall(advances(_, t, tie))) {
              prev.foreach(p => out += ((p._3, r.getString(typeIdx))))
              prev = Some((t, tie, r.getString(typeIdx)))
            }
          }
          prev.foreach(state.update)
          out.result().iterator
      }
      .toDF("from_type", "to_type")
  }

  /** Event trigger (schemas/event_trigger.py:20-97; ListenForTriggers,
    * retrieval_job.py:3227-3265): emit rows matching a predicate to a side
    * sink from within foreachBatch. */
  final case class EventTrigger(condition: Column, sink: DataFrame => Unit)

  /** Run a stream through the contract pipeline into an online sink, firing
    * triggers per micro-batch (worker.py:212-260 in Structured-Streaming
    * form). Each micro-batch conforms through the same code path as a batch
    * read ([[graft.contract.FeatureView.conform]]). Sink writes are
    * per-batch upserts on the entity keys — the foreachBatch online-store
    * shape. */
  def runWorker(
      stream: DataFrame, view: FeatureView,
      sink: (DataFrame, Long) => Unit,
      triggers: Seq[EventTrigger] = Nil,
      checkpointDir: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    val pipeline = view.conform(stream)
    var writer: DataStreamWriter[org.apache.spark.sql.Row] = pipeline.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val cached = batch.persist()
        try {
          triggers.foreach(t => t.sink(cached.filter(t.condition)))
          sink(cached, id)
        } finally { cached.unpersist(); () }
      }
    checkpointDir.foreach(d => writer = writer.option("checkpointLocation", d))
    writer.start()
  }

  /** State for one MinHash LSH bucket of [[nearDupStream]]: the most recent
    * `maxPerBucket` (doc id, signature) entries seen in the bucket. */
  final case class BucketState(entries: Seq[(Long, Seq[Long])])

  /** STREAMING INCREMENTAL NEAR-DUP — the streaming face of
    * [[graft.ops.Dedup.nearDuplicates]]: dedup a live document stream (a
    * crawl, an ingest queue) against everything already seen, without
    * re-scanning the corpus. Each arriving document is minhash-signed and
    * exploded to its LSH band buckets (the same banding as the batch
    * operator); per-bucket keyed state retains the last `maxPerBucket`
    * (id, signature) entries, and a new document emits (id_seen, id_new,
    * est_jaccard) for every stored OR same-batch neighbor whose
    * signature-agreement fraction reaches `threshold` (the
    * [[graft.ops.Dedup.minhashJaccardEstimate]] estimator — no text is
    * retained in state, only the numHashes-long signature).
    *
    * Scale/state contract: state is O(buckets × maxPerBucket ×
    * numHashes·8B) and NEVER grows with stream lifetime — a hot bucket
    * evicts oldest-first, trading recall against the unbounded-state OOM
    * that a faithful forever-index would hit (the classic streaming-dedup
    * failure). A pair sharing several bands is emitted once per shared
    * band and batch — downstream consumers dedup by (id_a, id_b), which
    * is one `dropDuplicates` in the sink (documented, spec-gated).
    * Run in Append output mode. Requires a numeric (castable-to-long) id.
    *
    * `portable = true` switches the signature to the cross-engine
    * deterministic family ([[graft.ops.Dedup.portableCoeffs]], numHashes
    * is then fixed to the coefficient count and zero-shingle docs drop,
    * exactly like the batch [[graft.ops.Dedup.nearDupByEstimate]]) — the
    * oracle-gated configuration (q172). `evictions` counts entries pushed
    * out of full buckets; the staged runtime gate requires it to stay 0,
    * since eviction is precisely where the streamed result can diverge
    * from the batch restatement. */
  def nearDupStream(stream: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5, numHashes: Int = -1, bands: Int = 8,
      k: Int = 3, maxPerBucket: Int = 64, portable: Boolean = false,
      evictions: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // numHashes = -1 means "auto": 32 for the fast family, the portable
    // coefficient count for portable. The portable family's hash count is
    // NOT tunable (the coefficients are a fixed cross-engine table), so an
    // explicit numHashes there is a caller error — fail loudly rather than
    // silently running with a different count than asked.
    require(!portable || numHashes == -1,
      s"portable = true fixes the hash count to portableCoeffs.size" +
        s" (${graft.ops.Dedup.portableCoeffs.size}); leave numHashes unset")
    val nH = if (portable) graft.ops.Dedup.portableCoeffs.size
             else if (numHashes == -1) 32 else numHashes
    require(nH % bands == 0,
      s"bands ($bands) must divide the hash count ($nH" +
        (if (portable) " = portableCoeffs.size)" else ")"))
    val rowsPerBand = nH / bands
    val spark = stream.sparkSession
    import spark.implicits._
    val sig =
      if (portable) stream
        .select(col(idCol).cast("long").as("id"),
          graft.ops.Dedup.portableShingleHashes(col(textCol), k).as("__sh"))
        .filter(size(col("__sh")) > 0)
        .select(col("id"),
          graft.ops.Dedup.minhashSignaturePortable(col("__sh")).as("sig"))
      else stream
        .select(col(idCol).cast("long").as("id"),
          graft.ops.Dedup.hashedShingles(col(textCol), k).as("__sh"))
        .select(col("id"),
          graft.ops.Dedup.minhashSignatureFast(col("__sh"), nH).as("sig"))
    val banded = sig.select(col("id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws(",",
            slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))), b))))
      .select(concat_ws(":", col("pos"), col("col")).as("bkey"),
        col("id"), col("sig"))
      .as[(String, Long, Seq[Long])]
    def agree(a: Seq[Long], b: Seq[Long]): Double = {
      var n = 0; var i = 0
      while (i < a.length) { if (a(i) == b(i)) n += 1; i += 1 }
      n.toDouble / a.length
    }
    banded.groupByKey(_._1)
      .flatMapGroupsWithState[BucketState, (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(String, Long, Seq[Long])],
            state: GroupState[BucketState]) =>
          var entries = state.getOption.map(_.entries).getOrElse(Seq.empty)
          val out = Seq.newBuilder[(Long, Long, Double)]
          // id-sorted batch arrival: same-batch pairs emit deterministically
          rows.toSeq.sortBy(_._2).foreach { case (_, id, sg) =>
            entries.foreach { case (pid, psig) =>
              if (pid != id) {
                val est = agree(psig, sg)
                if (est >= threshold)
                  out += ((math.min(pid, id), math.max(pid, id), est))
              }
            }
            entries = entries :+ (id -> sg)
            if (entries.size > maxPerBucket) {
              evictions.foreach(_.add(entries.size - maxPerBucket))
              entries = entries.takeRight(maxPerBucket)
            }
          }
          state.update(BucketState(entries))
          out.result().iterator
      }
      .toDF("id_a", "id_b", "est_jaccard")
  }

  /** EXACTLY-ONCE sink wrapper for foreachBatch: Structured Streaming
    * re-delivers a whole micro-batch after a crash between sink write and
    * checkpoint commit (at-least-once), so a non-idempotent sink double
    * writes. This wrapper keeps a commit log of applied batch ids next to
    * the sink data; a re-delivered id is skipped, and the log is written
    * AFTER the sink call so a crash in between re-runs the batch (the sink
    * itself must be atomic per batch — upsert-by-key is). The standard
    * batchId-dedup recipe for non-transactional stores. */
  def idempotentBatchSink(sink: (DataFrame, Long) => Unit, commitLogDir: String,
      retainMarks: Int = 100)(
      implicit spark: SparkSession): (DataFrame, Long) => Unit = {
    val logDir = new org.apache.hadoop.fs.Path(commitLogDir)
    // the log dir's own filesystem, not the default one (s3a vs hdfs)
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (batch: DataFrame, id: Long) => {
      val mark = new org.apache.hadoop.fs.Path(logDir, s"batch-$id")
      if (!fs.exists(mark)) {
        sink(batch, id)
        fs.create(mark, true).close() // commit AFTER the write: redo, never skip
        // sliding retention: ids are monotonic and only recent batches can
        // re-deliver, so one targeted delete per commit bounds the log
        // instead of accreting a marker file per micro-batch forever
        if (id >= retainMarks)
          fs.delete(new org.apache.hadoop.fs.Path(logDir, s"batch-${id - retainMarks}"), false)
      } else {
        // a redelivered batch (crash recovery replays the torn batch with
        // the same id) skips the SINK EFFECT only — the batch must still
        // MATERIALIZE: Spark 4 validates that every micro-batch commits
        // its state stores, and those commits ride the batch's job
        // (q212b fails StateStoreCommitValidationFailed without this)
        batch.count(): Unit
      }
    }
  }

  // ---- runtime-gate harness (q165/q167): TEST staging + store run ----

  /** Stage `df` as a time-ordered multi-file parquet stream dir — the TEST
    * harness half of the runtime gates (a real deployment's stream arrives
    * time-ordered from the broker). Global sort with full-column tiebreak
    * keeps the split deterministic; chunk k+1's earliest ts ≥ chunk k's
    * latest, so a watermark advancing between micro-batches never
    * overtakes incoming data; ascending mtimes pin the file-source
    * processing order. */
  private def stageChunks(df: DataFrame, tsCol: String, chunks: Int,
      work: java.nio.file.Path): Unit = {
    import org.apache.spark.sql.expressions.Window
    val inDir = work.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    // localCheckpoint: each chunk filter re-reads the sorted frame instead
    // of re-running the sort per chunk
    val ranked = df.withColumn("__rn", row_number().over(
      Window.orderBy(col(tsCol) +: df.columns.filterNot(_ == tsCol).map(col): _*)))
      .localCheckpoint()
    val n = ranked.count()
    val c = math.max(1L, math.min(chunks.toLong, n)).toInt
    val stage = work.resolve("stage_all")
    // ONE partitioned write stages every chunk (optimization r15) — the
    // former per-chunk filter+coalesce(1) writes paid one full job per
    // chunk (3-8 jobs per gate). chunk(rn) inverts the old per-chunk rank
    // bounds lo=k*n/c+1, hi=(k+1)*n/c exactly: k = (rn*c - 1) DIV n.
    // repartition on __chunk puts each chunk's rows in one task (one file
    // per chunk, as before) and the within-partition sort on __rn keeps
    // every chunk file's row order IDENTICAL to the old staged output.
    if (n == 0L)
      // partitionBy writes no files for an empty frame — stage the single
      // empty chunk the old per-chunk loop produced
      ranked.drop("__rn").coalesce(1).write.mode("overwrite").parquet(stage.toString)
    else
      ranked.withColumn("__chunk",
          expr(s"CAST((CAST(__rn AS BIGINT) * ${c}L - 1L) DIV ${n}L AS INT)"))
        .repartition(c, col("__chunk"))
        .sortWithinPartitions(col("__chunk"), col("__rn"))
        .drop("__rn")
        .write.mode("overwrite").partitionBy("__chunk").parquet(stage.toString)
    for (k <- 0 until c) {
      val chunkDir = if (n == 0L) stage.toFile else stage.resolve(s"__chunk=$k").toFile
      val parts = Option(chunkDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      val part = parts match {
        case Array(p) => p
        case _ => throw new IllegalStateException(
          s"expected exactly one staged part file in $chunkDir, found ${parts.length}")
      }
      val target = inDir.resolve(f"chunk_$k%03d.parquet")
      java.nio.file.Files.move(part.toPath, target)
      target.toFile.setLastModified(System.currentTimeMillis() + k * 2000L)
    }
    ranked.unpersist(blocking = false) // staged to disk; release the checkpoint blocks
  }

  /** Handle the shared harness of one staged runtime gate hands its body:
    * the work dir, the staged file-stream source (one micro-batch per
    * chunk, so state genuinely carries across batches) and the store sink
    * at the gate's `width` (SPARK_GRAFT_GATE_WIDTH, parsed once per gate). */
  private final class StagedGate(val work: java.nio.file.Path,
      spark: SparkSession, schema: org.apache.spark.sql.types.StructType, width: Int) {
    def source: DataFrame = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(work.resolve("in").toString)

    /** Sink-side batch narrowing: one task at the deterministic width-1 gate
      * (tiny store, task constants dominate), untouched at scale widths where
      * a batch is corpus-shaped and coalesce(1) would single-thread the whole
      * upsert chain. */
    def narrow(df: DataFrame): DataFrame = if (width == 1) df.coalesce(1) else df

    /** The gate's store sink: each micro-batch's `project`ed rows, [[narrow]]ed,
      * upsert into `store` on `keys` through [[idempotentBatchSink]], whose
      * commit log lives in the work dir. */
    def upsertSink(store: graft.sources.WritableSource, keys: Seq[String],
        project: DataFrame => DataFrame = identity): (DataFrame, Long) => Unit =
      idempotentBatchSink({ (batch, _) =>
        // ONE action per micro-batch (optimization r15): the former
        // persist + isEmpty probe ran a whole extra job per batch — and the
        // probe's executeTake(1) re-computed the full stateful pipeline, so
        // it COST more than the upsert it guarded (per-batch timing
        // decomposition: isEmpty 0.15-1.3 s/batch vs upsert 0.11-0.38 s).
        // Empty watermark-finalize batches are NO-OPS on the log stores
        // (GenLog.resolveEmptyGen: the empty generation is dropped and its
        // claim released — unless it is the store's FIRST generation, kept
        // as the schema donor), so they neither advance the log nor pull
        // the O(tail) auto-compaction forward, and the final read is
        // unchanged.
        store.upsert(narrow(project(batch)), keys)
      }, work.resolve("commitlog").toString)(spark)
  }

  /** The staged gates' online store: a [[graft.sources.LogUpsertSource]] —
    * each micro-batch APPENDS under a new generation and the final read
    * resolves keys to their latest emission. Chosen by measurement
    * (SCALE.md round 14, VERDICT r13 #1): the plain ParquetSource store
    * paid a full anti-join + rewrite per batch (O(store), ~O(store²/batch)
    * per run once the store grows with the corpus); the hash-bucketed
    * store cut that to O(touched buckets) but the gates' corpus-shaped
    * batches touch every bucket AND its per-batch constants (touched
    * collect, dynamic-overwrite commit) doubled the small-scale gates; the
    * log store is O(batch) per batch — strictly less sink work than both
    * at every scale — and latest-wins is exactly update-mode streaming's
    * re-emission contract. */
  private[graft] def gateStore(work: java.nio.file.Path, sub: String,
      keys: Seq[String]): graft.sources.WritableSource =
    // boundFiles = false: the gates' sink width is layout-managed here
    // (width-1 gates coalesce(1); scale widths write exactly width files
    // per generation) — the byte-derived bound would add one exchange per
    // micro-batch and per fold (measured at ×10: +1-5 s per gate)
    graft.sources.LogUpsertSource(work.resolve(sub).toString, keys,
      boundFiles = false)

  /** Strict positive-int env parse, shared by SPARK_GRAFT_GATE_WIDTH and
    * the log stores' SPARK_GRAFT_LOG_COMPACT_EVERY
    * ([[graft.sources.GenLog.defaultAutoCompactEvery]]). */
  private[graft] def parsePositiveInt(name: String, raw: Option[String], default: Int): Int =
    raw.map { v =>
      val n = try v.trim.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$v'")
      }
      require(n > 0, s"$name must be > 0, got '$v'")
      n
    }.getOrElse(default)

  /** Parse SPARK_GRAFT_GATE_WIDTH: must be a positive integer; fails fast
    * naming the env var (an unparseable value would otherwise surface as an
    * opaque Spark error deep in the gate lifecycle). */
  private[graft] def parseGateWidth(raw: Option[String]): Int =
    parsePositiveInt("SPARK_GRAFT_GATE_WIDTH", raw, default = 1)

  /** Run `body` with session confs pinned, restoring each key's previous
    * value (unsetting it if it had none) on every exit, exceptions
    * included. */
  private def withConfs[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The shared preamble/epilogue of every staged runtime gate (held ONCE
    * so a harness fix cannot silently diverge one gate): resolve/create
    * the work dir, stage `df` as `orderCol`-ordered chunks, pin
    * `spark.sql.shuffle.partitions=1` for the streaming lifecycle — the
    * stateful agg + per-batch upserts move store-scale data (windows ×
    * keys), not corpus-scale, so a wide micro-batch fan-out only adds
    * state-store and task overhead per batch — and restore the session's
    * width after, exception paths included. */
  private def withStagedGate[T](spark: SparkSession, df: DataFrame,
      orderCol: String, chunks: Int, workDir: Option[String])(
      body: StagedGate => T): T = {
    val work = workDir.map(d => java.nio.file.Paths.get(d))
      .getOrElse(java.nio.file.Files.createTempDirectory("graft_stream_gate"))
    java.nio.file.Files.createDirectories(work)
    stageChunks(df, orderCol, chunks, work)
    // Gate width: shuffle/state partitions for the streaming lifecycle.
    // Default 1 is right at driver-test scale (state is tiny; a wide
    // fan-out only adds state-store + task constants per batch). At
    // synthetic ×100 scale the same pin became the bottleneck — the WHOLE
    // stateful pipeline (state ops, per-batch upsert anti-joins) ran one
    // task wide over 10M events (measured: q177 67× at ×100 data,
    // SCALE.md) — so scale measurements widen it via this knob; on a real
    // cluster the session's own width applies (no pin would survive a
    // production deployment of these pipelines — the pin exists for the
    // oracle gates' determinism and small-state efficiency).
    // validate eagerly: an unparseable value would otherwise fail deep in
    // the gate lifecycle with an opaque Spark error, and any width > 1
    // deliberately trades away the single-partition determinism the oracle
    // gates pin — so only scale measurements should set this
    val gateWidth = parseGateWidth(sys.env.get("SPARK_GRAFT_GATE_WIDTH"))
    withConfs(spark, "spark.sql.shuffle.partitions" -> gateWidth.toString) {
      body(new StagedGate(work, spark, df.schema, gateWidth))
    }
  }

  /** Run a streaming frame into a keyed parquet online store: per-batch
    * `project`ed rows upsert through [[idempotentBatchSink]] (empty
    * watermark-finalize batches skip the upsert job chain), the query
    * drains under `Trigger.AvailableNow` (still one micro-batch per staged
    * chunk under `maxFilesPerTrigger=1`, and the watermark's trailing
    * eviction batch runs before the query terminates, so no batch can
    * race the drain), and the store source is returned. The sink
    * [[StagedGate.narrow]]s each batch: at the default width-1 gate the
    * store is tiny and one task per upsert beats a fan-out; at scale widths a micro-batch is
    * millions of rows and a forced coalesce(1) single-threads the whole
    * sink chain — measured at ×100 state density as part of the q176/q177
    * residual (SCALE.md). */
  private def runUpsertStream(spark: SparkSession, streamed: DataFrame,
      project: DataFrame => DataFrame, keys: Seq[String],
      g: StagedGate, outputMode: String = "update"): graft.sources.WritableSource = {
    val store = gateStore(g.work, "store", keys)
    val upsert = g.upsertSink(store, keys, project)
    // Update mode runs no no-data micro-batch: there such a batch only
    // EVICTS state and emits nothing, yet it still pays a state commit and
    // a sink call. Every update-mode gate is a streaming aggregation (a
    // window, register or counter re-emits its cumulative row in each
    // batch that touches it, never on eviction) or a NoTimeout
    // flatMapGroupsWithState (no timeout to fire). Append-mode gates keep
    // the batch: their rows (sessions, outer-join nulls, …) emit exactly
    // on eviction.
    val noDataBatches =
      if (outputMode == "update") Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
      else Nil
    withConfs(spark, noDataBatches: _*) {
      val q = streamed.writeStream
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", g.work.resolve("ckpt").toString)
        .foreachBatch { (b: DataFrame, id: Long) => upsert(b, id) }
        .start()
      try q.awaitTermination() finally q.stop()
    }
    // an all-empty input never triggers an upsert, so the store path would
    // not exist and the final read would throw — materialize the empty
    // store with the projected schema instead of crashing on zero events
    if (!store.exists(spark))
      store.overwrite(project(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], streamed.schema)))
    store
  }

  /** GENUINE streaming-runtime run of the worker shape (reference:
    * worker.py:172-260, StreamAggregationJob retrieval_job.py:2541-2650),
    * batch-oracle-checkable: stage a static event frame as a TIME-ORDERED
    * multi-file stream, run a real `readStream` job — file source with
    * `maxFilesPerTrigger=1` (one micro-batch per chunk, so watermark state
    * genuinely carries across batches), the contract `pipeline` INSIDE the
    * stream, event-time watermark, tumbling window aggregate, update-mode
    * `foreachBatch` upserting into a [[graft.sources.ParquetSource]]
    * online store through [[idempotentBatchSink]] — then return the final
    * store state.
    *
    * Why the final state equals the static aggregate (the oracle):
    *   - chunks are split on the GLOBAL ts order, so the watermark never
    *     overtakes incoming data and NO row is late-dropped
    *     ([[stageChunks]]);
    *   - update mode re-emits a window's CUMULATIVE aggregate every batch
    *     that touches it, and upsert-by-key keeps the latest emission, so
    *     each window's final store row is its full aggregate;
    *   - the sum is a DECIMAL(18,4) partial aggregate — exact integer
    *     arithmetic, so incremental state accumulation is order-independent
    *     and bit-equal to the one-shot batch sum.
    *
    * `pipeline` — typically a view's [[graft.contract.FeatureView.conform]]:
    * rename → fill → ensure-types → derive, the worker's per-batch contract
    * stage — runs
    * between readStream and the watermark, so tsCol/keyCol/valueCol name
    * POST-pipeline columns; tsCol must also exist pre-pipeline (it orders
    * the staging chunks). Emits (window_start = epoch seconds, keyCol,
    * n_events, sum_value). */
  def stagedWindowAggRun(spark: SparkSession, events: DataFrame, tsCol: String,
      keyCol: String, valueCol: String, chunks: Int = 3,
      windowDur: String = "1 hour", lateness: String = "1 day",
      workDir: Option[String] = None,
      pipeline: DataFrame => DataFrame = identity): DataFrame = {
    val store = withStagedGate(spark, events, tsCol, chunks, workDir) { g =>
      runUpsertStream(spark,
        windowAgg(pipeline(g.source), tsCol, keyCol, valueCol, windowDur, lateness),
        windowRows(keyCol), Seq("window_start", keyCol), g)
    }
    windowResult(spark, store, keyCol)
  }

  /** The window gates' streaming aggregate over an already-`pipeline`d
    * frame: event-time watermark, tumbling window × key, count and an
    * exact DECIMAL(18,4) partial sum. */
  private def windowAgg(df: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, windowDur: String, lateness: String): DataFrame =
    df.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col(valueCol).cast("decimal(18,4)")).as("__sum_dec"))

  /** A [[windowAgg]] micro-batch as store rows keyed by (window_start, keyCol). */
  private def windowRows(keyCol: String)(b: DataFrame): DataFrame =
    b.select(col("window.start").cast("long").as("window_start"),
      col(keyCol), col("n_events"), col("__sum_dec"))

  /** A window gate's final store state; the exact sum casts to double once, here. */
  private def windowResult(spark: SparkSession, store: graft.sources.WritableSource,
      keyCol: String): DataFrame =
    store.read(spark).select(col("window_start"), col(keyCol),
      col("n_events"), col("__sum_dec").cast("double").as("sum_value"))

  /** CHECKPOINT RESTART RECOVERY — the runtime modality none of the other
    * gates exercise: the stream STOPS mid-corpus and a NEW query resumes
    * from the same checkpoint. Phase 1 sees only the first
    * `chunks − holdBack` staged chunks, drains, and shuts down (a planned
    * restart — deploys and crashes share this path: recovery reads the
    * checkpoint, not the old JVM). The held-back chunks then land while
    * the job is down; phase 2 starts a fresh query on the SAME
    * checkpoint/commitlog/store and drains the rest.
    *
    * What the oracle equality proves that q165 alone cannot:
    *   - the watermark + window STATE STORE reloads across query
    *     lifecycles — windows straddling the restart boundary keep
    *     accumulating phase-1 counts they never re-read from the source;
    *   - the file-source checkpoint replays nothing already processed and
    *     misses nothing that arrived during the outage;
    *   - any batch Spark re-delivers on recovery (offsets written, commit
    *     pending) hits [[idempotentBatchSink]]'s commitlog and is skipped,
    *     so at-least-once redelivery still yields exactly-once store state.
    * Final store = the static aggregate, same argument as
    * [[stagedWindowAggRun]] plus the recovery steps above. */
  def stagedRestartRecoveryRun(spark: SparkSession, events: DataFrame,
      tsCol: String, keyCol: String, valueCol: String, chunks: Int = 4,
      holdBack: Int = 2, windowDur: String = "1 hour",
      lateness: String = "1 day", workDir: Option[String] = None): DataFrame = {
    require(chunks >= 2 && holdBack >= 1 && holdBack < chunks,
      s"need chunks >= 2 and 1 <= holdBack < chunks, got chunks=$chunks holdBack=$holdBack" +
        " — a restart gate with nothing before or after the restart proves nothing")
    val store = withStagedGate(spark, events, tsCol, chunks, workDir) { g =>
      val in = g.work.resolve("in")
      val hold = g.work.resolve("hold")
      java.nio.file.Files.createDirectories(hold)
      val held = in.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).takeRight(holdBack)
      held.foreach(f => java.nio.file.Files.move(f.toPath, hold.resolve(f.getName)))
      def lifecycle() = runUpsertStream(spark,
        windowAgg(g.source, tsCol, keyCol, valueCol, windowDur, lateness),
        windowRows(keyCol), Seq("window_start", keyCol), g)
      lifecycle() // phase 1: partial corpus, graceful stop
      // the outage: late chunks arrive while no query is running
      held.foreach(f => java.nio.file.Files.move(hold.resolve(f.getName), f.toPath))
      lifecycle() // phase 2: new query, same checkpoint — state recovers
    }
    windowResult(spark, store, keyCol)
  }

  /** Fully-qualified class of Spark's bundled RocksDB state store provider
    * (rocksdbjni ships in spark/jars — no extra dependency): state lives
    * in a native RocksDB instance spilling to local disk instead of the
    * default HDFSBackedStateStoreProvider's executor-heap hash map. At
    * 100 TB stream state (join state, dedup keys, large window counts)
    * the heap-backed provider OOMs; RocksDB is the production answer, so
    * the gate family must prove semantics are identical under it. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the session's streaming state-store provider swapped
    * (e.g. to [[RocksDbProvider]]), restoring the previous setting on all
    * exits. The provider is read from the session conf at query START, so
    * wrapping a whole staged gate re-runs that gate's every lifecycle on
    * the alternate provider. */
  def withStateStoreProvider[T](spark: SparkSession, providerClass: String)(
      body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    // Changelog checkpointing rides along whenever the provider is RocksDB
    // (guide §5, state-store tuning): the default commit uploads a FULL
    // RocksDB snapshot (zip every sst) per store per micro-batch — at
    // 100 TB join state that is the per-batch wall; with changelog
    // checkpointing a commit persists only the batch's delta and recovery
    // replays the changelog onto the last snapshot. Semantics are
    // provider-internal (same oracle, spec-gated recovery), cost is not:
    // measured on the q187b/q176b gates as part of optimization r16.
    val clKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val changelog = if (providerClass == RocksDbProvider) Seq(clKey -> "true") else Nil
    withConfs(spark, (key -> providerClass) +: changelog: _*)(body)
  }

  /** CRASH RECOVERY — [[stagedRestartRecoveryRun]] hardened from a
    * graceful stop to a MID-BATCH FAILURE. Phase 1's foreachBatch throws
    * AFTER the store upsert and the sink's commit mark but BEFORE the
    * engine records the batch commit — exactly the torn state a `kill -9`
    * mid-batch leaves behind: offsets written, engine commit pending,
    * sink effect already applied. Phase 2 starts a NEW query on the same
    * checkpoint: Spark replays the torn batch with the SAME batch id and
    * file-offset range, [[idempotentBatchSink]]'s commitlog mark makes
    * the redelivered upsert a no-op (the double-apply hazard this sink
    * exists for), the state store reloads the last committed version and
    * deterministically recomputes the torn batch's state update, and the
    * remaining chunks drain normally.
    *
    * What the oracle equality proves beyond q212's graceful restart: the
    * recovery path with UNCOMMITTED work — at-least-once redelivery of a
    * batch whose sink effect already landed still yields exactly-once
    * store state. Final store = the static aggregate, same argument as
    * [[stagedWindowAggRun]]. */
  def stagedCrashRecoveryRun(spark: SparkSession, events: DataFrame,
      tsCol: String, keyCol: String, valueCol: String, chunks: Int = 4,
      crashAtBatch: Long = 1, windowDur: String = "1 hour",
      lateness: String = "1 day", workDir: Option[String] = None): DataFrame = {
    require(chunks >= 2 && crashAtBatch >= 0 && crashAtBatch < chunks - 1,
      s"stagedCrashRecoveryRun: need 0 <= crashAtBatch < chunks-1, got " +
        s"crashAtBatch=$crashAtBatch chunks=$chunks — the crash must leave " +
        "work for phase 2 or the gate proves nothing")
    val store = withStagedGate(spark, events, tsCol, chunks, workDir) { g =>
      def agg = windowAgg(g.source, tsCol, keyCol, valueCol, windowDur, lateness)
      val project = windowRows(keyCol) _
      val keys = Seq("window_start", keyCol)
      val st = gateStore(g.work, "store", keys)
      val upsert = g.upsertSink(st, keys, project)
      val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
      val q1 = agg.writeStream.outputMode("update")
        .option("checkpointLocation", g.work.resolve("ckpt").toString)
        .foreachBatch { (b: DataFrame, id: Long) =>
          upsert(b, id)
          if (id == crashAtBatch) {
            crashed.set(true)
            throw new RuntimeException(
              "graft-gate: injected crash (post-sink, pre-engine-commit)")
          }
        }
        .start()
      try { q1.processAllAvailable(); q1.stop() }
      catch {
        case _: Exception if crashed.get() =>
          try q1.stop() catch { case _: Exception => () }
      }
      require(crashed.get(), "stagedCrashRecoveryRun: the injected crash " +
        s"never fired — fewer than ${crashAtBatch + 1} micro-batches ran")
      // phase 2: fresh query, same checkpoint/commitlog/store paths (all
      // derive from g.work) — replay of the torn batch is absorbed, the
      // rest of the corpus drains
      runUpsertStream(spark, agg, project, keys, g)
    }
    windowResult(spark, store, keyCol)
  }

  /** STREAMED MERGEABLE SKETCH under the oracle gate — the portable HLL
    * ([[graft.ops.Aggregations.hllPortableRegisters]]) maintained as
    * streaming state: each micro-batch derives (bucket, rank) for its
    * values (`prepare` runs INSIDE the stream — the per-batch contract
    * stage, e.g. exploding documents into words) and a watermark-free
    * update-mode `max` aggregate carries the registers across batches;
    * per-batch emissions upsert by (key, bucket). The gate then computes
    * the raw estimate from the FINAL STREAMED REGISTERS.
    *
    * Why the final state equals the batch sketch (the oracle): register
    * update is MAX — commutative, associative, idempotent — so incremental
    * accumulation over any chunking equals the one-shot fold; upsert-by-key
    * keeps each register's latest (= running-max) emission. No watermark is
    * needed and none is used: sketch state is bounded by keys · 2^lgK
    * REGISTERS — the whole point of a mergeable sketch in a stream is that
    * state never scales with stream length, where q165's windowed state
    * needs eviction to stay bounded. This is the monitoring shape a
    * continuously-ingesting 100 TB pipeline runs for live distinct counts
    * (vocabulary, user ids) without ever rescanning history.
    * Returns (keyCol, n_buckets_set, denom_scaled, est_distinct). */
  def stagedHllRun(spark: SparkSession, df: DataFrame, keyCol: String,
      valueCol: String, orderCol: String, lgK: Int = 8, chunks: Int = 5,
      workDir: Option[String] = None,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    val store = withStagedGate(spark, df, orderCol, chunks, workDir) { g =>
      val (bucket, rho) = graft.ops.Aggregations.hllBucketRho(col(valueCol), lgK)
      val regs = prepare(g.source)
        .filter(col(valueCol).isNotNull)
        .select(col(keyCol), bucket.as("hll_bucket"), rho.as("__rho"))
        .groupBy(col(keyCol), col("hll_bucket"))
        .agg(max(col("__rho")).as("hll_reg"))
      runUpsertStream(spark, regs, identity,
        Seq(keyCol, "hll_bucket"), g)
    }
    graft.ops.Aggregations.hllPortableEstimate(store.read(spark), Seq(keyCol), lgK)
  }

  /** STREAMED FREQUENCY SKETCH under the oracle gate — the portable
    * Count-Min ([[graft.ops.Aggregations.cmsPortableSketch]]) maintained
    * as streaming state: each micro-batch fans its values out to `depth`
    * (row, slot) coordinates (`prepare` runs INSIDE the stream) and a
    * watermark-free update-mode SUM carries the counters across batches;
    * per-batch emissions upsert by (key, depth, slot). Where
    * [[stagedHllRun]] gates the IDEMPOTENT merge (max — re-delivery
    * harmless by algebra), this gates the NON-idempotent one: counter
    * sums are only exactly-once because update mode re-emits each
    * counter's CUMULATIVE value and the upsert keeps the latest — the
    * same argument as q165's windowed sums, now for sketch state. One
    * stateful aggregate only: the batch op's value pre-aggregation is an
    * optimization, not semantics, and chaining two stateful aggs in
    * update mode is unsupported — so rows fan to depth coordinates
    * directly (a ×depth narrow map). State bounded by
    * keys · depth · 2^lgWidth counters regardless of stream length.
    * Returns the final streamed sketch (keyCol, cms_depth, cms_slot,
    * cms_n) — counter-identical to the batch sketch, which is the
    * oracle. */
  def stagedCmsRun(spark: SparkSession, df: DataFrame, keyCol: String,
      valueCol: String, orderCol: String, depth: Int = 4, lgWidth: Int = 10,
      chunks: Int = 5, workDir: Option[String] = None,
      prepare: DataFrame => DataFrame = identity): DataFrame = {
    require(depth >= 1 && depth <= 4, "1 <= depth <= 4 (32 md5 bits per row)")
    require(lgWidth >= 4 && lgWidth <= 20, "4 <= lgWidth <= 20")
    val store = withStagedGate(spark, df, orderCol, chunks, workDir) { g =>
      // all depth coordinates of a value in ONE md5 pass (Native.CmsSlots;
      // posexplode's position IS the depth index) — the explode+cmsSlot
      // form re-ran the hex substr/conv digest chain per depth row, and
      // with no pre-aggregation allowed inside the stream (one stateful
      // agg only) that per-occurrence cost was the whole gate's compute
      // at ×100 (VERDICT r14 #4)
      val counters = prepare(g.source)
        .filter(col(valueCol).isNotNull)
        .select(col(keyCol), graft.functions.Native.cmsSlots(
          col(valueCol).cast("string"), depth, lgWidth).as("__slots"))
        .select(col(keyCol), posexplode(col("__slots")).as(Seq("cms_depth", "cms_slot")))
        .groupBy(col(keyCol), col("cms_depth"), col("cms_slot"))
        .agg(count(lit(1)).as("cms_n"))
      runUpsertStream(spark, counters, identity,
        Seq(keyCol, "cms_depth", "cms_slot"), g)
    }
    store.read(spark)
  }

  /** The CUSTOM-KEYED-STATE runtime gate (q167) — [[statefulLatest]]'s
    * per-entity latest-row changelog compaction run as a REAL streaming
    * job: staged time-ordered chunks, `flatMapGroupsWithState` carrying
    * one row of state per key across micro-batches, update-mode emissions
    * upserted into the parquet online store. Final store state = the
    * latest row per key by (ts, tie) — exactly the static
    * row_number-over-(ts DESC, tie DESC) top-1, which is the oracle.
    * State is one row per key (bounded by key cardinality, the
    * changelog-compaction shape), so no watermark is needed. */
  def stagedStatefulLatestRun(spark: SparkSession, events: DataFrame,
      keys: Seq[String], tsCol: String, tieCol: Option[String] = None,
      chunks: Int = 3, workDir: Option[String] = None): DataFrame = {
    val store = withStagedGate(spark, events, tsCol, chunks, workDir) { g =>
      runUpsertStream(spark, statefulLatest(g.source, keys, tsCol, tieCol),
        identity, keys, g)
    }
    store.read(spark)
  }

  /** The THIRD streaming-runtime modality under the oracle gate (q172):
    * APPEND-mode custom keyed state — [[nearDupStream]]'s bounded-LSH
    * incremental near-dup run as a REAL streaming job. Documents staged as
    * an id-ordered multi-file stream (one micro-batch per chunk, so bucket
    * state genuinely carries across batches: cross-chunk duplicate pairs
    * exist only because the earlier doc's signature was retained in
    * state), the portable-family signature/banding inside the stream,
    * emitted pairs upserted by (id_a, id_b) — compacting the documented
    * once-per-shared-band-and-batch duplicate emissions — into the
    * parquet store, whose final state is returned.
    *
    * Why the final state equals the batch restatement
    * ([[graft.ops.Dedup.nearDupByEstimate]], the q157 oracle): with ZERO
    * bucket evictions every pair sharing ≥1 band bucket is compared when
    * the later doc arrives (same batch or any later one), the agreement
    * estimate is a pure function of the two retained signatures, and
    * upsert-by-pair-key collapses repeat emissions. Eviction is exactly
    * where the equivalence breaks, so this gate run REQUIRES zero
    * evictions (accumulator-checked, throws with the observed count) —
    * the production op keeps its bounded-state default; the gate pins
    * `maxPerBucket` above the largest test-corpus bucket. */
  def stagedNearDupRun(spark: SparkSession, docs: DataFrame, textCol: String,
      idCol: String, threshold: Double = 0.5, bands: Int = 4, k: Int = 3,
      maxPerBucket: Int = 1 << 16, chunks: Int = 3,
      workDir: Option[String] = None): DataFrame = {
    val acc = spark.sparkContext.longAccumulator("nearDupStreamEvictions")
    // id-ordered arrival
    val store = withStagedGate(spark, docs, idCol, chunks, workDir) { g =>
      val pairs = nearDupStream(g.source,
        textCol, idCol, threshold = threshold, bands = bands, k = k,
        maxPerBucket = maxPerBucket, portable = true, evictions = Some(acc))
      // the documented once-per-shared-band-and-batch duplicate emissions:
      // upsert replaces STORE rows by key but keeps duplicates inside one
      // incoming batch — dedup the batch itself (est is a pure function of
      // the pair, so any representative row is THE row)
      runUpsertStream(spark, pairs, _.dropDuplicates("id_a", "id_b"),
        Seq("id_a", "id_b"), g, outputMode = "append")
    }
    require(acc.value == 0L, s"stagedNearDupRun: ${acc.value} bucket evictions " +
      s"at maxPerBucket=$maxPerBucket — the batch-oracle equivalence requires " +
      "zero evictions; raise maxPerBucket above the largest LSH bucket")
    store.read(spark)
  }

  /** STREAMING EXACT-DEDUP runtime gate (q176): [[dedupStream]]
    * (dropDuplicatesWithinWatermark — Spark's bounded-state stateful dedup
    * operator) run as a REAL streaming job over staged time-ordered
    * chunks; kept rows append into the store (upsert-by-key for
    * idempotency) and the final state is returned. The at-least-once
    * shape: feed it a stream with duplicate DELIVERIES of immutable rows
    * (same key ⇒ byte-identical row) and the final store is exactly one
    * copy per key — keep-first is then deterministic regardless of which
    * physical duplicate won, so the static distinct IS the oracle. `delay`
    * defaults high so no test key expires mid-run; production tunes it to
    * the real re-delivery horizon (state is O(keys within the delay)). */
  def stagedDedupRun(spark: SparkSession, rows: DataFrame, tsCol: String,
      keys: Seq[String], delay: String = "365 days", chunks: Int = 3,
      workDir: Option[String] = None): DataFrame = {
    val store = withStagedGate(spark, rows, tsCol, chunks, workDir) { g =>
      runUpsertStream(spark, dedupStream(g.source, keys, tsCol, delay),
        identity, keys, g, outputMode = "append")
    }
    store.read(spark)
  }

  /** SESSION-WINDOW runtime gate (q177): gap-based sessionization
    * (`session_window`, the SURVEY §2.9 beyond-reference operator) run as
    * a REAL streaming job. Session aggregation only supports APPEND
    * output (Spark emits a session exactly once, when the watermark
    * passes its end), so a bounded test input needs what production gets
    * for free from time passing: a far-future SENTINEL row (+30 days)
    * rides in the last staged chunk — the global ts sort puts it there —
    * and advances the watermark past every real session's end; the
    * trailing eviction batch, which `Trigger.AvailableNow` runs before the
    * query terminates, then flushes them all. The sentinel's own session
    * never finalizes, so it cannot appear in the store.
    *
    * Why the final state equals the static sessionization (the oracle):
    * arrival is globally ts-ordered, so a new event either extends the
    * key's LATEST open session or opens a new one — it can never bridge
    * two closed sessions (its ts ≥ every seen ts) — and every real
    * session finalizes under the sentinel watermark with its full
    * aggregate: an integral count and an exact DECIMAL(18,4) sum. Emits
    * (session_start epoch-MICROseconds — exact across engines where
    * seconds would round sub-second starts — keys, n_events, sum_value). */
  def stagedSessionAggRun(spark: SparkSession, events: DataFrame,
      tsCol: String, keyCol: String, valueCol: String, gap: String,
      lateness: String = "1 minute", chunks: Int = 3,
      workDir: Option[String] = None): DataFrame = {
    // the flush sentinel: one row at the flush instant — far past
    // max + gap + lateness, so every REAL session end is behind the final
    // watermark. Reusing a real row's key is safe: the sentinel opens a
    // NEW far-future session for that key (30 days ≫ gap), which itself
    // never finalizes.
    val staged = flushTs(events, tsCol).fold(events)(ts =>
      events.unionByName(events.limit(1).withColumn(tsCol, lit(ts))))
    val store = withStagedGate(spark, staged, tsCol, chunks, workDir) { g =>
      val agg = g.source
        .withWatermark(tsCol, lateness)
        .groupBy(session_window(col(tsCol), gap), col(keyCol))
        .agg(count(lit(1)).as("n_events"),
          sum(col(valueCol).cast("decimal(18,4)")).as("__sum_dec"))
      runUpsertStream(spark, agg,
        b => b.select(unix_micros(col("session_window.start")).as("session_start"),
          col(keyCol), col("n_events"), col("__sum_dec")),
        Seq("session_start", keyCol), g, outputMode = "append")
    }
    store.read(spark).select(col("session_start"), col(keyCol),
      col("n_events"), col("__sum_dec").cast("double").as("sum_value"))
  }

  /** The sentinel gates' flush instant: 30 days past the max `tsCol` —
    * beyond any real gap, lateness or join bound, so a sentinel there
    * advances the watermark past every real row's state. None for an
    * empty input, which has nothing to flush. */
  private def flushTs(events: DataFrame, tsCol: String): Option[java.sql.Timestamp] =
    Option(events.agg(max(col(tsCol))).head().getTimestamp(0))
      .map(t => new java.sql.Timestamp(t.getTime + 30L * 86400000L))

  /** The interval-join gates' branches of one source: keys + (a_ts, a_id)
    * of the rows passing `leftPred`, keys + (b_ts, b_id) of `rightPred`'s. */
  private def intervalBranches(src: DataFrame, tsCol: String, keys: Seq[String],
      idCol: String, leftPred: String, rightPred: String): (DataFrame, DataFrame) = {
    def branch(pred: String, side: String) = src.filter(expr(pred))
      .select(keys.map(col) :+ col(tsCol).as(s"${side}_ts") :+ col(idCol).as(s"${side}_id"): _*)
    (branch(leftPred, "a"), branch(rightPred, "b"))
  }

  /** STREAM-STREAM JOIN runtime gate (q175): [[intervalJoin]] — two
    * watermarked branches of one live source, inner-joined on entity keys
    * with a time-bound — run as a REAL streaming job over staged
    * time-ordered chunks; each matched pair appends (upsert-by-pair-key
    * for idempotency) into the parquet store, whose final state is
    * returned.
    *
    * Why the final state equals the static join (the oracle): arrival is
    * globally ts-ordered, so every new row's event time ≥ the watermark,
    * and a buffered left row is evicted only once the watermark passes
    * `leftTs + after` — past which no future right row can satisfy the
    * bound — so no pair is late-dropped; inner stream-stream join emits
    * each matched pair exactly once. Emits keys + (a_id, b_id, lag_us). */
  def stagedIntervalJoinRun(spark: SparkSession, events: DataFrame,
      tsCol: String, keys: Seq[String], idCol: String,
      leftPred: String, rightPred: String, after: String = "1 hour",
      chunks: Int = 3, workDir: Option[String] = None): DataFrame = {
    val store = withStagedGate(spark, events, tsCol, chunks, workDir) { g =>
      val (l, r) = intervalBranches(g.source, tsCol, keys, idCol, leftPred, rightPred)
      val joined = intervalJoin(l, r, keys, "a_ts", "b_ts",
          before = "0 seconds", after = after, lateness = "1 minute")
        .select(keys.map(col) :+ col("a_id") :+ col("b_id") :+
          (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("lag_us"): _*)
      runUpsertStream(spark, joined, identity, Seq("a_id", "b_id"),
        g, outputMode = "append")
    }
    store.read(spark)
  }

  /** WATERMARK-CLOSED LEFT OUTER stream-stream join runtime gate: the
    * attribution question the inner join (q175 / [[stagedIntervalJoinRun]])
    * cannot answer — which clicks did NOT convert. An unmatched left row
    * emits, with null right columns, only when the watermark passes
    * `leftTs + after` and the runtime EVICTS its buffered state — a
    * negative result produced by time passing, not by any per-row
    * function, which makes this the modality where streaming semantics
    * are most their own thing.
    *
    * A bounded test input therefore needs what production gets free from
    * the clock: as with session windows, far-future SENTINEL rows (+30
    * days) ride in the last staged chunk — one per predicate branch,
    * because each branch's watermark tracks only the rows passing ITS
    * filter — and advance both watermarks past every real left row's
    * eviction bound. The runtime computes a batch's watermark from the
    * previous batch's event times, so the evictions that emit the
    * unmatched-null rows run in the trailing no-data batch, which
    * `Trigger.AvailableNow` runs before the query terminates: every real
    * left's verdict (its matched pairs, or the one null row) is in the
    * store. Neither sentinel can pollute it: the left one never emits
    * (the global watermark, pinned by the left branch to flushTs −
    * lateness, never passes its own bound), the right one rides `after`+1h
    * later still — strictly outside the left sentinel's match bound even
    * when the two share a key, and no real left's bound reaches 30 days
    * out.
    *
    * Emits keys + (a_id, b_id_key = coalesce(b_id, -1), lag_us nullable):
    * the -1 key materializes "did not convert" as an upsertable row —
    * exactly the training-label shape a conversion model consumes. Oracle
    * = the static LEFT JOIN under the same time bound. */
  def stagedOuterIntervalJoinRun(spark: SparkSession, events: DataFrame,
      tsCol: String, keys: Seq[String], idCol: String,
      leftPred: String, rightPred: String, after: String = "1 hour",
      chunks: Int = 3, workDir: Option[String] = None): DataFrame = {
    val staged = flushTs(events, tsCol).fold(events) { ts =>
      // each sentinel is built FROM a row passing its branch's predicate
      // (an arbitrary predicate cannot be satisfied synthetically). A
      // left-matching row exists but no right-matching row ⇒ the right
      // branch's watermark could never advance and every unmatched left
      // would silently never flush — fail loudly instead: the caller
      // must feed the gate at least one row per branch (production has
      // no such constraint; real time advances real watermarks)
      require(events.filter(expr(rightPred)).limit(1).count() > 0 ||
          events.filter(expr(leftPred)).limit(1).count() == 0,
        s"stagedOuterIntervalJoinRun: no row matches rightPred ($rightPred)" +
          " — the right branch's watermark cannot advance and unmatched" +
          " left rows would never emit; the bounded gate needs >= 1 row" +
          " per predicate branch")
      // the sentinels KEEP their real join keys: Catalyst infers
      // IsNotNull filters on equi-join keys and pushes them below the
      // watermark node, so a null-keyed sentinel is dropped before it
      // can advance the watermark (observed: the last hour's unmatched
      // clicks never flush). Sentinel-pair pollution — the two
      // sentinels matching EACH OTHER if they share a key — is instead
      // ruled out by TIME: the right sentinel rides `after`+1h past the
      // left one, strictly outside the left sentinel's match bound.
      events.unionByName(events.filter(expr(leftPred)).limit(1)
        .withColumn(tsCol, lit(ts))
        .unionByName(events.filter(expr(rightPred)).limit(1)
          .withColumn(tsCol,
            lit(ts) + expr(s"INTERVAL $after") + expr("INTERVAL 1 HOUR"))))
    }
    val store = withStagedGate(spark, staged, tsCol, chunks, workDir) { g =>
      val (l, r) = intervalBranches(g.source, tsCol, keys, idCol, leftPred, rightPred)
      val joined = intervalJoin(l, r, keys, "a_ts", "b_ts",
          before = "0 seconds", after = after, lateness = "1 minute",
          joinType = "leftOuter")
        .select(keys.map(col) :+ col("a_id") :+
          coalesce(col("b_id"), lit(-1L)).as("b_id_key") :+
          (unix_micros(col("b_ts")) - unix_micros(col("a_ts"))).as("lag_us"): _*)
      runUpsertStream(spark, joined, identity, Seq("a_id", "b_id_key"),
        g, outputMode = "append")
    }
    // the sentinels cannot reach the store (see above): the left one never
    // evicts, the right one never matches — nothing to filter out
    store.read(spark)
  }

  /** STREAM-STATIC ENRICHMENT runtime gate: the most common production
    * streaming shape — a live event stream joined against a slow-moving
    * dimension table (user profile, product catalog, feature view) — run
    * as a REAL streaming job. The reference's worker does exactly this
    * when a stream's contract loads features from a batch view mid-stream
    * (worker.py:172-260, LoadFeature in the stream pipeline); here it is
    * the Spark-native form: `readStream ⋈ broadcast(static dim)`.
    *
    * Physical shape: a stream-static equi-join is STATELESS — each
    * micro-batch hash-joins against the broadcast dimension; no watermark,
    * no state store, no shuffle of the stream (at 100 TB/day of events the
    * dimension is the small side by construction; a corpus-scale right
    * side belongs in a stream-stream join instead). Left join: an event
    * whose key misses the dimension still flows, with null attributes —
    * dropping it would silently shrink the stream on a late-arriving
    * dimension row.
    *
    * Why the final state equals the static join (the oracle): the join is
    * a pure per-row function of (event, dim) with dim constant for the
    * run, so batch boundaries cannot change any output row; append mode
    * emits each enriched event exactly once and upsert-by-`idCol` makes
    * redelivery idempotent. Returns the final store state: every staged
    * row enriched with the dimension's columns. */
  def stagedEnrichJoinRun(spark: SparkSession, rows: DataFrame,
      orderCol: String, idCol: String, dim: DataFrame,
      joinKeys: Seq[String], chunks: Int = 3,
      workDir: Option[String] = None): DataFrame = {
    // the "final state = static join" contract needs a UNIQUE-keyed dim:
    // a duplicate dim key fans each event out to several rows sharing the
    // same idCol, and upsert-by-idCol would keep an arbitrary one — fail
    // loudly (the dim is the small side; this probe is cheap) rather than
    // silently diverging from the oracle
    val dup = dim.groupBy(joinKeys.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1L).limit(1).count()
    require(dup == 0L,
      s"stagedEnrichJoinRun: dimension has duplicate rows per join key" +
        s" (${joinKeys.mkString(", ")}) — upsert-by-$idCol would keep an" +
        " arbitrary match; deduplicate the dimension (e.g. latest SCD" +
        " version) before enriching")
    val store = withStagedGate(spark, rows, orderCol, chunks, workDir) { g =>
      runUpsertStream(spark, g.source.join(broadcast(dim), joinKeys, "left"),
        identity, Seq(idCol), g, outputMode = "append")
    }
    store.read(spark)
  }

  /** EVENT-TRIGGER runtime gate (modality #9): [[runWorker]]'s
    * [[EventTrigger]] emit path — the reference's ListenForTriggers
    * (schemas/event_trigger.py:20-97, retrieval_job.py:3227-3265) — run as
    * a REAL streaming job through the PRODUCTION worker entry point, not a
    * rebuilt copy of it: staged time-ordered chunks, `runWorker` with the
    * view's contract pipeline inside the stream, and a trigger whose
    * predicate routes matching post-pipeline rows to a SECOND store from
    * within the same foreachBatch that upserts the main store.
    *
    * Why the final trigger-store state equals the static filter (the
    * oracle): the trigger predicate is a pure per-row function of the
    * pipeline output, so batch boundaries cannot change membership; the
    * worker is stateless here (no watermark, no agg), append emissions are
    * exactly the staged rows, and both stores upsert by `idCol` so
    * redelivery is idempotent. Returns the trigger store's final state —
    * every pipeline row matching `condition`, exactly once. */
  def stagedTriggerRun(spark: SparkSession, rows: DataFrame, orderCol: String,
      idCol: String, view: FeatureView, condition: Column, chunks: Int = 3,
      workDir: Option[String] = None): DataFrame = {
    val trig = withStagedGate(spark, rows, orderCol, chunks, workDir) { g =>
      val mainStore = gateStore(g.work, "store", Seq(idCol))
      val trigStore = gateStore(g.work, "trigstore", Seq(idCol))
      // the main sink goes through the commit-log wrapper (redelivered
      // batches redo-never-skip, like every other gate); the trigger sink
      // fires before it inside the same cached batch and is idempotent by
      // upsert-on-idCol alone — a trigger emit is a per-row routing, not a
      // second ledger
      // no isEmpty probe in the trigger sink either: runWorker already
      // persists the batch for its two consumers
      val mainSink = g.upsertSink(mainStore, Seq(idCol))
      val q = runWorker(g.source, view,
        sink = mainSink,
        triggers = Seq(EventTrigger(condition,
          matched => trigStore.upsert(g.narrow(matched), Seq(idCol)))),
        checkpointDir = Some(g.work.resolve("ckpt").toString),
        trigger = Trigger.ProcessingTime(0L))
      try q.processAllAvailable() finally q.stop()
      // a run where nothing matched must yield an EMPTY frame with the
      // pipeline schema, not a missing-path read error; the main store is
      // the schema donor (it saw every batch). An all-empty INPUT is a
      // caller error here — the gate exists to compare against a non-empty
      // static filter — so fail loudly rather than fabricate both stores.
      if (!mainStore.exists(spark))
        throw new IllegalStateException(
          "stagedTriggerRun: no batch reached the worker sink — empty input?")
      if (!trigStore.exists(spark))
        trigStore.overwrite(mainStore.read(spark).limit(0))
      trigStore
    }
    trig.read(spark)
  }
}
