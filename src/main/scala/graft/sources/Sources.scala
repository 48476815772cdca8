package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructField, StructType}

/** Batch source abstraction (reference: BatchDataSource,
  * aligned/data_source/batch_data_source.py:136-344). A source produces a
  * DataFrame lazily; Catalyst then prunes columns and pushes predicates into
  * the scan, so the reference's hand-rolled pruning/pushdown machinery
  * (local/job.py:254-271) is unnecessary here.
  */
trait BatchSource {
  def read(spark: SparkSession): DataFrame
  /** Does the backing table exist yet? Used by upsert/incremental paths to
    * distinguish "first write" from "read failed". Catching exceptions from
    * read() is NOT a substitute: a transient failure (corrupt footer,
    * permissions, OOM) would then be treated as an empty table and the next
    * Overwrite silently drops the old rows. Non-file sources default to true
    * (their reads don't fail on absence). */
  def exists(spark: SparkSession): Boolean = true
  /** rows with eventTs in [start, end) (all_between_dates, batch_data_source.py:229). */
  def between(spark: SparkSession, tsCol: String, start: java.sql.Timestamp, end: java.sql.Timestamp): DataFrame =
    read(spark).filter(col(tsCol) >= lit(start) && col(tsCol) < lit(end))
  /** max event timestamp = freshness (batch_data_source.py:294-307). */
  def freshness(spark: SparkSession, tsCol: String): Option[java.sql.Timestamp] =
    read(spark).agg(max(col(tsCol))).collect().headOption.flatMap(r => Option(r.get(0)))
      .map(_.asInstanceOf[java.sql.Timestamp])
}

/** Writable sink surface (reference: WritableFeatureSource, feature_source.py:20-58). */
trait WritableSource extends BatchSource {
  def insert(df: DataFrame): Unit
  def overwrite(df: DataFrame): Unit
  /** Upsert = replace rows matching entity keys, keep the rest. The reference
    * anti-joins old data on entity keys then concats (sources/local.py:317-340);
    * same algebra here, expressed as DataFrame ops. On Delta this would be
    * MERGE INTO; with plain files it is read-antijoin-union-rewrite. */
  def upsert(df: DataFrame, keys: Seq[String]): Unit
}

/** Filesystem-path helpers shared by the file-backed sources. */
private[graft] object PathProbe {
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}

final case class ParquetSource(path: String) extends WritableSource {
  def read(spark: SparkSession): DataFrame = spark.read.parquet(path)
  override def exists(spark: SparkSession): Boolean = PathProbe.exists(spark, path)
  def insert(df: DataFrame): Unit = df.write.mode(SaveMode.Append).parquet(path)
  def overwrite(df: DataFrame): Unit =
    StageAndSwap.replace(df.sparkSession, path)(p => df.write.mode(SaveMode.Overwrite).parquet(p))
  def upsert(df: DataFrame, keys: Seq[String]): Unit = StageAndSwap.upsert(this, path, df, keys)
}

/** Hive-partitioned parquet dir (reference: PartitionedParquetFileSource,
  * sources/local.py:502-727). Spark reads hive partitioning natively and
  * prunes partitions from pushed-down predicates; upsert rewrites only the
  * touched partitions via dynamic partition overwrite (the scalable analog of
  * the reference's per-partition rewrite at local.py:658-707).
  *
  * partitionBy writes no data file for an empty frame, and a dir with none
  * has no schema to infer. An empty overwrite therefore keeps the frame's
  * read schema (data columns, then partition columns) in a hidden
  * `_graft_schema.json` that `read` consults only while the dir holds no
  * data; an all-zero donor leaf would add a fake partition value. */
final case class PartitionedParquetSource(path: String, partitionKeys: Seq[String])
    extends WritableSource {
  private val schemaFile = new Path(path, "_graft_schema.json")
  def read(spark: SparkSession): DataFrame = {
    val fs = schemaFile.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(schemaFile) && !GenLog.hasDataChildren(fs, schemaFile.getParent)) {
      val in = fs.open(schemaFile)
      val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType]).parquet(path)
    } else spark.read.parquet(path)
  }
  override def exists(spark: SparkSession): Boolean = PathProbe.exists(spark, path)
  def insert(df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partitionKeys: _*).parquet(path)
  def overwrite(df: DataFrame): Unit = StageAndSwap.replace(df.sparkSession, path) { p =>
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionKeys: _*).parquet(p)
    val dir = new Path(p)
    val fs = dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (!GenLog.hasDataChildren(fs, dir)) {
      val data = df.schema.filterNot(f => partitionKeys.contains(f.name))
      val out = fs.create(new Path(dir, schemaFile.getName), true)
      try out.write(StructType(data ++ partitionKeys.map(df.schema(_))).json.getBytes("UTF-8"))
      finally out.close()
    }
  }
  def upsert(df: DataFrame, keys: Seq[String]): Unit = StageAndSwap.locked(df.sparkSession, path) {
    val spark = df.sparkSession
    // only partitions present in df get rewritten (dynamic overwrite);
    // within them, keep non-matching old rows
    val merged =
      if (!exists(spark)) df
      else StageAndSwap.mergeByKey(read(spark).join(
        df.select(partitionKeys.map(col): _*).distinct(), partitionKeys, "left_semi"), df, keys)
    // scoped to this write: a session-global mode would leak into every later
    // overwrite, which must drop the partitions its frame lacks
    merged.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionKeys: _*).parquet(path)
  }
}

/** The bucket layout both bucketed stores write, an on-disk format that a
  * reader prunes by: `__bucket = pmod(xxhash64(bucketKeys), numBuckets)`. */
sealed trait HashBuckets {
  def numBuckets: Int
  protected def bucketKeys: Seq[String]
  require(numBuckets > 0, s"numBuckets must be > 0, got $numBuckets")
  protected final val B = "__bucket"
  protected def withBucket(df: DataFrame): DataFrame =
    df.withColumn(B, pmod(xxhash64(bucketKeys.map(col): _*), lit(numBuckets.toLong)).cast("int"))
  // hash write-distribution on the bucket (optimization r15, guide §6 /
  // Iceberg write.distribution-mode=hash): an N-partition input written
  // straight through partitionBy emits up to N files PER BUCKET; one narrow
  // shuffle on the tiny bucket id bounds every write to ≤ numBuckets files
  protected def distributed(df: DataFrame): DataFrame =
    withBucket(df).repartition(col(B))
}

/** Hash-bucketed parquet dir: hive-partitioned on `__bucket =
  * pmod(xxhash64(bucketKeys), numBuckets)` so an upsert reads and rewrites
  * ONLY the buckets its keys land in — O(touched buckets), not O(store).
  * This is the reference's partitioned-upsert idea (sources/local.py:658-707,
  * rewrite only touched partitions) applied to a key-addressed store whose
  * natural key has no partition-friendly shape.
  *
  * Built for the accreting online/streaming store (VERDICT r13 "What's
  * wrong #1"): the plain [[ParquetSource]] upsert anti-joins and rewrites
  * the WHOLE accumulated table every micro-batch, which at ×100 state
  * density made a full streaming run ~O(store²/batch). Here a micro-batch
  * pays: one tiny distinct-collect of its ≤numBuckets touched bucket ids
  * (driver-bounded by construction), a partition-PRUNED read of just those
  * buckets, and a dynamic-partition-overwrite of the same — per-batch cost
  * tracks the BATCH's key spread, while untouched buckets' files are never
  * opened or rewritten (spec-pinned byte-identical). At 100 TB the bucket
  * count is sized so one bucket ≈ a few GB (numBuckets knob); the
  * jar-gated Delta/Iceberg MERGE (O(touched files)) remains the end state,
  * this is the no-jar scale path.
  *
  * Reads drop the synthetic `__bucket` column, so the read schema equals
  * what was written. bucketKeys must be a subset of every upsert's keys
  * (same key ⇒ same bucket, or the anti-join would miss the old copy). */
final case class BucketedParquetSource(path: String, bucketKeys: Seq[String],
    numBuckets: Int = 8) extends WritableSource with HashBuckets {
  def read(spark: SparkSession): DataFrame = spark.read.parquet(path).drop(B)
  override def exists(spark: SparkSession): Boolean = PathProbe.exists(spark, path)
  def insert(df: DataFrame): Unit =
    distributed(df).write.mode(SaveMode.Append).partitionBy(B).parquet(path)
  /** A staged replace ([[StageAndSwap.replace]]). partitionBy writes NO
    * files for an empty frame, so an empty write gets the schema donor
    * ([[GenLog.writeDonorIfEmpty]]) and the store stays readable. */
  def overwrite(df: DataFrame): Unit = StageAndSwap.replace(df.sparkSession, path) { p =>
    distributed(df).write.mode(SaveMode.Overwrite).partitionBy(B).parquet(p)
    GenLog.writeDonorIfEmpty(df.sparkSession, df.schema, p, Seq(B))
  }
  def upsert(df: DataFrame, keys: Seq[String]): Unit = StageAndSwap.locked(df.sparkSession, path) {
    require(bucketKeys.forall(keys.contains),
      s"bucket keys $bucketKeys must be contained in upsert keys $keys " +
        "(same key must land in the same bucket)")
    val spark = df.sparkSession
    if (!exists(spark)) overwrite(df)
    else {
      val newB = withBucket(df)
      // ≤ numBuckets ints by construction — a bounded driver pull that buys
      // STATIC partition pruning on the old-side scan below
      val touched = newB.select(B).distinct().collect().map(_.getInt(0)).toSeq
      if (touched.nonEmpty) {
        val old = spark.read.parquet(path).filter(col(B).isin(touched: _*))
        // dynamic overwrite commits ONLY the partitions present in the
        // merge (exactly the touched buckets); scoped via writer option, not
        // a session-global conf mutation
        StageAndSwap.mergeByKey(old, newB, keys)
          .repartition(col(B)) // ≤ touched-bucket files (see `distributed`)
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(B).parquet(path)
        spark.catalog.refreshByPath(path)
      }
    }
  }
}

/** One parquet footer, opened on the driver — no Spark job: the file's row
  * count and the Spark schema that stock inference derives from the same
  * footer (Spark's own `readSchemaFromFooter` and converter, under this
  * session's parquet confs: nanosAsLong, int96, binary-as-string, NTZ
  * inference). Stock `spark.read.parquet(p)` runs a one-task job to do
  * exactly this. */
private[graft] object ParquetFooter {
  def read(spark: SparkSession, file: FileStatus): (Long, StructType) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration))
    try (r.getRecordCount, ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(file.getPath, r.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    finally r.close()
  }
}

/** Frames whose rows already sit on the driver: the optimized plan is a
  * `LocalRelation` — the `createDataFrame(rows)` / `Seq(...).toDF` serving
  * shape, and any projection of one (`ConvertToLocalRelation` evaluates it
  * while optimizing). Collecting such a frame is a `LocalTableScan` and
  * runs no Spark job, so the lookup and upsert paths use those rows
  * directly instead of moving them through an exchange. */
private[graft] object DriverRows {
  /** The frame's rows on the driver, when its optimized plan holds them. */
  def relation(df: DataFrame): Option[org.apache.spark.sql.catalyst.plans.logical.LocalRelation] =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => Some(l)
      case _ => None
    }
  def isLocal(df: DataFrame): Boolean = relation(df).isDefined
}

/** Shared generation-log machinery under [[GenLogStore]]: monotonic per-path
  * generation counters, writer-nonce stamps, and the single-writer guard. */
private[graft] object GenLog {
  val G = "__gen"

  /** Does a just-written dir hold any DATA — a data file, or a partition
    * SUBDIRECTORY (hive partition dirs like `__bucket=0` start with an
    * underscore, so a file-name-only test misreads every non-empty
    * partitioned write as empty and spuriously rewrites the batch into one
    * leaf: duplicate rows — benign under latest-wins-over-identical-values,
    * but a whole extra write job and 2× store rows per generation). */
  def hasDataChildren(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists(s =>
      s.isDirectory || !s.getPath.getName.startsWith("_"))

  /** The schema donor for a just-written dir that landed no data
    * (partitionBy writes NO files for an empty frame, a zero-partition plan
    * none at all): one empty schema-bearing file in the all-zero leaf of
    * `partitionCols`, so the dir stays readable. Built from an empty RDD,
    * never from the written frame — re-running that would re-run its whole
    * upstream. */
  def writeDonorIfEmpty(spark: SparkSession, schema: StructType, dir: String,
      partitionCols: Seq[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!hasDataChildren(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p))
      spark.createDataFrame(spark.sparkContext.parallelize(Seq.empty[Row], 1), schema)
        .write.mode(SaveMode.Overwrite).parquet(partitionCols.foldLeft(dir)((d, c) => s"$d/$c=0"))
  }

  /** After an upsert's write landed no data in `gen`: drop the empty
    * generation and release its claim (an empty upsert is a NO-OP — it must
    * not advance the log or bring the auto-compaction trigger forward;
    * measured at ×10, empty stream-finalize generations cost one spurious
    * O(tail) fold per gate), UNLESS it is the store's only generation, in
    * which case `materialize` writes the schema-bearing empty leaf (an
    * all-empty store must read as an empty frame WITH schema). Returns
    * true when the generation was kept (real data or schema donor). */
  def resolveEmptyGen(spark: SparkSession, path: String, gen: Long)(
      materialize: => Unit): Boolean = {
    val genPath = new org.apache.hadoop.fs.Path(s"$path/$G=$gen")
    val fs = genPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hasDataChildren(fs, genPath)) true
    else if (genDirs(spark, path).exists(d => genNumber(d) != gen)) {
      fs.delete(genPath, true)
      releaseClaim(spark, path, gen)
      false
    } else { materialize; true }
  }

  /** One random nonce per JVM: every generation this process writes is
    * stamped with an empty `_writer_<nonce>` file (underscore prefix →
    * invisible to Spark's file index). The single-writer-per-path contract
    * is enforceable only best-effort with plain files — two processes can
    * seed their counters from the same directory listing and mint the SAME
    * generation number — so a violation must surface as a LOUD error on the
    * next read/compact ([[assertSingleWriter]]), never as silent
    * nondeterministic latest-wins. */
  val writerNonce: String = java.util.UUID.randomUUID().toString.replace("-", "")

  /** One generation counter per qualified path (process-local; seeded from
    * the directory on first touch — see [[nextGen]]). */
  private val gens =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  private def fsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Bound a generation's FILE COUNT by the batch's planned bytes, not the
    * writer's parallelism (guide §6: file sizing is a LAYOUT property —
    * the bucketed stores get it from their bucket repartition; the plain
    * log store wrote one file per input partition, so a fanned
    * 32-partition frame of 500 rows minted 32 tiny files per generation
    * and every later listing/resolve/fold paid the file count — the
    * measured q245/q248 r15 regression). Catalyst's size estimate costs
    * no job; estimation error only moves the effective file-size target,
    * never results. The bound is a `repartition` (an explicit
    * output-sizing exchange of the FINAL rows only), NOT a coalesce:
    * coalesce propagates up to the previous shuffle boundary and
    * single-threads the whole producing stage — measured at the ×10
    * streaming curve as a 1.4-2× regression on every gate (the width-8
    * stateful pipelines collapsed to one task). It applies only in the
    * small-batch regime (≤ [[MaxBoundedGenFiles]] planned files);
    * corpus-scale writes keep their stock parallelism, and unknown-size
    * plans (streaming batches can estimate Long.MaxValue) pass through
    * untouched. */
  val MaxBoundedGenFiles = 64L
  /** The planned bytes of one generation file. */
  val TargetGenFileBytes = 128L << 20
  def boundGenFiles(df: DataFrame, targetBytes: Long = TargetGenFileBytes): DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = est / targetBytes + 1
    if (files.isValidLong && files.toLong <= MaxBoundedGenFiles)
      df.repartition(files.toInt)
    else df
  }

  /** The store's generation dirs (empty if the store doesn't exist yet). */
  def genDirs(spark: SparkSession, path: String): Array[org.apache.hadoop.fs.Path] = {
    val (fs, p) = fsOf(spark, path)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).map(_.getPath).filter(_.getName.startsWith(G + "="))
  }

  /** Numeric generation of a `__gen=N` dir (resolve/merge ordering). */
  def genNumber(p: org.apache.hadoop.fs.Path): Long =
    p.getName.substring(G.length + 1).toLong

  /** Fold provenance marker `_folded_<lo>_<hi>` (underscore prefix →
    * invisible to Spark's file index): a fold's dest generation records the
    * inclusive snapshot range it subsumed, which is what makes time travel
    * ([[GenLogStore.readAt]]) HONEST — a request strictly inside a
    * folded range fails loudly instead of silently returning the post-fold
    * state. Plain append generations carry no marker; their range is
    * [g, g]. Written AFTER the fold's rename and BEFORE its input deletes:
    * a crash in between leaves either inputs+unmarked-dest (dest treated
    * as [d, d]; historical reads still served by the surviving inputs) or
    * inputs+marked-dest (duplicate key copies resolve to identical values
    * by latest-wins) — never a wrong snapshot. */
  def writeFoldMarker(spark: SparkSession, genDir: String, lo: Long, hi: Long): Unit = {
    val (fs, p) = fsOf(spark, genDir)
    fs.create(new org.apache.hadoop.fs.Path(p, s"_folded_${lo}_$hi"), true).close()
  }

  /** One generation dir's metadata from a single listing: number, fold
    * range, writer nonces. */
  final case class GenInfo(dir: org.apache.hadoop.fs.Path, gen: Long,
      lo: Long, hi: Long, nonces: Seq[String])

  /** One pinned look at a store ([[GenLogStore.pinned]]): its checked
    * generations and the stored data schema from one footer (None when no
    * generation holds a data file). A read, a fold or a lookup lists the
    * store and opens the footer once, through this. */
  final case class Pinned(infos: Seq[GenInfo], schema: Option[StructType])

  /** ONE listing pass per generation dir (the metadata feeding the nonce
    * check, the effective-generation resolve order, and time travel —
    * previously three separate sweeps). Sorted by EFFECTIVE order
    * (hi, then dir number), NOT by dir number: after a fold-vs-append
    * race a fold dest's dir number sits above a foreign append whose
    * effective generation is newer, and the minor fold's base/tail split
    * must follow the same order the resolve does — a dir-number split
    * would exclude the foreign append as "base" and stamp a dest marker
    * overclaiming its range, silently resurrecting folded stale values
    * on the next read. */
  def scanStore(spark: SparkSession, path: String): Seq[GenInfo] = {
    val (fs, _) = fsOf(spark, path)
    genDirs(spark, path).map { d =>
      val names = fs.listStatus(d).map(_.getPath.getName)
      val (lo, hi) = names.find(_.startsWith("_folded_")).map { n =>
        val parts = n.stripPrefix("_folded_").split("_")
        (parts(0).toLong, parts(1).toLong)
      }.getOrElse { val g = genNumber(d); (g, g) }
      GenInfo(d, genNumber(d), lo, hi, names.filter(_.startsWith("_writer_")).distinct.toSeq)
    }.sortBy(i => (i.hi, i.gen)).toSeq
  }

  /** The EFFECTIVE generation of each dir for latest-wins ordering: a plain
    * append dir orders at its own number; a fold dest orders at its range's
    * UPPER BOUND, not its dir number. This is what keeps a fold correct
    * against a concurrent cross-process append: the fold's dest is CLAIMED
    * above a foreign generation K that landed after the fold pinned its
    * inputs, but its DATA is a resolve of generations ≤ hi < K — ordering
    * it at hi lets K's newer rows win, where dir-number ordering would
    * resurrect the folded (older) values over them. */
  def effectiveGens(infos: Seq[GenInfo]): Map[Long, Long] =
    infos.map(i => i.gen -> i.hi).toMap

  /** The latest-wins resolve shared by both log stores: newest EFFECTIVE
    * generation per key wins (a literal-map lookup keeps the ordering
    * expression codegen'd); dir number breaks exact-effective ties —
    * coexisting crash remnants hold identical values for shared keys, so
    * either copy is correct and the tiebreak just makes plans
    * deterministic. The ordering rule is load-bearing for fold-vs-append
    * coexistence; keeping it in ONE place keeps the two stores'
    * semantics from diverging. */
  def resolveLatest(raw: DataFrame, eff: Map[Long, Long], keys: Seq[String],
      dropCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val effCol = coalesce(
      element_at(typedLit(eff), col(G).cast("long")), col(G).cast("long"))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(effCol.desc, col(G).desc)
    raw.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn").drop(dropCols: _*)
  }

  /** Generation dirs whose snapshot range is fully at-or-before `gen` —
    * the read set for a time-travel read. A range STRADDLING `gen`
    * (lo ≤ gen < hi) normally means that history was folded away — but a
    * crashed fold can leave the subsumed inputs alive next to the marked
    * dest, in which case the straddler is TOLERATED when the included
    * dirs' ranges still cover the straddled prefix [lo, gen] (the exact
    * pre-fold data is served). Coverage is judged by NUMERIC interval
    * union, so generation-number gaps (skipped claims) inside the
    * straddled prefix make the check conservative: it may refuse a
    * servable crashed-fold read, but never serves a wrong one. Fails
    * loudly otherwise, and when no snapshot exists at or before `gen`. */
  def dirsAt(path: String, infos: Seq[GenInfo], gen: Long): Seq[org.apache.hadoop.fs.Path] = {
    val included = infos.filter(_.hi <= gen)
    // merge included ranges into sorted disjoint intervals for coverage
    val merged = included.map(i => (i.lo, i.hi)).sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((a, b) :: rest, (lo, hi)) if lo <= b + 1 => (a, math.max(b, hi)) :: rest
        case (acc, r) => r :: acc
      }
    def covered(lo: Long, hi: Long): Boolean =
      merged.exists { case (a, b) => a <= lo && hi <= b }
    val fatal = infos.filter(i => i.lo <= gen && gen < i.hi &&
      !covered(i.lo, math.min(gen, i.hi)))
    if (fatal.nonEmpty)
      throw new IllegalArgumentException(
        s"log store $path: generation $gen falls inside compacted range " +
          s"${fatal.map(i => s"[${i.lo},${i.hi}]").mkString(",")} — that history " +
          s"was folded away (retention is bounded by the compaction cadence; " +
          s"exact snapshots currently retained: ${infos.map(_.hi).distinct.sorted.mkString(",")})")
    if (included.isEmpty)
      throw new IllegalArgumentException(
        s"log store $path: no snapshot at or before generation $gen " +
          s"(earliest retained: ${infos.map(_.hi).sorted.headOption.getOrElse("none")})")
    included.map(_.dir)
  }

  /** The exact snapshot points currently retained (each dir's range upper
    * bound, ascending) — every listed generation is a valid `readAt`
    * argument; later folds subsume the older entries. */
  def snapshotGens(spark: SparkSession, path: String): Seq[Long] =
    scanStore(spark, path).map(_.hi).distinct.sorted

  /** Byte sizes of generation dirs, cached: a generation is immutable once
    * written (appends mint NEW generations; folds create new ones and
    * delete the old), so its recursive listing never changes — without the
    * cache every trigger would re-walk the LARGE base tier's files, an
    * O(base file count) remote listing per threshold hit at 100 TB. Only a
    * replace reuses a generation's path (`__gen=0`); it drops the entries
    * of the generations it replaces. */
  private val sizes = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def sizeOf(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Long =
    sizes.computeIfAbsent(fs.makeQualified(p).toString,
      _ => fs.getContentSummary(p).getLength)
  /** Drop a deleted generation's cache entry (called by the folds and the
    * replace). */
  def forgetSize(spark: SparkSession, p: org.apache.hadoop.fs.Path): Unit = {
    val (fs, _) = fsOf(spark, p.toString)
    sizes.remove(fs.makeQualified(p).toString)
  }

  /** The tiered compaction trigger shared by the log stores: once the
    * generation count reaches the policy threshold, pick the MINOR fold
    * (merge the recent tail runs — O(tail)) unless the accumulated tail
    * has grown to the base generation's size — or the tail is a single run
    * the minor fold cannot shrink (the `every == 2` floor) — in which case
    * pay the MAJOR fold (full rewrite, O(live keys)). The classic
    * size-ratio LSM merge schedule: routine folds never rewrite the large
    * base, and the expensive full rewrite is amortized over base-sized
    * tail progress. Sizes are driver-side metadata, cached per immutable
    * generation ([[sizeOf]]). */
  def tieredTrigger(spark: SparkSession, path: String, every: Int,
      major: () => Unit, minor: () => Unit): Unit = {
    val gens = genDirs(spark, path)
    if (gens.length < every) return
    val (fs, _) = fsOf(spark, path)
    val sorted = gens.sortBy(genNumber)
    val baseBytes = sizeOf(fs, sorted.head)
    val tailBytes = sorted.drop(1).map(g => sizeOf(fs, g)).sum
    if (tailBytes >= baseBytes || sorted.length - 1 < 2) major() else minor()
  }

  /** Next generation for this path: max persisted + 1 on first touch in
    * this process, then strictly increasing under the path lock. */
  def nextGen(spark: SparkSession, path: String): Long = {
    val (fs, p) = fsOf(spark, path)
    val key = fs.makeQualified(p).toString
    gens.computeIfAbsent(key, { _ =>
      val seed = genDirs(spark, path).map(_.getName)
        .map(n => n.substring(G.length + 1).toLong).foldLeft(-1L)(math.max)
      new java.util.concurrent.atomic.AtomicLong(seed)
    }).incrementAndGet()
  }

  /** A generation's claim-marker path: `_claim_<N>` directly under the
    * store (underscore prefix → invisible to Spark's file index and to
    * [[genDirs]]). */
  private def claimPath(path: String, gen: Long) =
    new org.apache.hadoop.fs.Path(path, s"_claim_$gen")

  /** CLAIM a generation number across processes: create-exclusive of the
    * `_claim_<N>` marker (FileSystem.create with overwrite=false). Two
    * processes seeding their counters from the same listing would
    * otherwise mint the SAME number and interleave files in one
    * generation dir; with claims the loser's create throws
    * FileAlreadyExists, it bumps its counter and retries, and each append
    * lands a UNIQUE generation, totally ordered by claim order — which IS
    * latest-wins. Atomicity is the filesystem's: HDFS and ABFS implement
    * create-no-overwrite atomically; Hadoop's RawLocalFileSystem is an
    * exists-check-then-create (a microsecond TOCTOU window two same-host
    * JVMs could in principle thread), and object stores without
    * conditional puts have no exclusivity at all — on those the claim
    * closes the COMMON race (counter-seed collisions, a window of whole
    * batches) and [[assertSingleWriter]]'s nonce detection remains the
    * backstop for the residual one. A claim whose writer crashed before
    * writing its dir is left in place deliberately: a stalled-but-alive
    * claimant is indistinguishable from a dead one without leases, so the
    * number is permanently skipped (one empty marker file) rather than
    * ever risking reuse under an in-flight writer. */
  def claimGen(spark: SparkSession, path: String): Long = {
    val (fs, _) = fsOf(spark, path)
    var attempts = 0
    while (attempts < 10000) {
      val g = nextGen(spark, path)
      try {
        fs.create(claimPath(path, g), false).close()
        return g
      } catch {
        // typed collisions retry (hadoop's own class, and java.nio's —
        // some FS shims throw the latter); an UNTYPED IOException retries
        // only when the marker verifiably exists now (a genuine collision
        // phrased generically) — a message sniff would spin 10000 times on
        // unrelated faults ("parent is a file…") and mask the real error
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => attempts += 1
        case _: java.nio.file.FileAlreadyExistsException => attempts += 1
        case e: java.io.IOException =>
          if (scala.util.Try(fs.exists(claimPath(path, g))).getOrElse(false)) attempts += 1
          else throw e
      }
    }
    throw new IllegalStateException(
      s"log store $path: could not claim a generation after 10000 attempts — " +
        "another writer is minting generations faster than this one can retry")
  }

  /** Drop a deleted generation's claim marker (fold GC — safe because
    * counters never re-descend: in-process they only increment, and a
    * fresh process seeds from max(existing dirs)+1, which folds keep at
    * the top). */
  def releaseClaim(spark: SparkSession, path: String, gen: Long): Unit = {
    val (fs, _) = fsOf(spark, path)
    fs.delete(claimPath(path, gen), false)
    ()
  }

  /** The epilogue of the one fold ([[GenLogStore]]): stamp the dest with
    * this process's nonce and the folded range (min lo / max hi over the
    * PINNED inputs), then delete exactly those inputs and release their
    * claims. Deleting only the pinned set — never a fresh listing — is
    * what keeps a fold safe against a concurrent cross-process append: a
    * foreign generation landing between the pin and the delete is neither
    * read into the fold nor destroyed by it, and [[effectiveGens]] orders
    * the dest below it. */
  def retireInputs(spark: SparkSession, path: String, destDir: String,
      inputs: Seq[GenInfo]): Unit = {
    markWriter(spark, destDir)
    if (inputs.nonEmpty)
      writeFoldMarker(spark, destDir, inputs.map(_.lo).min, inputs.map(_.hi).max)
    val (fs, _) = fsOf(spark, path)
    inputs.foreach { i =>
      fs.delete(i.dir, true)
      forgetSize(spark, i.dir)
      releaseClaim(spark, path, i.gen)
    }
    spark.catalog.refreshByPath(path)
  }

  /** Stamp a just-written generation dir with this process's nonce. */
  def markWriter(spark: SparkSession, genDir: String): Unit = {
    val (fs, p) = fsOf(spark, genDir)
    fs.create(new org.apache.hadoop.fs.Path(p, s"_writer_$writerNonce"), true).close()
  }

  /** Fail loudly if any generation carries two writers' nonces — the
    * detectable signature of a violated single-writer contract (both
    * appends to the shared generation survive as files, so the marker
    * count is evidence, not a race). Generations without markers (older
    * stores, foreign writers that crashed pre-stamp) pass: absence proves
    * nothing, and latest-wins over them is still well-defined. Runs over an
    * already-performed [[scanStore]] pass (the read paths scan once and
    * feed both this and the resolve order). */
  def assertSingleWriter(path: String, infos: Seq[GenInfo]): Unit =
    infos.foreach { i =>
      if (i.nonces.length > 1)
        throw new IllegalStateException(
          s"log store $path: generation ${i.dir.getName} carries ${i.nonces.length} writer " +
            s"nonces — two processes appended the same generation. Appends claim their " +
            "generation atomically (GenLog.claimGen), so this indicates a filesystem " +
            "without create-exclusivity or direct interference; cross-process " +
            "writers on such stores need the Delta/Iceberg commit log (COVERAGE §2.1).")
    }

  /** Default auto-compaction threshold: SPARK_GRAFT_LOG_COMPACT_EVERY
    * (strictly parsed — shares [[graft.streaming.Streaming.parsePositiveInt]]
    * with SPARK_GRAFT_GATE_WIDTH), else 32. A `def`, so a bad env value
    * throws the named IllegalArgumentException at store CONSTRUCTION —
    * not an ExceptionInInitializerError from a companion initializer. */
  def defaultAutoCompactEvery: Int =
    graft.streaming.Streaming.parsePositiveInt("SPARK_GRAFT_LOG_COMPACT_EVERY",
      sys.env.get("SPARK_GRAFT_LOG_COMPACT_EVERY"), default = 32)

  /** Drop all cached counters so the next touch re-seeds from the directory
    * — simulates a process restart for the recovery spec. */
  private[graft] def resetCountersForTest(): Unit = { gens.clear(); sizes.clear() }
}

/** The generation-log protocol of both log stores, written once:
  * [[LogUpsertSource]] and [[BucketedLogUpsertSource]] differ only in the
  * layout under each `__gen=N` dir — how one generation's rows are written
  * ([[writeGen]], and [[writeAppend]] for an upsert's batch) and which hive
  * partition columns nest under `__gen` ([[nested]]). Every generation goes
  * through [[writeGen]] whatever its size, except the bucketed layout's
  * level 0, its one small-batch rule. Everything else has one owner here:
  * the generation scan, the append, `overwrite`, `readAt`, and the fold
  * that [[compact]] and [[compactTail]] run over different pinned input sets.
  *
  * Every upsert APPENDS its batch under a new `__gen=N` hive partition and
  * the read resolves keys to their LATEST generation — the Delta/Iceberg
  * commit-log idea (append + resolve, never read-modify-write) with no
  * jar. Semantics: upsert-by-key with latest-write-wins — exactly
  * update-mode streaming's contract (each micro-batch re-emits a key's
  * CUMULATIVE row, so the newest emission is the truth). Read = one window
  * pass keeping row_number()==1 per key ordered by generation desc;
  * duplicates of a key WITHIN one generation are not disambiguated
  * (update-mode emissions are per-key unique by construction; documented,
  * not guarded). Redelivered (at-least-once) batches append identical rows
  * under a newer generation and resolve away. Generations are monotonic
  * per path: a process-local counter seeded from the existing directory
  * listing, so a restart (q212's recovery shape) continues above every
  * persisted generation.
  *
  * This is an UPSERT store, not an append log: `insert` fails loudly
  * rather than silently collapsing duplicate keys. NULL entity keys: the
  * resolve window groups NULLs together, so null-keyed rows collapse to
  * one latest row — a DIVERGENCE from the anti-join stores
  * (ParquetSource/BucketedParquetSource), whose null-safe-less join never
  * matches NULL keys and therefore accumulates them. Entity keys are
  * non-null by contract; the divergence is spec-pinned
  * (LogUpsertSourceSpec), not guarded — a per-batch null scan would tax
  * every micro-batch for a contract violation.
  *
  * Compaction bounds the read cost and file count, which otherwise grow
  * with total EMISSIONS. The ENGINE enforces it, TIERED like any LSM:
  * after every append, once the persisted generation count reaches
  * `autoCompactEvery` (default 32; env SPARK_GRAFT_LOG_COMPACT_EVERY),
  * [[upsert]] runs a crash-safe fold inline — routinely the MINOR
  * [[compactTail]] (merge only the recent tail runs, O(tail emissions),
  * the large base generation's files untouched), and the MAJOR [[compact]]
  * (full O(live keys) rewrite) only when the accumulated tail has grown to
  * the base's size ([[GenLog.tieredTrigger]]) — the classic size-ratio
  * merge schedule. At 100 TB the same fold can also run as a detached
  * periodic OPTIMIZE via [[compact]]. Cross-process APPENDS are safe where
  * the filesystem provides atomic create-no-overwrite (HDFS/ABFS): a
  * writer atomically CLAIMS its generation number before writing
  * ([[GenLog.claimGen]] — create-exclusive `_claim_<N>` marker, honest
  * atomicity caveats in its scaladoc), so two processes cannot interleave
  * files in one generation; concurrent upserts land unique generations
  * totally ordered by claim order, which is exactly latest-wins. The
  * per-generation writer-nonce stamp remains as the detection backstop
  * ([[GenLog.assertSingleWriter]]). Folds coexist with concurrent appends:
  * a fold PINS its input set before reading, deletes exactly that set, and
  * its dest ORDERS at the folded range's upper bound
  * ([[GenLog.effectiveGens]]) — a foreign append landing mid-fold is
  * neither read, nor deleted, nor out-ordered. Concurrent FOLDS and
  * [[overwrite]] remain single-OPERATOR discipline: two racing folds
  * either fail loudly mid-read (inputs deleted under them — staging is
  * outside the store, nothing renamed, no corruption) or both land,
  * resolving to identical values by latest-wins. */
sealed abstract class GenLogStore extends WritableSource {
  def path: String
  def keys: Seq[String]
  def autoCompactEvery: Int
  require(autoCompactEvery >= 2,
    s"autoCompactEvery must be >= 2 (1 would fold the whole store on every " +
      s"append, re-creating the O(store)-per-batch cost this store removes), " +
      s"got $autoCompactEvery")
  /** Write `df` as one generation under `dir` in this store's layout. */
  protected def writeGen(df: DataFrame, mode: SaveMode, dir: String): Unit
  /** Write an upsert's batch as the new generation `dir`; by default in
    * the layout of [[writeGen]]. */
  protected def writeAppend(df: DataFrame, dir: String): Unit = writeGen(df, SaveMode.Append, dir)
  /** The hive partition columns this layout nests under `__gen`. */
  protected def nested: Seq[StructField]

  private val G = GenLog.G
  private def layout = StructField(G, LongType) +: nested

  override def exists(spark: SparkSession): Boolean = PathProbe.exists(spark, path)

  /** Fails loudly: the resolve collapses to ONE row per key, so an
    * append-style insert cannot keep duplicate keys — delegating to upsert
    * would silently turn "append these rows" into "replace by key" (rows
    * lost on generic contract paths that insert, e.g. incremental
    * materialization's fresh-row insert or keyless prediction logging). */
  def insert(df: DataFrame): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName}($path) is an upsert-by-key store: its read resolves to one " +
        "row per key, so insert's append-all-rows contract cannot hold. Call " +
        "upsert(df, keys) explicitly, or configure an append-shaped source " +
        "(ParquetSource / PartitionedParquetSource) for insert-style views.")

  /** The store's generations, after the single-writer check every read and
    * fold runs first, with the stored data schema of one footer. */
  private[sources] def pinned(spark: SparkSession): GenLog.Pinned = {
    val infos = GenLog.scanStore(spark, path)
    GenLog.assertSingleWriter(path, infos)
    GenLog.Pinned(infos, footerSchema(spark, infos))
  }

  /** The stored data schema from ONE parquet footer — the first data file
    * of the first generation holding one, opened on the driver, so no
    * Spark job runs. Every generation shares the schema (the store has no
    * cross-generation schema evolution; conformance casts live at the
    * contract layer). None when no generation holds a data file. */
  private def footerSchema(spark: SparkSession, infos: Seq[GenLog.GenInfo]): Option[StructType] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Spark's own file-index rule: `_`/`.` names are hidden, except hive
    // partition dirs like `__bucket=0`
    def visible(s: FileStatus) = {
      val n = s.getPath.getName
      !n.startsWith(".") && (!n.startsWith("_") || n.contains("="))
    }
    def firstFile(dir: Path): Option[FileStatus] = {
      val (files, dirs) = fs.listStatus(dir).filter(visible).partition(_.isFile)
      files.headOption.orElse(dirs.iterator.flatMap(d => firstFile(d.getPath)).nextOption())
    }
    infos.iterator.flatMap(i => firstFile(i.dir)).nextOption()
      .map(f => ParquetFooter.read(spark, f)._2)
  }

  /** The ONE generation scan: `dirs` under the store root, read with the
    * pinned footer's data schema plus the layout columns, so no read, lookup
    * or fold launches a schema-inference job. With no footer to read it
    * falls back to stock inference and its loud error. */
  protected def scan(spark: SparkSession, pin: GenLog.Pinned, dirs: Seq[Path]): DataFrame = {
    val reader = spark.read.option("basePath", path)
    pin.schema.fold(reader)(s => reader.schema(StructType(s ++ layout)))
      .parquet(dirs.map(_.toString): _*)
  }

  /** Latest-wins over a scan, layout columns dropped. */
  protected def resolve(raw: DataFrame, infos: Seq[GenLog.GenInfo]): DataFrame =
    GenLog.resolveLatest(raw, GenLog.effectiveGens(infos), keys, layout.map(_.name))

  def read(spark: SparkSession): DataFrame = {
    val pin = pinned(spark)
    if (pin.infos.isEmpty) return spark.read.parquet(path) // loud, consistent error
    resolve(scan(spark, pin, pin.infos.map(_.dir)), pin.infos)
  }

  /** TIME TRAVEL (the Delta `versionAsOf` idea on the generation log): the
    * store's state as of generation `gen` — every append IS a snapshot
    * point, so `readAt(g)` resolves latest-wins over only the generations
    * at-or-before `g`. Retention is bounded by the compaction cadence: a
    * fold subsumes its inputs' history, and a request strictly inside a
    * folded range fails LOUDLY ([[GenLog.dirsAt]]) rather than silently
    * returning the post-fold state — raise `autoCompactEvery` (or snapshot
    * externally) for a longer undo window, exactly the Delta
    * VACUUM-retention trade. [[snapshots]] lists the points currently
    * readable. */
  def readAt(spark: SparkSession, gen: Long): DataFrame = {
    val pin = pinned(spark)
    resolve(scan(spark, pin, GenLog.dirsAt(path, pin.infos, gen)), pin.infos)
  }

  /** Exact snapshot points currently retained, ascending. */
  def snapshots(spark: SparkSession): Seq[Long] = GenLog.snapshotGens(spark, path)

  /** Replace the whole log with `df` as its generation 0 through the one
    * staged replace ([[StageAndSwap.replace]]): generation 0, its schema
    * donor and its writer stamp are all written in the staging dir, so a
    * frame that reads this store still finds every old generation while it
    * is written. The replaced generations' cached sizes are dropped, or the
    * next trigger would weigh the tail against a base that is gone. */
  def overwrite(df: DataFrame): Unit = StageAndSwap.replace(df.sparkSession, path) { staging =>
    val spark = df.sparkSession
    val dir = s"$staging/$G=0"
    writeGen(df, SaveMode.Overwrite, dir)
    GenLog.writeDonorIfEmpty(spark, df.schema, dir, nested.map(_.name))
    GenLog.markWriter(spark, dir)
    GenLog.genDirs(spark, path).foreach(GenLog.forgetSize(spark, _))
  }

  def upsert(df: DataFrame, upsertKeys: Seq[String]): Unit = StageAndSwap.locked(df.sparkSession, path) {
    require(upsertKeys == keys,
      s"${getClass.getSimpleName}($path) resolves reads by $keys; an upsert keyed by " +
        s"$upsertKeys would not merge on read")
    val spark = df.sparkSession
    val gen = GenLog.claimGen(spark, path)
    val dir = s"$path/$G=$gen"
    writeAppend(df, dir)
    // an EMPTY batch writes no data files. Detected by ONE cheap listing —
    // never a per-batch isEmpty job, whose executeTake(1) re-ran the whole
    // upstream pipeline. An empty upsert is then a NO-OP: the dir is
    // dropped and its claim released, so empty stream-finalize batches
    // don't advance the log and can't trigger spurious O(tail) folds
    // (measured at ×10: extra fold-per-gate from empty finalize
    // generations). Exception: the store's FIRST generation is kept as
    // the schema donor — a read of an all-empty store must return the
    // empty frame WITH schema, not a schema-inference error.
    if (!GenLog.resolveEmptyGen(spark, path, gen)(
      GenLog.writeDonorIfEmpty(spark, df.schema, dir, nested.map(_.name)))) return
    GenLog.markWriter(spark, dir)
    spark.catalog.refreshByPath(path)
    // amortized auto-compaction bounds generations (and resolve cost) BY
    // THE ENGINE — a production stream runs thousands of micro-batches and
    // must not depend on the operator remembering the OPTIMIZE job
    // (VERDICT r14 #1); tiered, see GenLog.tieredTrigger
    GenLog.tieredTrigger(spark, path, autoCompactEvery,
      major = () => compact(spark), minor = () => compactTail(spark))
  }

  /** The MAJOR fold: the whole log into one resolved generation — the
    * OPTIMIZE half of the LSM story. Read cost grows with total EMISSIONS
    * (every generation's rows flow through the resolve window) until a
    * fold resets it to O(live keys); [[upsert]] triggers it through the
    * tiered schedule, and a deployment can also run it as a detached
    * periodic job. */
  def compact(spark: SparkSession): Unit = fold(spark, "compact", 1)(identity)

  /** The MINOR fold of the tiered schedule: merge every generation EXCEPT
    * the base (lowest) into one new top generation — O(tail emissions),
    * the base generation's files physically untouched (spec-pinned). Exact
    * by the resolve order: the merged rows keep within-tail latest-wins,
    * land under a generation ABOVE the base, and a key present in both
    * still resolves to the tail copy — precisely what the unmerged log
    * resolved to. Nothing to merge below two tail runs. */
  def compactTail(spark: SparkSession): Unit = fold(spark, "compactTail", 2)(_.drop(1))

  /** The one fold body. PIN the input set in one scan: the fold reads
    * exactly these dirs and later deletes exactly these dirs — a foreign
    * append landing between pin and delete is neither folded nor destroyed
    * (a fresh listing at delete time WOULD destroy it). The fold lands
    * under a NEW top generation via stage-and-rename, so a crash between
    * stages leaves every old generation intact and a half-written fold is
    * invisible to the resolve (its generation dir only appears on the
    * final rename); the inputs go only after that ([[GenLog.retireInputs]]). */
  private def fold(spark: SparkSession, op: String, minInputs: Int)(
      pick: Seq[GenLog.GenInfo] => Seq[GenLog.GenInfo]): Unit = StageAndSwap.locked(spark, path) {
    if (!exists(spark)) return
    val pin = pinned(spark)
    val inputs = pick(pin.infos)
    if (inputs.length < minInputs) return
    val resolved = resolve(scan(spark, pin, inputs.map(_.dir)), pin.infos)
    val gen = GenLog.claimGen(spark, path)
    val dest = new Path(s"$path/$G=$gen")
    // staging lives OUTSIDE the store dir: a crash-leftover dir named
    // "__gen=N__tmp" INSIDE it would parse as a string partition and
    // corrupt the numeric generation ordering
    val store = new Path(path)
    val staging = new Path(store.getParent, store.getName + s"__graft_compact_g$gen")
    // materialize the fold FULLY before dropping any input generation
    // (self-overwrite discipline, same as Caching.compact)
    writeGen(resolved, SaveMode.Overwrite, staging.toString)
    GenLog.writeDonorIfEmpty(spark, resolved.schema, staging.toString, nested.map(_.name))
    if (!dest.getFileSystem(spark.sparkContext.hadoopConfiguration).rename(staging, dest))
      throw new java.io.IOException(s"$op: rename $staging -> $dest failed")
    GenLog.retireInputs(spark, path, dest.toString, inputs)
  }
}

/** Log-structured upsert store ([[GenLogStore]], one plain parquet dir per
  * generation). Built for high-frequency upsert sinks (the staged streaming
  * gates' online store): per-batch cost is O(batch) — one plain parquet
  * append, no old-side read, no anti-join, no rewrite, no rename — where
  * [[ParquetSource.upsert]] pays O(store) per batch and even
  * [[BucketedParquetSource]] pays O(touched buckets). Measured at ×100
  * state density this is the difference between a 47× and a single-digit
  * gate ratio (SCALE.md round 14). */
final case class LogUpsertSource(path: String, keys: Seq[String],
    autoCompactEvery: Int = GenLog.defaultAutoCompactEvery,
    // bound each generation's file count by batch BYTES
    // (GenLog.boundGenFiles) — right for BATCH callers, whose frames
    // arrive at scan/session parallelism regardless of size (the r15
    // q245/q248 finding: a fanned 500-row frame minted 32 tiny files per
    // generation). The streaming gates OPT OUT: their sink width is
    // already layout-managed (width-1 gates coalesce(1); scale widths
    // write exactly width files), and the bound's repartition added one
    // exchange per micro-batch AND per fold — measured at the ×10 curve
    // as +1-5 s on every gate before the opt-out.
    boundFiles: Boolean = true) extends GenLogStore {
  protected def nested: Seq[StructField] = Nil
  protected def writeGen(df: DataFrame, mode: SaveMode, dir: String): Unit =
    (if (boundFiles) GenLog.boundGenFiles(df) else df).write.mode(mode).parquet(dir)
}

/** LSM-composed store: [[BucketedParquetSource]]'s hash-bucket layout nested
  * under the generation log ([[GenLogStore]]) — `path/__gen=N/__bucket=H/…`.
  * Each half of the r14 store pair solved half of the problem: the log made
  * APPENDS O(batch) but left point lookups scanning every emission; the
  * buckets made lookups prune but put an old-side read back into every
  * upsert. Composed, an upsert appends ONE partitioned write (no old-side
  * read, no anti-join, no rename) while a point lookup prunes to the probed
  * keys' buckets ACROSS all generations — static hive-partition pruning on
  * `__bucket`, with the bucket ids computed from the entity frame by the
  * writes' own hash expression ([[readForEntities]]). This is the
  * memtable/SSTable split of an LSM tree; the folds are the merge that
  * keeps both halves bounded, and they PRESERVE the bucket layout (every
  * generation is written through the same [[writeGen]]) so lookups stay
  * pruned after every fold. At 100 TB, size
  * `numBuckets` so a bucket's live rows ≈ a few GB; lookup cost is then
  * O(live-bucket + its log tail), flat in store size (spec-measured).
  *
  * Level 0: an upsert of driver rows ([[DriverRows]], the serving shape)
  * planned below [[BucketedLogUpsertSource.TailBatchBytes]] is written by
  * one task as one file under `__gen=N/__bucket=-1`, the TAIL bucket
  * ([[BucketedLogUpsertSource.TailBucket]]), instead of one file per
  * touched hash bucket. Every lookup reads the tail beside its probed
  * buckets, so latest-wins per key still sees every row of the key. The
  * folds read the tail like any other partition and write their output
  * through [[writeGen]], which re-buckets those rows: a fold's generation
  * holds no tail. Level 0 is the only small-batch rule: overwrites, folds
  * and larger or non-local batches are hash-distributed ([[writeGen]]). A
  * reader that predates the tail prunes it away and misses its rows, so a
  * store with tail files needs this reader.
  * (VERDICT r14 #3; reference upsert semantics: sources/local.py:317-340.) */
final case class BucketedLogUpsertSource(path: String, keys: Seq[String],
    numBuckets: Int = 8,
    autoCompactEvery: Int = GenLog.defaultAutoCompactEvery)
    extends GenLogStore with HashBuckets {
  import BucketedLogUpsertSource.{TailBatchBytes, TailBucket}
  protected def bucketKeys: Seq[String] = keys
  protected def nested: Seq[StructField] = Seq(StructField(B, IntegerType))
  /** Hash-distributed on the bucket (`distributed`): a generation's file
    * count is bounded by the layout, not by the writer's parallelism. */
  protected def writeGen(df: DataFrame, mode: SaveMode, dir: String): Unit =
    distributed(df).write.mode(mode).partitionBy(B).parquet(dir)

  /** Level 0 (see the class doc): driver rows planned below
    * [[BucketedLogUpsertSource.TailBatchBytes]] land as one file in the
    * tail bucket. An empty batch of driver rows writes nothing, so the
    * upsert's empty-generation rule sees no data and drops it. */
  override protected def writeAppend(df: DataFrame, dir: String): Unit =
    DriverRows.relation(df) match {
      case Some(rows) if rows.stats.sizeInBytes < TailBatchBytes =>
        if (rows.data.nonEmpty)
          df.coalesce(1).write.mode(SaveMode.Append).parquet(s"$dir/$B=$TailBucket")
      case _ => writeGen(df, SaveMode.Append, dir)
    }

  /** The point-lookup path: latest rows for exactly the keys present in
    * `entities` — scans ONLY those keys' buckets and the tail bucket across
    * the generations, then resolves latest-wins on the pruned sliver. The
    * bucket ids come from the same `withBucket` expression the writes use:
    * for a probe of driver rows ([[DriverRows]]) the optimizer evaluates it
    * while optimizing and the ids are deduped on the driver, so no job
    * runs; any other probe runs a small distinct-collect (≤ numBuckets
    * ints). A key always hashes to the same bucket, and a tail row may hold
    * any key, so per-key resolution over the pruned frame equals resolution
    * over the full store. The resolve leaves one row per key. Rows for
    * OTHER keys sharing a probed bucket are filtered by the caller's key
    * join/predicate (onlineFeaturesFor layers its key predicate on top). */
  def readForEntities(spark: SparkSession, entities: DataFrame): DataFrame = {
    val pin = pinned(spark)
    if (pin.infos.isEmpty) spark.read.parquet(path) // loud, consistent error
    else pruned(spark, entities, pin)
  }

  /** The online lookup's store half: [[readForEntities]] over ONE pinned
    * listing, whose footer also checks the key types (no job). None when
    * the store holds no data file, the listing races a fold, or a stored
    * key type differs from `declaredKeyTypes`: a key needing a conformance
    * cast could hold "01", whose cast image 1 hashes to another bucket than
    * the probe's, so pruning would miss a row the full-scan path finds. */
  private[graft] def latestFor(spark: SparkSession, probe: DataFrame,
      declaredKeyTypes: Map[String, DataType]): Option[DataFrame] =
    scala.util.Try(pinned(spark)).toOption
      .filter(_.schema.exists(stored => keys.forall(k =>
        stored.find(_.name == k).map(_.dataType) == declaredKeyTypes.get(k))))
      .map(pruned(spark, probe, _))

  /** [[readForEntities]] over a pinned listing that holds a generation. */
  private def pruned(spark: SparkSession, entities: DataFrame, pin: GenLog.Pinned): DataFrame = {
    val raw = scan(spark, pin, pin.infos.map(_.dir))
    // xxhash64 is TYPE-sensitive (hash(1: int) != hash(1L)): probe values
    // must hash with the STORE's own key types or the pruning silently
    // selects the wrong buckets — cast the probe frame to the stored
    // schema (the scan's footer schema) before bucketing; try_cast, as a
    // value that does not fit equals no stored key (ANSI's cast throws)
    val stored = raw.schema.map(f => f.name -> f.dataType).toMap
    val probeKeys = entities.select(keys.map(col): _*)
    val local = DriverRows.isLocal(probeKeys)
    val probes = keys.foldLeft(if (local) probeKeys else probeKeys.distinct()) {
      (df, k) => stored.get(k).map(t => df.withColumn(k, col(k).try_cast(t))).getOrElse(df)
    }
    val bucketIds = withBucket(probes).select(B)
    val ids = (if (local) bucketIds else bucketIds.distinct()).collect()
      .map(_.getInt(0)).distinct.toIndexedSeq
    resolve(raw.filter(if (ids.isEmpty) lit(false) else col(B).isin(ids :+ TailBucket: _*)),
      pin.infos)
  }
}

object BucketedLogUpsertSource {
  /** The tail bucket id: level 0 of the store (see the class doc). */
  val TailBucket: Int = -1
  /** The planned bytes below which an upsert of driver rows goes to the
    * tail bucket as one file. */
  val TailBatchBytes: Long = 1L << 20
}

final case class CsvSource(
    path: String,
    sep: String = ",",
    header: Boolean = true,
    dateFormat: Option[String] = None) extends WritableSource {
  def read(spark: SparkSession): DataFrame = {
    var r = spark.read.option("sep", sep).option("header", header.toString).option("inferSchema", "true")
    dateFormat.foreach(f => r = r.option("timestampFormat", f))
    r.csv(path)
  }
  override def exists(spark: SparkSession): Boolean = PathProbe.exists(spark, path)
  private def writer(df: DataFrame) =
    df.write.option("sep", sep).option("header", header.toString)
  def insert(df: DataFrame): Unit = writer(df).mode(SaveMode.Append).csv(path)
  def overwrite(df: DataFrame): Unit =
    StageAndSwap.replace(df.sparkSession, path)(p => writer(df).mode(SaveMode.Overwrite).csv(p))
  def upsert(df: DataFrame, keys: Seq[String]): Unit = StageAndSwap.upsert(this, path, df, keys)
}

/** Delta Lake table (reference: DeltaFileSource, sources/local.py:887-1055 —
  * scan, append, entity-key MERGE upsert, overwrite). Code-complete against
  * the stable `format("delta")` DataSource API and the ANSI MERGE INTO
  * statement; only the delta-spark jar + session extension binding is absent
  * in this offline build (zero-egress: the jar cannot resolve), so the
  * methods compile and are exercised at the SQL/algebra level in
  * DeltaSourceSpec rather than end-to-end. Unlike the plain-file sources,
  * upsert here is a TARGET-SIDE transaction: the commit log gives the
  * atomicity StageAndSwap emulates with a temp-dir rewrite, and only touched
  * files rewrite — the 100 TB-correct shape for mutable tables. */
final case class DeltaSource(path: String) extends WritableSource {
  def read(spark: SparkSession): DataFrame = spark.read.format("delta").load(path)
  /** A Delta table exists iff its commit log does — probing the bare dir
    * would mistake leftover data files for a live table. */
  override def exists(spark: SparkSession): Boolean =
    PathProbe.exists(spark, path + "/_delta_log")
  def insert(df: DataFrame): Unit =
    df.write.format("delta").mode(SaveMode.Append).save(path)
  def overwrite(df: DataFrame): Unit =
    df.write.format("delta").mode(SaveMode.Overwrite).save(path)
  /** Entity-key upsert as a real MERGE INTO (reference local.py:1010-1051).
    * Same algebra as [[StageAndSwap.upsert]] — matched rows replaced,
    * unmatched kept, new rows inserted — proven equivalent on the
    * parquet-backed emulation in DeltaSourceSpec. */
  def upsert(df: DataFrame, keys: Seq[String]): Unit =
    if (!exists(df.sparkSession)) insert(df)
    else MergeUpsert.run(df, s"delta.`$path`", keys)
  /** The MERGE statement [[upsert]] runs — exposed so the spec can gate its
    * shape without a live Delta runtime. */
  def mergeSql(sourceView: String, keys: Seq[String]): String =
    MergeUpsert.statement(s"delta.`$path`", sourceView, keys)
}

/** Apache Iceberg table (SURVEY §2.1: IcebergSource). Identified by a
  * CATALOG TABLE NAME, not a path — Iceberg's metadata lives in the
  * catalog. Every method uses catalog-neutral Spark APIs (spark.table,
  * DataFrameWriterV2, ANSI MERGE INTO), so the class is code-complete with
  * only the iceberg-runtime jar + catalog conf absent in this offline
  * build (build.sbt DEPLOY NOTE). Like [[DeltaSource]], upsert is a
  * target-side transaction: the snapshot commit gives the atomicity
  * StageAndSwap emulates for plain files. */
final case class IcebergSource(table: String) extends WritableSource {
  def read(spark: SparkSession): DataFrame = spark.table(table)
  // an UNBOUND catalog raises AnalysisException on multi-part names — that
  // means "not reachable here", not a transient read failure, so mapping it
  // to false is safe (unlike the file sources' existence probes)
  override def exists(spark: SparkSession): Boolean =
    try spark.catalog.tableExists(table)
    catch { case _: org.apache.spark.sql.AnalysisException => false }
  def insert(df: DataFrame): Unit = df.writeTo(table).append()
  def overwrite(df: DataFrame): Unit = df.writeTo(table).createOrReplace()
  def upsert(df: DataFrame, keys: Seq[String]): Unit =
    if (!exists(df.sparkSession)) df.writeTo(table).create()
    else MergeUpsert.run(df, table, keys)
  def mergeSql(sourceView: String, keys: Seq[String]): String =
    MergeUpsert.statement(table, sourceView, keys)
}

/** Shared MERGE INTO upsert for transactional table formats (Delta,
  * Iceberg): entity-key equality, update-all matched, insert-all new —
  * the exact algebra [[StageAndSwap]] implements for plain files. */
private[sources] object MergeUpsert {
  def statement(target: String, sourceView: String, keys: Seq[String]): String = {
    require(keys.nonEmpty, "merge upsert needs at least one entity key")
    val on = keys.map(k => s"t.`$k` = s.`$k`").mkString(" AND ")
    s"MERGE INTO $target t USING $sourceView s ON $on " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
  }
  def run(df: DataFrame, target: String, keys: Seq[String]): Unit = {
    val spark = df.sparkSession
    val view = s"__graft_merge_src_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    df.createOrReplaceTempView(view)
    try spark.sql(statement(target, view, keys))
    finally spark.catalog.dropTempView(view)
  }
}

/** Newline-delimited JSON (the interchange format most ingest pipelines and
  * LLM-corpus dumps arrive in; the reference covers the same niche with its
  * CSV config, sources/local.py:207-489). Schema may be pinned to avoid the
  * inference scan — at 100 TB, `schema` is required reading: inference is a
  * full extra pass over the data. Upsert = stage-and-swap rewrite, like
  * parquet. */
final case class JsonLinesSource(
    path: String,
    schema: Option[org.apache.spark.sql.types.StructType] = None) extends WritableSource {
  // Spark's DEFAULT json write truncates timestamps to milliseconds
  // (".SSSXXX" — measured: 10:00:00.123456 → "10:00:00.123Z"), which would
  // silently corrupt as-of ordering on every upsert round-trip; pin a
  // microsecond format on BOTH sides
  private val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
  private def reader(spark: SparkSession) =
    spark.read.option("timestampFormat", tsFmt)
  private def writer(df: DataFrame) =
    df.write.option("timestampFormat", tsFmt)
  def read(spark: SparkSession): DataFrame = schema match {
    case Some(s) => reader(spark).schema(s).json(path)
    case None => reader(spark).json(path)
  }
  override def exists(spark: SparkSession): Boolean = PathProbe.exists(spark, path)
  def insert(df: DataFrame): Unit = writer(df).mode(SaveMode.Append).json(path)
  def overwrite(df: DataFrame): Unit =
    StageAndSwap.replace(df.sparkSession, path)(p => writer(df).mode(SaveMode.Overwrite).json(p))
  def upsert(df: DataFrame, keys: Seq[String]): Unit = StageAndSwap.upsert(this, path, df, keys)
}

/** ORC table — the other columnar format Spark ships a vectorized,
  * predicate-pushing reader for (PushedFilters reach ORC exactly like
  * parquet; covered by the pushdown plan assertions in SourcesSpec). */
final case class OrcSource(path: String) extends WritableSource {
  def read(spark: SparkSession): DataFrame = spark.read.orc(path)
  override def exists(spark: SparkSession): Boolean = PathProbe.exists(spark, path)
  def insert(df: DataFrame): Unit = df.write.mode(SaveMode.Append).orc(path)
  def overwrite(df: DataFrame): Unit =
    StageAndSwap.replace(df.sparkSession, path)(p => df.write.mode(SaveMode.Overwrite).orc(p))
  def upsert(df: DataFrame, keys: Seq[String]): Unit = StageAndSwap.upsert(this, path, df, keys)
}

/** The one replace protocol of every file store: "replace this table's
  * contents" is written once here, and every `overwrite` — parquet,
  * partitioned, bucketed, csv, jsonl, orc and both log stores — plus
  * `Caching.compact`/`fileCached` is a single [[replace]] call with its own
  * format writer. [[replace]] writes the new contents into ONE fresh
  * sibling staging dir (`<name>__graft_replace`), then swaps it over the
  * live path with one `FileSystem.rename` and refreshes Spark's cached
  * file index. The old files stay untouched until the new ones are fully
  * written, so a frame that reads the table it replaces (read-modify-
  * overwrite, `INSERT OVERWRITE t SELECT … FROM t`) keeps its rows, and a
  * write that fails leaves the old table as it was. [[upsert]] is the
  * reference's algebra on top (sources/local.py:317-340): the store's own
  * `overwrite` of [[mergeByKey]] (old rows whose keys the batch lacks ∪
  * the batch), so a store states its writer once. Delta/Iceberg commit
  * through their own log instead (COVERAGE §2.1).
  *
  * Crash window: the swap is `delete(dest)` then `rename(staging, dest)`,
  * two metadata calls. A crash between them leaves no table at `path`
  * and the complete new contents in the staging dir; recover by renaming
  * it into place before the path is written again, since the next replace
  * clears the staging dir first. On object stores the rename is a
  * server-side copy. Rename-aside with an open-time recovery probe is not
  * built yet.
  *
  * Concurrency contract: each replace, and each upsert's whole
  * read-merge-write-swap, holds a per-canonical-path lock, so concurrent
  * writes to ONE path from this JVM serialize and concurrent upserts end
  * as their exact union. The lock is intra-JVM only — locking just the
  * swap would not help, since both writers would merge against the same
  * old snapshot and the last swap would silently drop the other's rows.
  * CROSS-process coordination is explicitly out of scope: that is the
  * Delta/Iceberg commit log's job (COVERAGE §2.1). */
private[graft] object StageAndSwap {
  /** One monitor per qualified path; the map only ever grows by distinct
    * table paths touched by this JVM (bounded by the contract registry). */
  private val pathLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `body` holding this JVM's lock for `path` (qualified against the
    * path's OWN filesystem so `/x`, `file:/x` and `file:///x` share one
    * monitor). Re-entrant: an upsert's `overwrite` re-takes it. */
  private[graft] def locked[T](spark: SparkSession, path: String)(body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val key = p.getFileSystem(conf).makeQualified(p).toString
    val monitor = pathLocks.computeIfAbsent(key, _ => new Object)
    monitor.synchronized(body)
  }

  /** Replace `path`'s contents with what `write` puts in the staging dir it
    * is handed, then swap that dir over `path`; throws (leaving the staging
    * dir intact for recovery) if the rename is refused. */
  def replace(spark: SparkSession, path: String)(write: String => Unit): Unit =
    locked(spark, path) {
      val dest = new org.apache.hadoop.fs.Path(path)
      // the path's OWN filesystem, not FileSystem.get's defaultFS — dest may
      // live on s3a://|abfss:// while fs.defaultFS is file:// or hdfs://,
      // and delete/rename against the wrong fs throw "Wrong FS"
      val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // SIBLING staging dir via Path(parent, name+suffix), never string
      // concat: with a trailing-slash `path` the concat form nests the
      // staging dir INSIDE dest, and the swap's recursive delete would
      // destroy both the old table and the freshly staged contents
      val staging = new org.apache.hadoop.fs.Path(dest.getParent, dest.getName + "__graft_replace")
      fs.delete(staging, true)
      write(staging.toString)
      fs.delete(dest, true)
      if (!fs.rename(staging, dest))
        throw new java.io.IOException(s"replace: rename $staging -> $path failed")
      // the rename bypasses Spark's write path, so drop any cached file
      // index a prior read of `path` established
      spark.catalog.refreshByPath(path)
    }

  /** Upsert on a whole-table store: overwrite it with the merge, under the
    * path lock. Existence probe, NOT try/catch around read: a transient
    * read failure must propagate, or the overwrite would drop the old
    * rows. */
  def upsert(src: WritableSource, path: String, df: DataFrame, keys: Seq[String]): Unit =
    locked(df.sparkSession, path) {
      val spark = df.sparkSession
      src.overwrite(if (src.exists(spark)) mergeByKey(src.read(spark), df, keys) else df)
    }

  /** The upsert algebra, written once: `old`'s rows whose keys `df` lacks,
    * plus every row of `df`. */
  def mergeByKey(old: DataFrame, df: DataFrame, keys: Seq[String]): DataFrame =
    old.join(df.select(keys.map(col): _*).distinct(), keys, "left_anti").unionByName(df)
}

/** Literal in-memory frame (reference: InMemorySource, sources/in_mem_source.py:61). */
final case class InMemorySource(rows: Seq[org.apache.spark.sql.Row], schema: org.apache.spark.sql.types.StructType)
    extends BatchSource {
  def read(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
}

/** Deterministic synthetic source satisfying a contract schema — test source
  * (reference: RandomDataSource, sources/random_source.py:186). Generated
  * distributed via spark.range, not driver-side. */
final case class RandomSource(view: graft.contract.FeatureView, n: Long, seed: Long = 42L)
    extends BatchSource {
  import graft.core.FeatureType._
  def read(spark: SparkSession): DataFrame = {
    val base = spark.range(n).withColumnRenamed("id", "__row")
    val all = view.entities ++ view.features
    val withCols = all.foldLeft(base) { (df, f) =>
      val r = abs(xxhash64(col("__row"), lit(f.name), lit(seed)))
      val c = f.dtype match {
        case FString => concat(lit(f.name + "_"), (r % 1000).cast("string"))
        case FInt8 | FInt16 | FInt32 => (r % 1000).cast(f.dtype.sparkType)
        case FInt64 | FUInt64 => (r % 1000000).cast("long")
        case FFloat32 | FFloat64 => ((r % 100000).cast("double") / 100.0).cast(f.dtype.sparkType)
        case FBool => (r % 2 === 0)
        case _: FDatetime => timestamp_seconds(lit(1700000000L) + (r % 864000))
        case FDate => date_add(lit(java.sql.Date.valueOf("2024-01-01")), (r % 365).cast("int"))
        case _ => concat(lit(f.name + "_"), (r % 1000).cast("string"))
      }
      df.withColumn(f.name, c)
    }
    val withTs = view.eventTimestamp.fold(withCols)(ts =>
      withCols.withColumn(ts.name, timestamp_seconds(lit(1700000000L) + (col("__row") % 864000))))
    withTs.drop("__row")
  }
}

// --- composite / virtual sources (batch_data_source.py:793-1457) ---

/** predicate applied at scan; Catalyst pushes it into the file scan. */
final case class FilteredSource(inner: BatchSource, predicate: Column) extends BatchSource {
  def read(spark: SparkSession): DataFrame = inner.read(spark).filter(predicate)
}

/** equi-join of two sources (JoinDataSource, batch_data_source.py:1341-1457). */
final case class JoinSource(left: BatchSource, right: BatchSource, keys: Seq[String], how: String = "inner")
    extends BatchSource {
  def read(spark: SparkSession): DataFrame = left.read(spark).join(right.read(spark), keys, how)
}

/** as-of join of two sources (JoinAsofDataSource, batch_data_source.py:1016-1146). */
final case class JoinAsofSource(
    left: BatchSource, right: BatchSource,
    leftTs: String, rightTs: String, by: Seq[String]) extends BatchSource {
  def read(spark: SparkSession): DataFrame =
    graft.ops.Joins.asofJoin(left.read(spark), right.read(spark), leftTs, rightTs, by)
}

/** UNION ALL with optional provenance column (StackSource,
  * batch_data_source.py:1149-1285; StackJob retrieval_job.py:1742-1792). */
final case class StackSource(
    top: BatchSource, bottom: BatchSource,
    provenanceColumn: Option[String] = None,
    topName: String = "top", bottomName: String = "bottom") extends BatchSource {
  def read(spark: SparkSession): DataFrame = {
    val (t0, b0) = (top.read(spark), bottom.read(spark))
    val (t, b) = provenanceColumn match {
      case Some(p) => (t0.withColumn(p, lit(topName)), b0.withColumn(p, lit(bottomName)))
      case None => (t0, b0)
    }
    t.unionByName(b.select(t.columns.map(col): _*))
  }
}

/** wall-clock load timestamp (LoadedAtSource, batch_data_source.py:1288-1338).
  * `clock` pins the stamp for reproducible runs/backfills and makes the
  * source oracle-gateable (q243); None = wall clock, the production
  * default. current_timestamp() is per-QUERY constant in Spark, so even
  * the wall-clock form stamps one instant per load, not per row. */
final case class LoadedAtSource(inner: BatchSource, column: String = "loaded_at",
    clock: Option[java.sql.Timestamp] = None) extends BatchSource {
  def read(spark: SparkSession): DataFrame = inner.read(spark)
    .withColumn(column, clock.map(lit(_)).getOrElse(current_timestamp()))
}

/** arbitrary DataFrame→DataFrame function over a source (TransformSource,
  * batch_data_source.py:515-574). */
final case class TransformSource(inner: BatchSource, f: DataFrame => DataFrame) extends BatchSource {
  def read(spark: SparkSession): DataFrame = f(inner.read(spark))
}

/** fully custom callable source (CustomMethodDataSource, batch_data_source.py:577-790). */
final case class CustomSource(f: SparkSession => DataFrame) extends BatchSource {
  def read(spark: SparkSession): DataFrame = f(spark)
}

/** another view used as a source, including its derived features
  * (FeatureViewReferenceSource, schemas/feature_view.py:292). Resolved lazily
  * through the store to allow forward references. */
final case class ViewReferenceSource(store: () => graft.store.ContractStore, viewName: String)
    extends BatchSource {
  def read(spark: SparkSession): DataFrame = store().view(viewName).all(spark)
}

/** Raw file bytes (reference: StorageFileSource, sources/local.py:1058-1085):
  * one row per file with path, length, modificationTime, content — Spark's
  * binaryFile format. `pathGlob` limits the files read. */
final case class StorageSource(path: String, pathGlob: Option[String] = None) extends BatchSource {
  def read(spark: SparkSession): DataFrame = {
    var r = spark.read.format("binaryFile")
    pathGlob.foreach(g => r = r.option("pathGlobFilter", g))
    r.load(path)
  }
}

/** JDBC table source (reference psql/redshift sources, sources/psql.py) —
  * filter/column pushdown comes free via the JDBC connector. */
final case class JdbcSource(url: String, table: String, props: Map[String, String] = Map.empty)
    extends BatchSource {
  def read(spark: SparkSession): DataFrame = {
    val p = new java.util.Properties(); props.foreach { case (k, v) => p.put(k, v) }
    spark.read.jdbc(url, table, p)
  }
}
