package graft

import graft.contract._
import graft.core.FeatureType
import graft.core.FeatureType._
import graft.expr._
import graft.ops._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Type mapping goldens (reference mapping: schemas/feature.py:197-269). */
class TypesSpec extends AnyFunSuite {
  test("name round-trip") {
    val cases = Seq("string", "int32", "int64", "float32", "float64", "bool",
      "date", "datetime-UTC", "array-int64", "embedding-64", "binary", "uuid")
    cases.foreach { n => assert(FeatureType.fromName(n).name == n) }
  }
  test("spark mapping matches the reference's own spark_type table") {
    assert(FInt8.sparkType == ByteType)
    assert(FUInt64.sparkType == LongType)
    assert(FEmbedding(64).sparkType == ArrayType(FloatType))
    assert(FDatetime(Some("UTC")).sparkType == TimestampType)
    assert(FArray(FInt32).sparkType == ArrayType(IntegerType))
    assert(FStruct(Map("b" -> FString, "a" -> FInt64)).sparkType ==
      StructType(Seq(StructField("a", LongType), StructField("b", StringType))))
  }
  test("fromSpark inverse") {
    assert(FeatureType.fromSpark(LongType) == FInt64)
    assert(FeatureType.fromSpark(ArrayType(DoubleType)) == FArray(FFloat64))
  }
}

/** Per-operator goldens for the expression ADT — the pattern of the
  * reference's self-registered TestDefinitions (transformation.py:31-60). */
class ExprSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def eval1(e: Expr, df: DataFrame): Any = df.select(e.toColumn).head().get(0)

  test("binary arithmetic and comparison") {
    val df = Seq((7.0, 2.0)).toDF("a", "b")
    assert(eval1(Binary("add", Ref("a"), Ref("b")), df) == 9.0)
    assert(eval1(Binary("floor_div", Lit(-7.0), Lit(2.0)), df) == -4.0) // floor, not trunc
    assert(eval1(Binary("pow", Ref("a"), Ref("b")), df) == 49.0)
    assert(eval1(Binary("max", Ref("a"), Ref("b")), df) == 7.0)
    assert(eval1(Ref("a") > Ref("b"), df) == true)
  }
  test("string binaries") {
    val df = Seq(("hello world", "wor")).toDF("s", "p")
    assert(eval1(Binary("str_contains", Ref("s"), Ref("p")), df) == true)
    assert(eval1(Binary("concat", Ref("s"), Ref("p")), df) == "hello worldwor")
    assert(eval1(Binary("str_find", Ref("s"), Ref("p")), df) == 6) // 0-based like polars
  }
  test("unary math") {
    val df = Seq((-2.25)).toDF("x")
    assert(eval1(Unary("abs", Ref("x")), df) == 2.25)
    assert(eval1(Unary("floor", Ref("x")), df) == -3.0)
    assert(eval1(Unary("sign", Ref("x")), df) == -1.0)
    assert(eval1(Unary("is_finite", Ref("x")), df) == true)
    assert(eval1(Unary("arcsinh", Lit(0.0)), df) == 0.0)
  }
  test("null handling") {
    val df = Seq((Some(1.0), None: Option[Double])).toDF("a", "b")
    assert(eval1(Unary("is_null", Ref("b")), df) == true)
    assert(eval1(FillNaColumn(Ref("b"), Ref("a")), df) == 1.0)
    assert(eval1(FillNa(Ref("b"), 9.0), df) == 9.0)
  }
  test("array ops") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    assert(eval1(ListDotProduct(Ref("a"), Ref("b")), df) == 32.0)
    assert(eval1(ArrayAtIndex(Ref("a"), 1), df) == 2.0)
    assert(eval1(ArrayContainsAny(Ref("a"), Seq(3.0, 9.0)), df) == true)
  }
  test("MapArgMax picks the max-probability label") {
    val df = Seq((0.2, 0.7, 0.1)).toDF("p_a", "p_b", "p_c")
    assert(eval1(MapArgMax(Seq("p_a" -> "a", "p_b" -> "b", "p_c" -> "c")), df) == "b")
  }
  test("MultiExpr inlines step aliases at lowering — aliases never need real columns") {
    val df = Seq(3.0).toDF("x")
    // output references step aliases that exist as columns nowhere
    val e = MultiExpr(
      Seq("tmp" -> Binary("add", Ref("x"), Lit(1.0)),
        "tmp2" -> Binary("mul", Ref("tmp"), Lit(2.0))),
      Binary("sub", Ref("tmp2"), Ref("x")))
    assert(eval1(e, df) == 5.0) // (3+1)*2 - 3
    // a step alias shadowing a REAL column: later refs bind to the step
    val shadow = MultiExpr(Seq("x" -> Binary("add", Ref("x"), Lit(10.0))), Ref("x"))
    assert(eval1(shadow, df) == 13.0)
  }
  test("MultiExpr steps materialize via planner rounds") {
    val v = FeatureView("m", graft.sources.CustomSource(s => {
      import s.implicits._; Seq((2.0)).toDF("x")
    }),
      features = Seq(Feature("x", FFloat64)),
      derived = Seq(
        DerivedFeature("y", FFloat64, Ref("x") * Lit(3.0), Seq("x"), depth = 1),
        DerivedFeature("z", FFloat64, Ref("y") + Ref("x"), Seq("y", "x"), depth = 2)))
    val out = new graft.store.ContractStore().addView(v).view("m").all(spark)
    assert(out.select("z").head().getDouble(0) == 8.0)
  }
}

/** As-of / PIT join semantics incl. the reference's null/TTL rules
  * (local/job.py:567-595). */
class JoinsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asof backward picks latest right <= left, keeps unmatched") {
    val left = Seq((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 09:00:00")))
      .toDF("id", "ts")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), "a"),
      (1L, ts("2024-01-01 09:59:00"), "b"),
      (1L, ts("2024-01-01 10:01:00"), "c"),
      (3L, ts("2024-01-01 08:00:00"), "x")).toDF("id", "ts", "v")
    val out = Joins.asofJoin(left, right, "ts", "ts", Seq("id"))
      .orderBy("id").collect()
    assert(out(0).getAs[String]("v") == "b") // latest <= 10:00
    assert(out(1).get(out(1).fieldIndex("v")) == null) // id=2 has no match
  }

  test("asof tolerance bounds the lookback") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("id", "ts")
    val right = Seq((1L, ts("2024-01-01 08:00:00"), "old")).toDF("id", "ts", "v")
    val out = Joins.asofJoin(left, right, "ts", "ts", Seq("id"),
      tolerance = Some(java.time.Duration.ofHours(1)))
    assert(out.head().getAs[String]("v") == null)
  }

  test("PIT join: null feature timestamps always pass (reference rule)") {
    val facts = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("id", "fact_ts")
    val feats = Seq(
      (1L, null.asInstanceOf[java.sql.Timestamp], "untimestamped"))
      .toDF("id", "feat_ts", "v")
    val out = Joins.pointInTimeJoin(facts, feats, Seq("id"), "feat_ts", "fact_ts")
    assert(out.head().getAs[String]("v") == "untimestamped")
  }

  test("PIT join TTL window is inclusive") {
    val facts = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("id", "fact_ts")
    val feats = Seq(
      (1L, ts("2024-01-01 09:00:00"), "boundary"),
      (1L, ts("2024-01-01 08:59:59"), "expired")).toDF("id", "feat_ts", "v")
    val out = Joins.pointInTimeJoin(facts, feats, Seq("id"), "feat_ts", "fact_ts",
      ttl = Some(java.time.Duration.ofHours(1)))
    assert(out.head().getAs[String]("v") == "boundary")
  }

  test("combine merges per-source frames on entity keys") {
    val ents = Seq((1L), (2L)).toDF("id")
    val a = Seq((1L, "x")).toDF("id", "fa")
    val b = Seq((2L, "y")).toDF("id", "fb")
    val out = Joins.combine(ents, Seq((a, Seq("id")), (b, Seq("id")))).orderBy("id").collect()
    assert(out(0).getAs[String]("fa") == "x" && out(0).get(2) == null)
    assert(out(1).get(1) == null && out(1).getAs[String]("fb") == "y")
  }
}

/** Source round-trips: insert / overwrite / upsert algebra
  * (reference: sources/local.py:317-399, 658-717). */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_src").toString

  test("compact rewrites many small files into clustered target-size files") {
    val dir = tmpDir() + "/c"
    val df = (1L to 10000L).map(i => (i, i % 97)).toDF("id", "k").repartition(50)
    Caching.compact(df, dir, targetRecordsPerFile = 2500, clusterBy = Seq("id"))
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 4 && files.length <= 8, s"got ${files.length} files from 50 input partitions")
    val back = spark.read.parquet(dir)
    assert(back.count() == 10000)
    // range clustering: per-file id ranges must be disjoint (min/max stats
    // make file skipping selective)
    val ranges = back.groupBy(input_file_name()).agg(min(col("id")), max(col("id")))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.toSeq.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, s"overlapping file ranges: ${ranges.toSeq}")
    // IN-PLACE compaction (outPath == the frame's own source path) must not
    // clobber the files it is reading — the write stages and swaps
    Caching.compact(spark.read.parquet(dir), dir, targetRecordsPerFile = 5000,
      clusterBy = Seq("id"))
    assert(spark.read.parquet(dir).count() == 10000)
  }

  test("hive-partitioned reads prune partitions in the plan") {
    val dir = tmpDir() + "/p"
    val src = graft.sources.PartitionedParquetSource(dir, Seq("d"))
    src.overwrite(Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-03"))
      .toDF("id", "d"))
    val q = src.read(spark).filter(col("d") === "2024-01-02")
    val plan = q.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*d#".r.findFirstIn(plan).isDefined,
      s"partition filter missing from scan:\n$plan")
    // pruning is physical: only the matching partition's files are opened
    assert(q.select(input_file_name()).distinct().count() == 1)
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("parquet upsert replaces matching keys, keeps the rest") {
    val dir = tmpDir() + "/t"
    val src = graft.sources.ParquetSource(dir)
    src.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    src.upsert(Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))
    val out = src.read(spark).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("partitioned parquet upsert rewrites only touched partitions") {
    val dir = tmpDir() + "/p"
    val src = graft.sources.PartitionedParquetSource(dir, Seq("part"))
    src.overwrite(Seq((1L, "p1", "a"), (2L, "p2", "b")).toDF("id", "part", "v"))
    src.upsert(Seq((3L, "p2", "c")).toDF("id", "part", "v"), Seq("id"))
    val out = src.read(spark).orderBy("id").collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1L, 2L, 3L))
  }

  test("csv round-trip with custom separator") {
    val dir = tmpDir() + "/c"
    val src = graft.sources.CsvSource(dir, sep = ";")
    src.overwrite(Seq((1L, "x")).toDF("id", "v"))
    assert(src.read(spark).count() == 1)
  }

  test("csv upsert replaces matching keys via stage-and-swap (no driver collect)") {
    val dir = tmpDir() + "/cu"
    val src = graft.sources.CsvSource(dir, sep = ";")
    src.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    src.upsert(Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))
    // CSV read-back re-infers (small longs come back as ints) — compare
    // through Number, the round-trip type is not the point of this test
    val out = src.read(spark).orderBy("id").collect()
      .map(r => (r.getAs[Number]("id").longValue, r.getString(1)))
    assert(out.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c")))
    // the stage dir must be gone after the swap
    assert(!new java.io.File(dir + "__tmp_upsert").exists())
    // self-overwrite safety: a second upsert reading its own output
    src.upsert(Seq((1L, "A")).toDF("id", "v"), Seq("id"))
    assert(src.read(spark).count() == 3)
  }

  test("delta source: merge statement shape + parquet-emulated merge algebra") {
    val delta = graft.sources.DeltaSource("/data/tbl")
    val sql = delta.mergeSql("src_view", Seq("id", "region"))
    // entity-key equality on every key, update-all matched, insert-all new —
    // the exact algebra StageAndSwap implements with anti-join + union
    assert(sql == "MERGE INTO delta.`/data/tbl` t USING src_view s " +
      "ON t.`id` = s.`id` AND t.`region` = s.`region` " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assertThrows[IllegalArgumentException](delta.mergeSql("v", Nil))
    // absent commit log ⇒ not a table, even if stray files exist
    assert(!delta.exists(spark))
    // MERGE semantics ≡ the anti-join+union merge: prove on the parquet
    // emulation (the delta jar is unresolvable offline; the algebra is the
    // portable part)
    val dir = tmpDir() + "/dm"
    val emu = graft.sources.ParquetSource(dir)
    emu.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    emu.upsert(Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))
    val out = emu.read(spark).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("iceberg source: catalog-name merge target + existence via the catalog") {
    val ice = graft.sources.IcebergSource("lake.db.events")
    assert(ice.mergeSql("batch", Seq("event_id")) ==
      "MERGE INTO lake.db.events t USING batch s ON t.`event_id` = s.`event_id` " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    // no iceberg catalog bound in the offline session: the table can't exist
    assert(!ice.exists(spark))
  }

  test("jsonl round-trip, pinned schema, and upsert") {
    val dir = tmpDir() + "/j"
    val src = graft.sources.JsonLinesSource(dir)
    src.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    src.upsert(Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))
    val out = src.read(spark).orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c")))
    // pinned schema skips the inference pass and controls types
    val typed = graft.sources.JsonLinesSource(dir,
      Some(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))))
    assert(typed.read(spark).schema("id").dataType == org.apache.spark.sql.types.IntegerType)
  }

  test("jsonl round-trips microsecond timestamps (default json write truncates to ms)") {
    val dir = tmpDir() + "/jt"
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
    val src = graft.sources.JsonLinesSource(dir, Some(sch))
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00.123456")
    src.overwrite(Seq((1L, ts)).toDF("id", "ts"))
    assert(src.read(spark).head().getTimestamp(1) == ts)
    // upsert keeps untouched rows' precision through the rewrite
    src.upsert(Seq((2L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00.000001")))
      .toDF("id", "ts"), Seq("id"))
    val back = src.read(spark).orderBy("id").collect().map(_.getTimestamp(1))
    assert(back(0) == ts && back(1).getNanos == 1000)
  }

  test("orc round-trip, upsert, and predicate pushdown in the plan") {
    val dir = tmpDir() + "/o"
    val src = graft.sources.OrcSource(dir)
    src.overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    src.upsert(Seq((1L, "V1"), (101L, "v101")).toDF("id", "v"), Seq("id"))
    assert(src.read(spark).count() == 101)
    assert(src.read(spark).filter(col("id") === 1L).head().getString(1) == "V1")
    val plan = src.read(spark).filter(col("id") > 90L).select("id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,90)"),
      s"ORC scan did not push the predicate:\n$plan")
    assert(plan.contains("ReadSchema: struct<id:bigint>"),
      s"ORC scan did not prune columns:\n$plan")
  }

  test("random source satisfies the contract schema deterministically") {
    val v = FeatureView("r", graft.sources.CustomSource(_.emptyDataFrame),
      entities = Seq(Feature("id", FInt64)),
      features = Seq(Feature("name", FString), Feature("score", FFloat64)),
      eventTimestamp = Some(EventTimestamp("ts")))
    val src = graft.sources.RandomSource(v, 100, seed = 7)
    val df1 = src.read(spark)
    assert(df1.count() == 100)
    assert(df1.schema.fieldNames.toSet == Set("id", "name", "score", "ts"))
    assert(df1.collect().toSeq == src.read(spark).collect().toSeq) // deterministic
  }

  test("stack source aligns columns and adds provenance") {
    val a = graft.sources.CustomSource(s => { import s.implicits._; Seq((1L, "x")).toDF("id", "v") })
    val b = graft.sources.CustomSource(s => { import s.implicits._; Seq(("y", 2L)).toDF("v", "id") })
    val out = graft.sources.StackSource(a, b, Some("src")).read(spark)
    assert(out.columns.toSeq == Seq("id", "v", "src"))
    assert(out.count() == 2)
  }
}

/** Streaming worker: contract pipeline + watermarked agg over a file stream
  * (reference: worker.py:150-260). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming windowed aggregate matches the batch window aggregation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream5").toString
    val data = (0 until 120).map { i =>
      (i.toLong % 7, java.sql.Timestamp.valueOf(f"2024-01-01 10:${i % 50}%02d:00"), i.toDouble)
    }
    data.toDF("user_id", "ts", "value").write.parquet(dir + "/in")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val view = FeatureView("pv", graft.sources.CustomSource(_.emptyDataFrame),
      entities = Seq(Feature("user_id", FInt64)),
      features = Seq(Feature("value", FFloat64)),
      aggregates = Seq(AggregatedFeature("sum_10m", FFloat64, AggFunc.Sum, "value",
        Some(AggregationWindow(java.time.Duration.ofMinutes(10))))),
      eventTimestamp = Some(EventTimestamp("ts")))
    val stream = graft.streaming.Streaming.fileStream(spark, dir + "/in", schema)
    val agg = graft.streaming.Streaming.windowedAggregate(stream, view)
    val q = agg.writeStream.outputMode("complete").format("memory").queryName("par_agg").start()
    try { q.processAllAvailable() } finally { q.stop() }
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("window.start").cast("long"), col("user_id"), col("sum_10m"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val streamed = keyed(spark.sql("SELECT * FROM par_agg"))
    val batch = keyed(data.toDF("user_id", "ts", "value")
      .groupBy(window(col("ts"), "600 seconds", "600 seconds"), col("user_id"))
      .agg(sum(col("value")).as("sum_10m")))
    assert(streamed == batch) // same windows, same sums — stream/batch parity
  }

  test("windowed aggregate over a synchronous file stream") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val data = (0 until 100).map { i =>
      (i.toLong % 5, java.sql.Timestamp.valueOf(f"2024-01-01 10:${i % 60}%02d:00"), i.toDouble)
    }
    data.toDF("user_id", "ts", "value").write.parquet(dir + "/in")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val view = FeatureView("uv", graft.sources.CustomSource(_.emptyDataFrame),
      entities = Seq(Feature("user_id", FInt64)),
      features = Seq(Feature("value", FFloat64)),
      aggregates = Seq(AggregatedFeature("sum_10m", FFloat64, AggFunc.Sum, "value",
        Some(AggregationWindow(java.time.Duration.ofMinutes(10))))),
      eventTimestamp = Some(EventTimestamp("ts")))
    val stream = graft.streaming.Streaming.fileStream(spark, dir + "/in", schema)
    val agg = graft.streaming.Streaming.windowedAggregate(
      graft.streaming.Streaming.contractPipeline(view)(stream), view)
    val q = agg.writeStream.outputMode("complete").format("memory").queryName("out_agg").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val out = spark.sql("SELECT * FROM out_agg")
    assert(out.count() > 0)
    assert(out.columns.contains("sum_10m"))
  }

  test("statefulLatest emits a key's row only when its event time advances") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream3").toString
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    def write(rows: Seq[(Long, String, Double)]): Unit =
      rows.map { case (u, t, v) => (u, java.sql.Timestamp.valueOf(t), v) }
        .toDF("user_id", "ts", "value").write.mode("append").parquet(dir + "/in")
    write(Seq(
      (1L, "2024-01-01 10:00:00", 1.0),
      (1L, "2024-01-01 11:00:00", 2.0),   // same batch: only this row may emit
      (2L, "2024-01-01 09:00:00", 9.0)))
    val stream = graft.streaming.Streaming.fileStream(spark, dir + "/in", schema)
    val out = graft.streaming.Streaming.statefulLatest(stream, Seq("user_id"), "ts")
    val q = out.writeStream.outputMode("update").format("memory").queryName("out_latest").start()
    try {
      q.processAllAvailable()
      val b1 = spark.sql("SELECT user_id, value FROM out_latest").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(b1 == Map(1L -> 2.0, 2L -> 9.0))
      // batch 2: a LATE row for user 1 (no emit) and an advance for user 2
      write(Seq(
        (1L, "2024-01-01 10:30:00", 99.0),
        (2L, "2024-01-01 12:00:00", 10.0)))
      q.processAllAvailable()
      val all = spark.sql("SELECT user_id, value FROM out_latest").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(all.sorted == Seq((1L, 2.0), (2L, 9.0), (2L, 10.0)))
    } finally q.stop()
  }

  test("stream-stream interval join matches events within the time bound") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream6").toString
    val schemaL = StructType(Seq(
      StructField("user_id", LongType), StructField("click_ts", TimestampType)))
    val schemaR = StructType(Seq(
      StructField("user_id", LongType), StructField("buy_ts", TimestampType),
      StructField("amount", DoubleType)))
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00")))
      .toDF("user_id", "click_ts").write.parquet(dir + "/clicks")
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 5.0), // within 30m after click
      (1L, java.sql.Timestamp.valueOf("2024-01-01 11:30:00"), 7.0), // too late
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:04:00"), 9.0)) // 1m before click: ok
      .toDF("user_id", "buy_ts", "amount").write.parquet(dir + "/buys")
    val clicks = graft.streaming.Streaming.fileStream(spark, dir + "/clicks", schemaL)
    val buys = graft.streaming.Streaming.fileStream(spark, dir + "/buys", schemaR)
    val joined = graft.streaming.Streaming.intervalJoin(
      clicks, buys, Seq("user_id"), "click_ts", "buy_ts",
      before = "5 MINUTES", after = "30 MINUTES")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("out_ssj").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.sql("SELECT user_id, amount FROM out_ssj").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 5.0), (2L, 9.0)))
  }

  test("stream-batch dimension join enriches a live stream") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream7").toString
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 5.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), 7.0))
      .toDF("user_id", "ts", "value").write.parquet(dir + "/in")
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val stream = graft.streaming.Streaming.fileStream(spark, dir + "/in", schema)
    val q = stream.join(dim, "user_id") // static dim broadcast per micro-batch
      .writeStream.outputMode("append").format("memory").queryName("out_dim").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val got = spark.sql("SELECT user_id, tier FROM out_dim").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "gold"), (2L, "silver")))
  }

  test("dedupStream drops repeats across micro-batches within the watermark") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream4").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    def write(rows: Seq[(Long, String, Double)]): Unit =
      rows.map { case (k, t, v) => (k, java.sql.Timestamp.valueOf(t), v) }
        .toDF("event_id", "ts", "value").write.mode("append").parquet(dir + "/in")
    write(Seq(
      (1L, "2024-01-01 10:00:00", 1.0),
      (1L, "2024-01-01 10:00:30", 1.0), // same key, same batch
      (2L, "2024-01-01 10:01:00", 2.0)))
    val stream = graft.streaming.Streaming.fileStream(spark, dir + "/in", schema)
    val out = graft.streaming.Streaming.dedupStream(stream, Seq("event_id"), "ts", "1 hour")
    val q = out.writeStream.outputMode("append").format("memory").queryName("out_dedup").start()
    try {
      q.processAllAvailable()
      // batch 2: a redelivery of key 1 (dropped — state still within the
      // watermark) and a fresh key
      write(Seq(
        (1L, "2024-01-01 10:02:00", 99.0),
        (3L, "2024-01-01 10:03:00", 3.0)))
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM out_dedup").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("idempotentBatchSink applies a batch id once, re-runs uncommitted ones") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream8").toString
    var applied = List.empty[Long]
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val sink = graft.streaming.Streaming.idempotentBatchSink(
      (_, id) => applied = applied :+ id, dir + "/commits")
    val b = Seq((1L, 1.0)).toDF("id", "v")
    sink(b, 7L)
    sink(b, 7L) // re-delivery of a committed batch: skipped
    sink(b, 8L)
    assert(applied == List(7L, 8L))
    // a crash BETWEEN sink and commit (simulated by deleting the mark)
    // re-runs the batch rather than losing it
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir + "/commits/batch-8"), false)
    sink(b, 8L)
    assert(applied == List(7L, 8L, 8L))
  }

  test("foreachBatch worker sinks batches and fires triggers") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream2").toString
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 500.0))
      .toDF("user_id", "ts", "value").write.parquet(dir + "/in")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val view = FeatureView("wv", graft.sources.CustomSource(_.emptyDataFrame),
      entities = Seq(Feature("user_id", FInt64)),
      features = Seq(Feature("value", FFloat64)),
      derived = Seq(DerivedFeature("value_2x", FFloat64, Ref("value") * Lit(2.0), Seq("value"))),
      eventTimestamp = Some(EventTimestamp("ts")))
    var sunk = 0L
    var triggered = 0L
    val stream = graft.streaming.Streaming.fileStream(spark, dir + "/in", schema)
    val q = graft.streaming.Streaming.runWorker(stream, view,
      sink = (batch, _) => { sunk += batch.count() },
      triggers = Seq(graft.streaming.Streaming.EventTrigger(
        col("value") > 100, rows => { triggered += rows.count() })))
    try { q.processAllAvailable() } finally { q.stop() }
    assert(sunk == 1 && triggered == 1)
  }
}

/** ML ops: splits, routing, model surface (SURVEY §2.11). */
class MLOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.ml._

  test("train/test/validate fractions and disjointness") {
    val df = (1 to 1000).map(i => (i.toLong, i % 3)).toDF("id", "y")
    val (tr, te, va) = MLOps.trainTestValidate(df, 0.6, 0.2)
    val (a, b, c) = (tr.count(), te.count(), va.count())
    assert(a + b + c == 1000)
    assert(math.abs(a - 600) < 30 && math.abs(b - 200) < 30)
    assert(tr.join(te, "id").count() == 0 && te.join(va, "id").count() == 0)
  }

  test("stratified split keeps class balance per stratum") {
    val df = ((1 to 900).map(i => (i.toLong, "a")) ++ (901 to 1000).map(i => (i.toLong, "b")))
      .toDF("id", "y")
    val (tr, te) = MLOps.trainTest(df, 0.8, stratifyOn = Some("y"))
    val trB = tr.filter($"y" === "b").count()
    assert(math.abs(trB - 80) <= 2, s"stratum b in train: $trB")
    assert(tr.count() + te.count() == 1000)
  }

  test("AB test routes all rows exactly once, deterministically") {
    val df = (1 to 500).map(_.toLong).toDF("id")
    val a = ExpressionModel("a", "v1", "p", lit(1.0))
    val b = ExpressionModel("b", "v2", "p", lit(2.0))
    val out = MLOps.abTest(a, b, 0.5, "id")(df)
    assert(out.count() == 500)
    val again = MLOps.abTest(a, b, 0.5, "id")(df)
    assert(out.groupBy("model_version").count().collect().toSet ==
      again.groupBy("model_version").count().collect().toSet)
  }

  test("shadow scores everything on primary plus a fraction on shadow") {
    val df = (1 to 400).map(_.toLong).toDF("id")
    val p = ExpressionModel("p", "v1", "pred", lit(0.0))
    val sh = ExpressionModel("s", "v2", "pred", lit(1.0))
    val out = MLOps.shadow(p, sh, 0.25, "id")(df)
    val byV = out.groupBy("model_version").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byV("v1") == 400)
    assert(byV.getOrElse("v2", 0L) > 50 && byV("v2") < 150)
  }

  test("model predictOver assembles PIT inputs and stamps version") {
    val featView = FeatureView("f",
      graft.sources.CustomSource(s => { import s.implicits._; Seq((1L, 10.0)).toDF("id", "x") }),
      entities = Seq(Feature("id", FInt64)),
      features = Seq(Feature("x", FFloat64)))
    val m = ModelContract("double_x", Seq("f:x"),
      model = Some(ExpressionModel("double_x", "1.0", "pred", col("x") * 2)))
    val store = new graft.store.ContractStore().addView(featView).addModel(m)
    val out = store.model("double_x").predictOver(spark, Seq((1L)).toDF("id"))
    assert(out.select("pred").head().getDouble(0) == 20.0)
    assert(out.select("model_version").head().getString(0) == "1.0")
  }
}

/** Dedup / similarity / text plumbing not covered by the oracle queries. */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("minhash finds a planted near-duplicate") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"token$i").mkString(" ") + " tokenX tokenY"
    val other = (100 to 140).map(i => s"word$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicates(df, "text", "doc_id", threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("embeddingNearDup (xxhash planes) finds planted near-dups with exact cosines") {
    // 12 base vectors + noisy copies of 3 of them; the xxhash-plane LSH
    // production form (q33 now gates the portable-plane variant) must
    // surface every planted pair with a correct exact-cosine verify
    val rnd = new scala.util.Random(7)
    val base = (0 until 12).map(i => i.toLong -> Array.fill(16)(rnd.nextGaussian().toFloat))
    val noisy = (0 until 3).map { i =>
      val v = base(i)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat)
      (100L + i) -> v
    }
    val df = (base ++ noisy).map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDup(df, "embedding", "vec_id",
        threshold = 0.9, planes = 3)
      .select("id_a", "id_b", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for (i <- 0 until 3)
      assert(got.contains((i.toLong, 100L + i)), s"planted pair $i missing")
    // every reported cosine matches the exact brute-force value
    val vecs = (base ++ noisy).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (j <- a.indices) { d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j) }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    got.foreach { case ((a, b), c) =>
      // 1e-6: the operator may accumulate in float32 order; the check is
      // "the verify is the exact cosine", not bit-equality of float sums
      assert(math.abs(c - cos(vecs(a), vecs(b))) < 1e-6 && c >= 0.9)
    }
  }

  test("semanticDecontaminate flags planted benchmark-near corpus docs, counts each bench doc once") {
    val rnd = new scala.util.Random(11)
    val bench = (0 until 4).map(i => (900L + i) -> Array.fill(16)(rnd.nextGaussian().toFloat))
    // corpus: two near-copies of bench 900 (one closer), one near bench 901, five unrelated
    def jitter(v: Array[Float], eps: Float) = v.map(x => x + eps * rnd.nextGaussian().toFloat)
    val corpus = Seq(
      1L -> jitter(bench(0)._2, 0.005f),
      2L -> jitter(bench(0)._2, 0.05f),
      3L -> jitter(bench(1)._2, 0.01f)) ++
      (10L until 15L).map(i => i -> Array.fill(16)(rnd.nextGaussian().toFloat))
    val cdf = corpus.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val bdf = bench.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
    val got = Dedup.semanticDecontaminate(cdf, bdf, "embedding", "vec_id",
        threshold = 0.95, bands = 6, planesPerBand = 4, dim = 16)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    for (id <- Seq(1L, 2L, 3L)) assert(got.contains(id), s"planted doc $id missing")
    assert(got(1L)._3 == 900L && got(2L)._3 == 900L && got(3L)._3 == 901L)
    // a pair caught by several bands still counts its bench doc ONCE, and
    // max_cosine is the exact brute-force value
    val vecs = (bench ++ corpus).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (j <- a.indices) { d += a(j) * b(j); na += a(j) * a(j); nb += b(j) * b(j) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    got.foreach { case (id, (hits, mc, worst)) =>
      assert(hits >= 1L && hits <= bench.size.toLong)
      assert(math.abs(mc - cos(vecs(id), vecs(worst))) < 1e-6 && mc >= 0.95)
    }
    intercept[IllegalArgumentException] {
      Dedup.semanticDecontaminate(cdf, bdf, "embedding", "vec_id", 0.9,
        bands = 1, planesPerBand = 64, dim = 16)
    }
  }

  test("simhash hamming distance small for near-dups, large for unrelated") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"token$i").mkString(" ") + " tokenX tokenY"
    val other = (100 to 140).map(i => s"word$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("id", "text")
      .select(col("id"), Dedup.simhash(col("text")).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)))
  }

  test("brute-force kNN returns the planted nearest neighbor first") {
    val v = Array.fill(8)(1.0f)
    val near = v.clone(); near(0) = 0.9f
    val far = Array.fill(8)(-1.0f); far(0) = 1.0f
    val df = Seq((0L, v.toSeq), (1L, near.toSeq), (2L, far.toSeq)).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(df, df.filter($"vec_id" === 0), k = 2)
      .orderBy("rank").collect()
    assert(out(0).getAs[Long]("neighbor_id") == 1L)
  }

  test("batched media extraction feeds the kernel fixed-size batches") {
    val df = Multimodal.withFakeMedia((1L to 150L).toDF("doc_id").coalesce(1), "doc_id")
    // the kernel closure runs (serialized) in tasks, so observe the batch
    // size through the OUTPUT: every vector carries its batch's length
    val out = Multimodal.extractFeaturesBatched(df, "media_bytes", dims = 4,
      batchSize = 64,
      kernel = (batch, d) => batch.map(_ => Array.fill(d)(batch.length.toFloat)))
    val perSize = out.select(element_at(col("media_features"), 1).as("bs"))
      .groupBy("bs").count().collect().map(r => r.getFloat(0) -> r.getLong(1)).toMap
    // one partition of 150 rows → batches of 64, 64, 22 (last ragged)
    assert(perSize == Map(64.0f -> 128L, 22.0f -> 22L))
    assert(out.select(size(col("media_features"))).head().getInt(0) == 4)
  }

  test("multimodal extractFeatures preserves schema and batch shape") {
    val df = Multimodal.withFakeMedia(Seq((1L), (2L)).toDF("doc_id"), "doc_id")
    val out = Multimodal.extractFeatures(df, "media_bytes", dims = 4)
    assert(out.schema.fieldNames.contains("media_features"))
    assert(out.select(size(col("media_features"))).head().getInt(0) == 4)
    val frames = Multimodal.sampleFrames(out, "media_meta", everyNth = 10)
    assert(frames.count() >= 2)
  }

  test("portable minhash finds exact and near duplicates, all outputs verified") {
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"token$i").mkString(" ") + " tokenX tokenY"
    val exact = base
    val other = (100 to 140).map(i => s"word$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other), (4L, exact))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicatesPortable(df, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // an exact duplicate agrees on every band — detection is certain, not
    // probabilistic — and its verified jaccard is 1.0
    assert(pairs((1L, 4L)) == 1.0)
    // every emitted pair passed exact-jaccard verification
    assert(pairs.values.forall(_ >= 0.5))
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("decontaminate counts shared n-grams against the benchmark set only") {
    val corpus = Seq((10L, "x y z w"), (11L, "no overlap here at all")).toDF("doc_id", "text")
    val bench = Seq((1L, "q r x y z")).toDF("doc_id", "text")
    val out = TextAnalysis.decontaminate(corpus, bench, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // corpus 3-grams of doc 10: {x y z, y z w}; bench: {q r x, r x y, x y z}
    assert(out == Map(10L -> 1L))
  }

  test("stratified hash sampling is deterministic, nested, and rate-shaped") {
    val df = (1L to 4000L).map(i => (i, if (i % 2 == 0) "big" else "small"))
      .toDF("id", "stratum")
    def sample(r: Map[String, Double]) =
      graft.ml.MLOps.stratifiedSampleHash(df, "id", "stratum", r, defaultRate = 0.05)
        .select("id").as[Long].collect().toSet
    val s1 = sample(Map("big" -> 0.5))
    val s2 = sample(Map("big" -> 0.5))
    assert(s1 == s2) // no rand(): reruns reproduce the exact sample
    // raising a stratum's rate only ADDS rows (hash thresholding is nested)
    val bigger = sample(Map("big" -> 0.8))
    assert(s1.subsetOf(bigger))
    val bigN = s1.count(_ % 2 == 0).toDouble
    assert(bigN > 2000 * 0.4 && bigN < 2000 * 0.6)
  }

  test("ngramLmCounts: bigram counts and conditional probabilities") {
    val df = Seq("a b", "a b", "a c").toDF("text")
    val out = TextAnalysis.ngramLmCounts(df, "text", n = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out("a b") == ((2L, 2.0 / 3)))
    assert(out("a c") == ((1L, 1.0 / 3)))
  }

  test("repetitionSignals: top-bigram fraction and duplicate-word fraction") {
    val df = Seq((1L, "a a a b"), (2L, "w x y z")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // doc 1 bigrams: (a a)x2, (a b) → top 2/3; words: 4 total, 2 distinct → 0.5
    assert(out(1L) == ((2.0 / 3, 0.5)))
    assert(out(2L) == ((1.0 / 3, 0.0))) // all bigrams distinct, all words distinct
  }

  test("rangeJoin equals the naive between-join and plans a hash join") {
    val rnd = new scala.util.Random(7)
    val base = 1704067200L
    val points = (0 until 300).map { i =>
      (i.toLong, new java.sql.Timestamp((base + rnd.nextInt(400000)) * 1000L))
    }.toDF("pid", "ts")
    // interval lengths from sub-bucket to 5-bucket spans
    val intervals = (0 until 40).map { i =>
      val s = base + rnd.nextInt(350000)
      val e = s + 1000 + rnd.nextInt(250000)
      (i.toLong, new java.sql.Timestamp(s * 1000L), new java.sql.Timestamp(e * 1000L))
    }.toDF("iid", "istart", "iend")
    val got = Joins.rangeJoin(points, "ts", intervals, "istart", "iend", bucketSeconds = 50000)
    val naive = points.join(intervals,
      col("ts") >= col("istart") && col("ts") <= col("iend"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(key(got) == key(naive) && key(got).nonEmpty)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$plan")
  }

  test("intervalOverlapJoin equals the naive overlap join, each pair once") {
    val rnd = new scala.util.Random(13)
    val base = 1704067200L
    def mk(n: Int, seedOff: Int) = (0 until n).map { i =>
      val s = base + rnd.nextInt(300000)
      val e = s + 500 + rnd.nextInt(200000) // up to 4-bucket spans
      (i.toLong + seedOff, new java.sql.Timestamp(s * 1000L), new java.sql.Timestamp(e * 1000L))
    }
    val a = mk(60, 0).toDF("aid", "as", "ae")
    val b = mk(60, 1000).toDF("bid", "bs", "be")
    val got = Joins.intervalOverlapJoin(a, "as", "ae", b, "bs", "be", bucketSeconds = 50000)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val naive = a.join(b, col("as") <= col("be") && col("bs") <= col("ae"))
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == naive.length, "a pair was dropped or double-counted")
    assert(got.toSet == naive.toSet && got.nonEmpty)
  }

  test("pipeline ops handle degenerate inputs") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val docs = Seq((1L, "alpha beta gamma"), (2L, "")).toDF("doc_id", "text")
    // empty benchmark → nothing is contaminated
    assert(TextAnalysis.decontaminate(docs, emptyDocs, "text", "doc_id", 3).isEmpty)
    // empty corpus side of incremental dedup → batch only dedups itself
    assert(Dedup.dedupAgainst(emptyDocs, docs, "text", "doc_id").count() == 2)
    // empty/one-word docs: zero tokens, chunk 0, no boundary crossing
    val packed = TextAnalysis.packSequences(
      docs.withColumn("src", lit("s")), "text", "doc_id", 8, "src")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(packed(1L) == ((3L, 0L)) && packed(2L) == ((0L, 0L)))
    // portable LSH on an empty frame → empty, no failure
    assert(Dedup.nearDuplicatesPortable(emptyDocs, "text", "doc_id").isEmpty)
  }

  test("dedupAgainst drops corpus-known texts, then keep-first within batch") {
    val corpus = Seq((1L, "seen before"), (2L, "also seen")).toDF("doc_id", "text")
    val batch = Seq((10L, "seen before"), (11L, "brand new"), (12L, "brand new"),
      (13L, "unique")).toDF("doc_id", "text")
    val out = Dedup.dedupAgainst(corpus, batch, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(11L, 13L)) // 10 known, 12 intra-batch dup of 11
  }

  test("profile counts nulls/distincts; drift is 0 for identical, large for shifted") {
    val df = Seq((Some(1), "a"), (None, "b"), (Some(3), "b")).toDF("x", "s")
    val prof = Profiling.profile(df, Seq("x", "s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(prof("x") == ((1L, 2L))) // one null, two distinct
    assert(prof("s") == ((0L, 2L)))
    val ref = (1 to 400).map(_.toDouble).toDF("v")
    val sameDrift = Profiling.drift(ref, ref, "v").head().getDouble(0)
    assert(sameDrift == 0.0)
    val shifted = (401 to 800).map(_.toDouble).toDF("v")
    val bigDrift = Profiling.drift(ref, shifted, "v").head().getDouble(0)
    // everything lands in the reference's top bin → near-maximal score
    assert(bigDrift > 1.0, s"expected large drift, got $bigDrift")
  }

  test("sampleByRate keeps rows proportionally to their continuous rate") {
    val df = (1L to 8000L).map(i => (i, if (i % 2 == 0) 0.9 else 0.1)).toDF("id", "w")
    val kept = graft.ml.MLOps.sampleByRate(df, "id", col("w"))
      .groupBy("w").count().collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(kept(0.9) > 4000 * 0.8 && kept(0.9) < 4000) // ~90% of evens
    assert(kept(0.1) > 4000 * 0.05 && kept(0.1) < 4000 * 0.2) // ~10% of odds
    // nested: doubling a row's rate only ADDS rows
    val low = graft.ml.MLOps.sampleByRate(df, "id", lit(0.2)).select("id").as[Long].collect().toSet
    val high = graft.ml.MLOps.sampleByRate(df, "id", lit(0.4)).select("id").as[Long].collect().toSet
    assert(low.subsetOf(high))
  }

  test("kFold assigns whole groups to folds, covering all k") {
    val df = (1L to 4000L).map(i => (i, i % 300)).toDF("row_id", "user_id")
    val folds = graft.ml.MLOps.kFold(df, "user_id", k = 5)
    val spanning = folds.groupBy("user_id")
      .agg(countDistinct(col("fold")).as("nf")).filter(col("nf") > 1)
    assert(spanning.isEmpty)
    val counts = folds.groupBy("fold").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set(0, 1, 2, 3, 4))
    assert(counts.values.forall(c => c > 4000 / 5 * 0.5 && c < 4000 / 5 * 1.5))
  }

  test("groupSplit keeps every group's rows in one fold") {
    val df = (1L to 3000L).map(i => (i, i % 200)).toDF("row_id", "user_id")
    val split = graft.ml.MLOps.groupSplit(df, "user_id", 0.75)
    val spanning = split.groupBy("user_id")
      .agg(countDistinct(col("split")).as("folds")).filter(col("folds") > 1)
    assert(spanning.isEmpty, "a group spans train and test")
    val trainUsers = split.filter(col("split") === "train")
      .select("user_id").distinct().count()
    assert(trainUsers > 200 * 0.6 && trainUsers < 200 * 0.9)
  }

  test("distinctiveTerms ranks by tf·idf-ratio with term tiebreak") {
    val docs = Seq((1L, "rare common common"), (2L, "common common"), (3L, "other common"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.distinctiveTerms(docs, "text", "doc_id", topK = 2)
      .collect().map(r => (r.getLong(0), r.getInt(5)) -> ((r.getString(1), r.getDouble(4)))).toMap
    // doc1: common tf2·(4/4)=2.0 ties rare tf1·(4/2)=2.0 → term asc wins
    assert(out((1L, 1)) == (("common", 2.0)))
    assert(out((1L, 2)) == (("rare", 2.0)))
    // doc3: other tf1·(4/2)=2.0 beats common tf1·(4/4)=1.0
    assert(out((3L, 1)) == (("other", 2.0)))
  }

  test("hll sketches: ≤5% error and sketch-union equals the direct estimate") {
    val df = (1L to 5000L).map(i => (if (i % 2 == 0) "a" else "b", s"tok${i % 700}"))
      .toDF("grp", "w")
    val per = Aggregations.hllSketches(df, Seq("grp"), "w")
    val exact = df.distinct().groupBy("grp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    per.select("grp", "est_distinct").collect().foreach { r =>
      val e = exact(r.getString(0)).toDouble
      assert(math.abs(r.getLong(1) - e) / e <= 0.05)
    }
    // rolling per-group sketches up to a global estimate ≈ sketching the
    // whole column directly (merge property — the 100 TB incremental path;
    // the union operator may promote the sketch representation, so the two
    // estimates can differ by a rounding step, not by content)
    val viaMerge = Aggregations.hllRollup(per, Nil).select("est_distinct").head().getLong(0)
    // rollups chain: the unioned sketch itself is in the output, so a
    // second-level rollup needs no raw data
    assert(Aggregations.hllRollup(per, Nil).columns.contains("sketch"))
    val direct = Aggregations.hllSketches(df, Nil, "w").head()
      .getAs[Long]("est_distinct")
    assert(math.abs(viaMerge - direct).toDouble / direct <= 0.01)
    assert(math.abs(viaMerge - 700.0) / 700.0 <= 0.05)
  }

  test("store validateSchema flags missing contract columns") {
    val v = FeatureView("vv",
      graft.sources.CustomSource(s => { import s.implicits._; Seq((1L)).toDF("id") }),
      entities = Seq(Feature("id", FInt64)),
      features = Seq(Feature("missing_col", FString)))
    val missing = new graft.store.ContractStore().addView(v).validateSchema(spark, "vv")
    assert(missing == Seq("missing_col"))
  }
}

/** Streaming histogram sketches: stream/batch parity and rollup chaining. */
class StreamingSketchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streamed window sketches roll up to the batch sketch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_sketch").toString
    val data = (0 until 200).map { i =>
      ("g" + (i % 3), java.sql.Timestamp.valueOf(f"2024-01-01 10:${i % 45}%02d:00"),
        (i % 17) * 25.0)
    }
    data.toDF("k", "ts", "v").write.parquet(dir + "/in")
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("ts", TimestampType),
      StructField("v", DoubleType)))
    val stream = graft.streaming.Streaming.fileStream(spark, dir + "/in", schema)
    val sk = graft.streaming.Streaming.histSketchStream(
      stream, Seq("k"), "v", binWidth = 100.0, tsCol = "ts", windowDur = "10 minutes")
    val q = sk.writeStream.outputMode("complete").format("memory")
      .queryName("out_sketch").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val windowed = spark.sql("SELECT k, bin, n FROM out_sketch")
    // per-window sketches MERGE to the whole-corpus sketch — the day→month
    // chaining property, exercised across real window boundaries
    val rolled = Aggregations.histRollup(windowed, Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = Aggregations.histSketch(data.toDF("k", "ts", "v"), Seq("k"), "v", 100.0)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rolled == batch)
    // and the merged sketch answers quantiles
    val med = Aggregations.histQuantile(
      Aggregations.histRollup(windowed, Seq("k")), Seq("k"), 0.5, 100.0).collect()
    assert(med.length == 3 && med.forall(_.getDouble(1) >= 0.0))
  }
}

/** Streaming transitions: stateful adjacency emission across micro-batches. */
class StreamingTransitionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("transitions chain across micro-batches; late events dropped") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_tr").toString
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType)))
    def write(rows: Seq[(Long, String, String)]): Unit =
      rows.map { case (u, t, e) => (u, java.sql.Timestamp.valueOf(t), e) }
        .toDF("user_id", "ts", "event_type").write.mode("append").parquet(dir + "/in")
    write(Seq(
      (1L, "2024-01-01 10:00:00", "view"),
      (1L, "2024-01-01 10:05:00", "click")))
    val stream = graft.streaming.Streaming.fileStream(spark, dir + "/in", schema)
    val out = graft.streaming.Streaming.transitionsStream(
      stream, Seq("user_id"), "ts", "event_type")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("out_tr").start()
    try {
      q.processAllAvailable()
      val b1 = spark.sql("SELECT * FROM out_tr").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(b1.toSeq == Seq(("view", "click")))
      // batch 2: continuation + a LATE event that must not rewind the chain
      write(Seq(
        (1L, "2024-01-01 10:02:00", "stale"),   // older than state -> dropped
        (1L, "2024-01-01 10:10:00", "purchase")))
      q.processAllAvailable()
      val all = spark.sql("SELECT * FROM out_tr").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(all.toSeq.sorted == Seq(("click", "purchase"), ("view", "click")))
    } finally q.stop()
  }

  test("transitions equal-ts tie-break matches the batch op when tieCol is given") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_tie").toString
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("event_id", StringType)))
    def write(rows: Seq[(Long, String, String, String)]): Unit =
      rows.map { case (u, t, e, i) => (u, java.sql.Timestamp.valueOf(t), e, i) }
        .toDF("user_id", "ts", "event_type", "event_id")
        .write.mode("append").parquet(dir + "/in")
    // batch 1: two EQUAL-timestamp events — the chain must advance through
    // them in event_id order (a→b), exactly like the batch op's (ts, tie)
    // window ordering
    write(Seq(
      (1L, "2024-01-01 10:00:00", "a", "1"),
      (1L, "2024-01-01 10:00:00", "b", "2")))
    val stream = graft.streaming.Streaming.fileStream(spark, dir + "/in", schema)
    val out = graft.streaming.Streaming.transitionsStream(
      stream, Seq("user_id"), "ts", "event_type", tieCol = Some("event_id"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("out_tie").start()
    try {
      q.processAllAvailable()
      // batch 2: equal ts AGAIN across the state boundary — tie "3" beats
      // the stored "2", so the chain continues b→c; tie "0" loses and drops
      write(Seq(
        (1L, "2024-01-01 10:00:00", "c", "3"),
        (1L, "2024-01-01 10:00:00", "stale", "0")))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM out_tie").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(got.toSeq.sorted == Seq(("a", "b"), ("b", "c")))
      // parity check against the batch operator over the same surviving rows
      val batch = graft.ops.EventAnalytics.transitions(
        Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "a", "1"),
            (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "b", "2"),
            (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "c", "3"))
          .toDF("user_id", "ts", "event_type", "event_id"),
        "user_id", "ts", "event_type", "event_id")
        .select("from_type", "to_type").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(batch.toSeq.sorted == got.toSeq.sorted)
    } finally q.stop()
  }
}

/** Segment/substring-level dedup family (Lee et al. 2021 exact substring
  * spans; RefinedWeb repeated-paragraph removal; Dolma dup-fraction). */
class SubstringDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("duplicateSpans merges consecutive shared k-grams into one maximal span") {
    // docs 1 and 2 share the 8-word run "a b c d e f g h"; doc 3 unrelated
    val shared = "a b c d e f g h"
    val df = Seq(
      (1L, s"x1 x2 $shared y1 y2"),
      (2L, s"z1 $shared z2 z3 z4"),
      (3L, "p q r s t u v w p q")).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(df, "text", "doc_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1: words 3..10 = shared (positions 1-based); doc 2: words 2..9
    assert(spans.toSet == Set((1L, 3L, 10L, 8L), (2L, 2L, 9L, 8L)))
  }

  test("duplicateSpans ignores within-doc repeats below minDocs") {
    val df = Seq(
      (1L, "m n o p q r m n o p q r"), // repeats itself, no other doc
      (2L, "unrelated words entirely here now")).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(df, "text", "doc_id", k = 5).count() == 0)
  }

  test("segmentDedup keeps first global occurrence and reassembles") {
    val seg = "s1 s2 s3 s4" // 4-word segments
    val df = Seq(
      (1L, s"$seg a1 a2 a3 a4"),
      (2L, s"$seg b1 b2 b3 b4"),
      (3L, s"$seg $seg")).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(df, "text", "doc_id", segWords = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((s"$seg a1 a2 a3 a4", 2L, 0L))) // first owner keeps it
    assert(got(2L) == (("b1 b2 b3 b4", 2L, 1L)))
    assert(got(3L) == (("", 2L, 2L))) // fully deduped doc survives as empty
  }

  test("segmentDedup ragged tail segment is its own dedup unit") {
    val df = Seq((1L, "a b c d e"), (2L, "e")).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(df, "text", "doc_id", segWords = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "a b c d e")
    assert(got(2L) == "") // tail "e" of doc 1 already owns the segment
  }

  test("crossDocDupFraction exact fractions and sub-k documents") {
    val df = Seq(
      (1L, "a b c d e"),   // grams: abc bcd cde
      (2L, "a b c x y"),   // grams: abc bcx cxy -> shares only abc
      (3L, "zz")).toDF("doc_id", "text") // sub-k: 0 grams
    val got = Dedup.crossDocDupFraction(df, "text", "doc_id", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L) == ((3L, 1.0 / 3)))
    assert(got(2L) == ((3L, 1.0 / 3)))
    assert(got(3L) == ((0L, 0.0)))
  }
}

/** Round-5 batch 2: scale-form equivalences + the token-budget allocator. */
class BudgetAndScaleFormSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "a b c d e f g h i j a b c d e f"),
    (2L, "z1 a b c d e f g h z2 z3"),
    (3L, "p q r s t u v w p q r s")).toDF("doc_id", "text")

  test("duplicateSpans hashKey form matches the string-key form") {
    val a = Dedup.duplicateSpans(docs, "text", "doc_id", k = 4)
      .collect().map(_.toSeq).toSet
    val b = Dedup.duplicateSpans(docs, "text", "doc_id", k = 4, hashKey = true)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("segmentDedup hashKey form matches the string-key form") {
    val a = Dedup.segmentDedup(docs, "text", "doc_id", segWords = 3)
      .collect().map(_.toSeq).toSet
    val b = Dedup.segmentDedup(docs, "text", "doc_id", segWords = 3, hashKey = true)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  /** A deliberately skewed corpus: one boilerplate gram/segment appears in
    * EVERY doc (the 100 TB straggler case the hashKey forms exist for —
    * window-partition marking would ship all its occurrences to one task;
    * the agg + join-back shape collapses it map-side). The two shapes must
    * agree exactly on it. */
  private def skewed = {
    val hot = "terms of service apply here"
    (1 to 60).map { i =>
      (i.toLong, s"$hot unique$i filler${i * 7} tail${i * 13} $hot")
    }.toDF("doc_id", "text")
  }

  test("duplicateSpans hashKey agg+join-back agrees with the window form on a hot-gram corpus") {
    val a = Dedup.duplicateSpans(skewed, "text", "doc_id", k = 5)
      .collect().map(_.toSeq).toSet
    val b = Dedup.duplicateSpans(skewed, "text", "doc_id", k = 5, hashKey = true)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("crossDocDupFraction hashKey form matches the string-key form (skewed + plain)") {
    for (df <- Seq(docs, skewed)) {
      val a = Dedup.crossDocDupFraction(df, "text", "doc_id", k = 3)
        .collect().map(_.toSeq).toSet
      val b = Dedup.crossDocDupFraction(df, "text", "doc_id", k = 3, hashKey = true)
        .collect().map(_.toSeq).toSet
      assert(a == b && a.nonEmpty)
    }
  }

  test("segmentDedup hashKey global election agrees on a hot-segment corpus") {
    // every doc shares the hot 5-word segment; winner = lowest (id, idx)
    val a = Dedup.segmentDedup(skewed, "text", "doc_id", segWords = 5)
      .collect().map(_.toSeq).toSet
    val b = Dedup.segmentDedup(skewed, "text", "doc_id", segWords = 5, hashKey = true)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("segmentDedup perDoc keeps cross-doc repeats, drops within-doc ones") {
    val df = Seq(
      (1L, "a b a b c d"),  // segs: "a b","a b","c d" -> second "a b" dropped
      (2L, "a b x y")).toDF("doc_id", "text") // cross-doc "a b" SURVIVES
    val got = Dedup.segmentDedup(df, "text", "doc_id", segWords = 2, perDoc = true)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(got(1L) == (("a b c d", 1L)))
    assert(got(2L) == (("a b x y", 0L)))
  }

  test("materializeBudget: full epochs + deterministic fractional coin") {
    val df = Seq.tabulate(200)(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "grp")
    val out = graft.ml.MLOps.materializeBudget(df, "id", "grp",
      Map("a" -> 2.5, "b" -> 1.0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byId = out.groupBy(_._1).view.mapValues(_.length).toMap
    // group b: exactly one copy (copy 0) per row
    (1 until 200 by 2).foreach(i => assert(byId(i.toLong) == 1))
    // group a: 2 or 3 copies per row; the 0.5-coin third copy lands on
    // roughly half the rows (deterministic md5, loose envelope)
    val aCounts = (0 until 200 by 2).map(i => byId(i.toLong))
    assert(aCounts.forall(c => c == 2 || c == 3))
    val thirds = aCounts.count(_ == 3)
    assert(thirds > 25 && thirds < 75)
    // determinism: a rerun emits the identical multiset
    val rerun = graft.ml.MLOps.materializeBudget(df, "id", "grp",
      Map("a" -> 2.5, "b" -> 1.0))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.sorted.toSeq == rerun.sorted.toSeq)
    // absent group drops
    val dropped = graft.ml.MLOps.materializeBudget(df, "id", "grp",
      Map("a" -> 1.0)).filter(col("grp") === "b").count()
    assert(dropped == 0)
  }

  test("tokenBudget renormalizes over present groups and computes epochs") {
    val df = Seq.tabulate(10)(i => (i.toLong, "w " * (i + 1), if (i < 6) "web" else "code"))
      .toDF("id", "text", "src")
    val tok = size(split(trim(col("text")), "\\s+")).cast("long")
    // absent group "books" must renormalize away: web 3/(3+1), code 1/4
    val got = graft.ml.MLOps.tokenBudget(df, "src", tok, 1000L,
      Map("web" -> 3L, "code" -> 1L, "books" -> 6L))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(5), r.getLong(6)))).toMap
    // web: docs 1..6 tokens = 21; code: docs 7..10 tokens = 34
    assert(got("web")._1 == 6 && got("web")._2 == 21)
    assert(got("code")._1 == 4 && got("code")._2 == 34)
    assert(got("web")._3 == 0.75 && got("code")._3 == 0.25)
    assert(got("web")._4 == 750.0 / 21 && got("web")._5 == 36L)
    assert(got("code")._4 == 250.0 / 34 && got("code")._5 == 8L)
  }
}

/** Streaming incremental near-dup: cross-batch LSH state. */
class StreamingNearDupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("portable mode rejects an explicit numHashes instead of silently ignoring it") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streaming.nearDupStream(df, "text", "doc_id",
        numHashes = 64, portable = true)
    }
    assert(e.getMessage.contains("portableCoeffs"))
  }

  test("nearDupStream finds planted near-dups within and across micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_neardup_stream").toString
    val base = (1 to 40).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"token$i").mkString(" ") + " tokenX tokenY"
    val nearDup2 = (1 to 37).map(i => s"token$i").mkString(" ") + " tokenA tokenB tokenC"
    val other = (100 to 140).map(i => s"word$i").mkString(" ")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // batch 1: base + one near-dup + one unrelated
    Seq((1L, base), (2L, nearDup), (5L, other)).toDF("doc_id", "text")
      .write.parquet(dir + "/in")
    val stream = graft.streaming.Streaming.fileStream(spark, dir + "/in", schema)
    val pairs = graft.streaming.Streaming.nearDupStream(stream, "text", "doc_id",
      threshold = 0.5)
    val q = pairs.writeStream.outputMode("append").format("memory")
      .queryName("neardup_stream").start()
    try {
      q.processAllAvailable()
      val afterB1 = spark.sql("SELECT DISTINCT id_a, id_b FROM neardup_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterB1 == Set((1L, 2L))) // same-batch pair, unrelated absent
      // batch 2: a new near-dup of doc 1 — must match against RETAINED state
      Seq((3L, nearDup2)).toDF("doc_id", "text")
        .write.mode("append").parquet(dir + "/in")
      q.processAllAvailable()
      val afterB2 = spark.sql("SELECT DISTINCT id_a, id_b FROM neardup_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(afterB2.contains((1L, 3L))) // cross-batch: state carried the sig
      assert(afterB2.forall { case (a, b) => a != 5L && b != 5L })
      // estimator sanity: emitted estimates are in (0, 1]
      val ests = spark.sql("SELECT est_jaccard FROM neardup_stream")
        .collect().map(_.getDouble(0))
      assert(ests.forall(e => e > 0.0 && e <= 1.0))
    } finally q.stop()
  }
}

/** Batch restatement of the streaming near-dup (q157): same algebra as
  * nearDupStream — banded candidates + agreement estimator, no exact
  * verify — in the portable family. */
class NearDupByEstimateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("finds planted near-dup families, skips unrelated docs") {
    val famA = (1 to 40).map(i => s"tok$i").mkString(" ")
    val famB = (200 to 240).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      1L -> famA,
      2L -> (famA.split(" ").take(38).mkString(" ") + " xA yA"),
      4L -> famB,
      5L -> (famB.split(" ").take(39).mkString(" ") + " qQ rR"),
      6L -> (300 to 340).map(i => s"u$i").mkString(" ")).toDF("doc_id", "text")
    val pairs = graft.ops.Dedup.nearDupByEstimate(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((1L, 2L)) && pairs.contains((4L, 5L)))
    assert(pairs.keys.forall { case (a, b) => a != 6L && b != 6L })
    assert(pairs.values.forall(e => e >= 0.5 && e <= 1.0))
  }

  test("canonicalizeBy keeps the highest-scored doc per cluster, ties by id") {
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (9L, 5L))
      .toDF("doc_id", "len") // cluster {1,2,3}: 2 and 3 tie on score → keep 2
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = graft.ops.Dedup.canonicalizeBy(docs, pairs, "doc_id", col("len"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(2L, 9L)) // singleton 9 survives untouched
  }

  test("incremental near-dup equals full pair set filtered to new-touching pairs") {
    val famA = (1 to 40).map(i => s"tok$i").mkString(" ")
    val famB = (200 to 240).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      1L -> famA,
      2L -> (famA.split(" ").take(38).mkString(" ") + " xA yA"),
      3L -> (famA.split(" ").take(37).mkString(" ") + " xB yB zB"),
      4L -> famB,
      5L -> (famB.split(" ").take(39).mkString(" ") + " qQ rR"),
      6L -> (300 to 340).map(i => s"u$i").mkString(" ")).toDF("doc_id", "text")
    val isNew = col("doc_id") >= 3L // corpus {1,2}; new {3,4,5,6}
    val inc = graft.ops.Dedup.nearDuplicatesAgainstPortable(
        docs.filter(!isNew), docs.filter(isNew), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = graft.ops.Dedup.nearDuplicatesPortable(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == full.filter { case (a, b) => a >= 3L || b >= 3L })
    assert(inc.contains((1L, 3L)) && inc.contains((4L, 5L))) // old×new and new×new
    assert(!inc.contains((1L, 2L))) // corpus×corpus excluded by construction
  }

  test("estimates agree with minhashJaccardEstimate on shared pairs") {
    val base = (1 to 30).map(i => s"t$i").mkString(" ")
    val docs = (0L until 6L).map(i =>
      i -> (base + " " + (0 to i.toInt).map(j => s"extra$j").mkString(" ")))
      .toDF("doc_id", "text")
    val byEst = graft.ops.Dedup.nearDupByEstimate(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val calib = graft.ops.Dedup.minhashJaccardEstimate(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // every verified pair whose estimator clears the bar must appear with
    // the IDENTICAL estimate (same sigs, same integer ratio)
    calib.filter(_._2 >= 0.5).foreach { case (k, est) =>
      assert(byEst.get(k).contains(est), s"pair $k: $est vs ${byEst.get(k)}")
    }
  }
}

/** Retention-curve ablation table. */
class RetentionCurveSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("retentionCurve suffix sums match a per-threshold brute force") {
    val df = Seq.tabulate(50)(i => (i.toLong, i.toDouble, (i % 7 + 1).toLong))
      .toDF("id", "score", "tok")
    val ts = Seq(10.0, 25.0, 40.0, 60.0) // 60 keeps nothing
    val got = graft.ops.TextAnalysis.retentionCurve(df, col("score"), col("tok"), ts)
      .collect().map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val rows = (0 until 50).map(i => (i.toDouble, (i % 7 + 1).toLong))
    val totD = rows.length.toLong
    val totT = rows.map(_._2).sum
    ts.foreach { t =>
      val kept = rows.filter(_._1 >= t)
      val (d, tk) = (kept.length.toLong, kept.map(_._2).sum)
      assert(got(t) == ((d, tk, d.toDouble / totD, tk.toDouble / totT)), s"t=$t")
    }
    assert(got(60.0)._1 == 0L && got(60.0)._4 == 0.0)
  }
}

/** Incremental-equals-batch property for the streaming near-dup. */
class StreamingNearDupIncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def runStream(batches: Seq[Seq[(Long, String)]]): Set[(Long, Long)] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_nd_inc").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    batches.head.toDF("doc_id", "text").write.parquet(dir + "/in")
    val stream = graft.streaming.Streaming.fileStream(spark, dir + "/in", schema)
    val name = s"nd_inc_${System.nanoTime()}"
    val q = graft.streaming.Streaming.nearDupStream(stream, "text", "doc_id",
      threshold = 0.5)
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      batches.tail.foreach { b =>
        b.toDF("doc_id", "text").write.mode("append").parquet(dir + "/in")
        q.processAllAvailable()
      }
      spark.sql(s"SELECT DISTINCT id_a, id_b FROM $name")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    } finally q.stop()
  }

  test("two-batch streaming emits the same pair set as one batch") {
    val famA = (1 to 40).map(i => s"tok$i").mkString(" ")
    val famB = (200 to 240).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      1L -> famA,
      2L -> (famA.split(" ").take(38).mkString(" ") + " xA yA"),
      3L -> (famA.split(" ").take(37).mkString(" ") + " xB yB zB"),
      4L -> famB,
      5L -> (famB.split(" ").take(39).mkString(" ") + " qQ rR"),
      6L -> (300 to 340).map(i => s"u$i").mkString(" "),
      7L -> (400 to 440).map(i => s"v$i").mkString(" "))
    // split point preserves id order across batches (state sees lower ids
    // first, exactly like the id-sorted single batch)
    val oneShot = runStream(Seq(docs))
    val twoShot = runStream(Seq(docs.take(4), docs.drop(4)))
    assert(oneShot == twoShot && oneShot.nonEmpty)
    assert(oneShot.contains((1L, 2L)) && oneShot.contains((4L, 5L)))
  }
}

/** Span excision: the removal step of exact substring dedup. */
class StripSpansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("stripDuplicateSpans removes exactly the covered positions") {
    val shared = "a b c d e f g h" // 8-word shared run
    val df = Seq(
      (1L, s"x1 x2 $shared y1 y2"),
      (2L, s"z1 $shared z2 z3 z4"),
      (3L, "p q r s t u v w w v u t s r q p")).toDF("doc_id", "text")
    val got = Dedup.stripDuplicateSpans(df, "text", "doc_id", k = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("x1 x2 y1 y2", 12L, 8L)))
    assert(got(2L) == (("z1 z2 z3 z4", 12L, 8L)))
    assert(got(3L) == (("p q r s t u v w w v u t s r q p", 16L, 0L))) // untouched
  }

  test("fully-covered document survives as empty text") {
    val run = "m n o p q r s t"
    val df = Seq((1L, run), (2L, run)).toDF("doc_id", "text")
    val got = Dedup.stripDuplicateSpans(df, "text", "doc_id", k = 5)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3)))).toMap
    assert(got(1L) == (("", 8L)) && got(2L) == (("", 8L)))
  }
}

/** Grouped retention curves. */
class RetentionCurveBySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("per-group fractions are within-group and global form matches q146 shape") {
    val df = Seq(
      (1L, 10.0, 5L, "en"), (2L, 20.0, 5L, "en"), (3L, 30.0, 10L, "en"),
      (4L, 10.0, 2L, "de"), (5L, 40.0, 8L, "de")).toDF("id", "score", "tok", "lang")
    val got = graft.ops.TextAnalysis.retentionCurveBy(df, col("score"), col("tok"),
      Seq(15.0, 35.0), Some("lang"))
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got(("en", 15.0)) == ((2L, 15L, 2.0 / 3, 15.0 / 20)))
    assert(got(("en", 35.0)) == ((0L, 0L, 0.0, 0.0)))
    assert(got(("de", 15.0)) == ((1L, 8L, 0.5, 8.0 / 10)))
    assert(got(("de", 35.0)) == ((1L, 8L, 0.5, 8.0 / 10)))
    // ungrouped wrapper drops the group column and totals globally
    val global = graft.ops.TextAnalysis.retentionCurve(df, col("score"), col("tok"),
      Seq(15.0)).collect().head
    assert(global.getLong(1) == 3L && global.getLong(2) == 23L)
  }
}

/** Portable Count-Min Sketch: guarantees + merge linearity. */
class CmsPortableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def toks(rows: Seq[(String, String)]) = rows.toDF("g", "w")

  test("estimates never undercount and exact-count light items under low load") {
    val words = Seq.tabulate(300)(i => s"w${i % 40}") // 40 distinct, skewed load
    val df = toks(words.map(("a", _)))
    val sk = Aggregations.cmsPortableSketch(df, Seq("g"), "w", depth = 4, lgWidth = 10)
    val probes = Seq("w0", "w7", "w39", "absent")
    val est = Aggregations.cmsPortableEstimate(sk, Seq("g"), probes, depth = 4, lgWidth = 10)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val exact = words.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    probes.foreach { p =>
      assert(est(p) >= exact.getOrElse(p, 0L), s"undercount at $p")
    }
    // 40 items in 4x1024 counters: collisions are overwhelmingly unlikely to
    // survive the min over 4 independent rows
    assert(est("w0") == exact("w0") && est("absent") == 0L)
  }

  test("rollup of shard sketches equals the sketch of the union (linearity)") {
    val a = toks(Seq.tabulate(100)(i => ("s1", s"x${i % 11}")))
    val b = toks(Seq.tabulate(80)(i => ("s2", s"x${i % 7}")))
    val skA = Aggregations.cmsPortableSketch(a, Seq("g"), "w")
    val skB = Aggregations.cmsPortableSketch(b, Seq("g"), "w")
    val merged = Aggregations.cmsPortableRollup(skA.unionByName(skB), Nil)
      .select("cms_depth", "cms_slot", "cms_n")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = Aggregations.cmsPortableSketch(
        a.unionByName(b).withColumn("g", lit("all")), Seq("g"), "w")
      .select("cms_depth", "cms_slot", "cms_n")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == direct)
  }

  test("null values are no-ops, not a phantom key") {
    val df = Seq(("a", "x"), ("a", null), ("a", "x")).toDF("g", "w")
    val sk = Aggregations.cmsPortableSketch(df, Seq("g"), "w")
    // total mass = depth * non-null occurrences
    assert(sk.agg(sum("cms_n")).head.getLong(0) == 4L * 2L)
  }
}

/** DSIR integer-quantized data selection. */
class DsirSelectSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("target-like documents rank first; k and ties are exact") {
    // target docs speak "alpha beta gamma"; off-target docs "zeta eta theta"
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta", true),
      (2L, "alpha gamma alpha gamma beta", true),
      (3L, "zeta eta theta zeta eta", false),
      (4L, "theta eta zeta theta zeta", false),
      (5L, "alpha beta zeta eta gamma", false), // mixed, off-target
      (6L, "", false)).toDF("doc_id", "text", "is_tgt")
    val got = graft.ml.MLOps.dsirSelect(docs, "text", "doc_id",
        targetPred = col("is_tgt"), buckets = 512, keepPct = 34)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    // k = ceil(6 * 34 / 100) via integer arithmetic = (204 + 99) / 100 = 3
    assert(got.values.count(_._3) == 3)
    // the two pure-target docs + the mixed doc outrank pure off-target docs
    val selected = got.filter(_._2._3).keySet
    assert(selected.contains(1L) && selected.contains(2L) && selected.contains(5L))
    // empty doc scores 0 and ranks by id among zero-score docs
    assert(got(6L)._1 == 0L && !got(6L)._3)
  }

  test("keepPct bounds: 0 selects none, 100 selects all") {
    val docs = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val none = graft.ml.MLOps.dsirSelect(docs, "text", "doc_id", lit(false), keepPct = 0)
    assert(none.filter(col("selected")).count() == 0)
    val all = graft.ml.MLOps.dsirSelect(docs, "text", "doc_id", lit(false), keepPct = 100)
    assert(all.filter(col("selected")).count() == 2)
  }

  // the 100 TB form: banded-histogram threshold select, no global sort
  test("dsirSelectByThreshold matches dsirSelect on ties-free scores") {
    // doc i repeats the target token i times → strictly increasing scores
    val docs = (1 to 12).map(i =>
      (i.toLong, (Seq.fill(i)("alpha") ++ Seq.fill(13 - i)("zeta")).mkString(" "),
        i > 8)).toDF("doc_id", "text", "is_tgt")
    val exact = graft.ml.MLOps.dsirSelect(docs, "text", "doc_id",
      col("is_tgt"), buckets = 512, keepPct = 40)
    // precondition of the equivalence: no two docs share a score
    val scores = exact.select("dsir_score").collect().map(_.getLong(0))
    assert(scores.distinct.length == scores.length, "test data must be ties-free")
    val byThr = graft.ml.MLOps.dsirSelectByThreshold(docs, "text", "doc_id",
      col("is_tgt"), buckets = 512, keepPct = 40, bands = 4)
    // bands = 4 forces several refinement rounds over a 64-bit score range
    val a = exact.filter(col("selected")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val b = byThr.filter(col("selected")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(a == b && a.size == 5) // k = (12*40 + 99) DIV 100 = 5
    // scores agree row-for-row too (shared scoring pass contract)
    val se = exact.select("doc_id", "dsir_score").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val st = byThr.select("doc_id", "dsir_score").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(se == st)
  }

  test("dsirSelectByThreshold keeps ALL ties at the cut") {
    // four identical target-y docs tie exactly; k = 2 cuts inside the tie
    // group → the threshold convention keeps all four (selected >= k),
    // and nothing below the tie score is selected
    val docs = Seq(
      (1L, "alpha alpha alpha", true), (2L, "alpha alpha alpha", true),
      (3L, "alpha alpha alpha", false), (4L, "alpha alpha alpha", false),
      (5L, "zeta zeta zeta", false), (6L, "zeta zeta", false))
      .toDF("doc_id", "text", "is_tgt")
    val got = graft.ml.MLOps.dsirSelectByThreshold(docs, "text", "doc_id",
        col("is_tgt"), buckets = 512, keepPct = 34, bands = 4) // k = 3
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val tieScore = got(1L)._1
    assert(Seq(2L, 3L, 4L).forall(id => got(id)._1 == tieScore))
    assert(Seq(1L, 2L, 3L, 4L).forall(id => got(id)._2), "all ties kept")
    assert(!got(5L)._2 && !got(6L)._2)
  }

  test("dsirSelectByThreshold bounds: keepPct 0 none, 100 all, empty input") {
    val docs = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    assert(graft.ml.MLOps.dsirSelectByThreshold(docs, "text", "doc_id",
      lit(false), keepPct = 0).filter(col("selected")).count() == 0)
    assert(graft.ml.MLOps.dsirSelectByThreshold(docs, "text", "doc_id",
      lit(false), keepPct = 100).filter(col("selected")).count() == 2)
    val empty = docs.filter(lit(false))
    assert(graft.ml.MLOps.dsirSelectByThreshold(empty, "text", "doc_id",
      lit(false), keepPct = 50).count() == 0)
  }
}

/** Gopher rule-set filter: each bit fires on its crafted violation. */
class GopherFilterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val goodText = // 24 words, mean len >= 3, stopwords, alphabetic
    "the quick brown fox jumps over the lazy dog and that dog naps " +
    "with every friend they have while autumn leaves drift slowly down"

  private def run(rows: (Long, String)*) =
    TextAnalysis.gopherFilter(rows.toDF("doc_id", "text"), "text", "doc_id",
        minWords = 20)
      .collect().map(r => r.getLong(0) -> ((r.getLong(8), r.getBoolean(9)))).toMap

  test("a clean document passes every rule") {
    val got = run(1L -> goodText)
    assert(got(1L) == ((0L, true)))
  }

  test("each rule flips exactly its own bit") {
    val bullets = (1 to 10).map(i => s"- item $i").mkString("\n") // >=90% bullet lines
    val ellipsis = Seq("first line goes on...", "second line too...",
      "third one as well...", "plain").mkString("\n")
    val got = run(
      1L -> "too short",                                   // bit 0 (and 6)
      2L -> ("ab " * 24).trim,                             // bit 1: mean len 2 (and 6)
      3L -> goodText.replace("autumn", "# # # # # # #"),   // bit 2: symbols
      4L -> (goodText + "\n" + bullets),                   // bit 3 needs its own doc
      5L -> (goodText + "\n" + ellipsis),
      6L -> (goodText.replaceAll("[a-z]", "7") + " " + goodText), // bit 5 fails <80% alpha
      7L -> ("alpha beta gamma delta " * 6).trim)          // bit 6: no stopwords
    assert((got(1L)._1 & 1L) != 0L)
    assert((got(2L)._1 & 2L) != 0L)
    assert((got(3L)._1 & 4L) != 0L && !got(3L)._2)
    assert((got(6L)._1 & 32L) != 0L)
    assert((got(7L)._1 & 64L) != 0L)
    assert(got.values.forall(v => v._2 == (v._1 == 0L)))
  }

  test("bullet and ellipsis line fractions use trimmed non-empty lines") {
    val doc = Seq("- a", "- b", "- c", "- d", "- e", "- f", "- g", "- h", "- i",
      "  ", "tail...").mkString("\n")
    // 10 non-empty lines: 9 bullets (0.9 -> bit 3), 1 ellipsis (0.1 < 0.3)
    val got = run(1L -> doc)
    assert((got(1L)._1 & 8L) != 0L && (got(1L)._1 & 16L) == 0L)
  }

  test("empty document fails the empty-sensitive rules") {
    val got = run(1L -> "   ")
    val mask = got(1L)._1
    assert((mask & 1L) != 0L && (mask & 2L) != 0L && (mask & 32L) != 0L && (mask & 64L) != 0L)
  }

  test("plan-time ruleMask equals post-hoc mask-and (and prunes the metric)") {
    val rows = Seq(1L -> goodText, 2L -> "too short",
      3L -> ("alpha beta gamma delta " * 6).trim, 4L -> "   ",
      5L -> ("ab " * 24).trim)
    val full = TextAnalysis.gopherFilter(rows.toDF("doc_id", "text"), "text",
        "doc_id", minWords = 20)
      .select(col("doc_id"), (col("fail_mask").bitwiseAND(lit(63L))).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pruned = TextAnalysis.gopherFilter(rows.toDF("doc_id", "text"), "text",
      "doc_id", minWords = 20, ruleMask = 63L)
    assert(pruned.select(col("doc_id"), col("fail_mask"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == full)
    // the pruning contract: once the caller drops the metric columns, the
    // disabled rule's array_contains passes are gone from the physical plan
    val plan = pruned.filter(col("fail_mask") === 0L).select("doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("array_contains"), "stopword metric survived pruning")
  }
}

/** CCNet-style LM quality terciles: exact fixed-point log2 buckets,
  * threshold cutoffs, ties stay on one side. */
class LmQualityPartitionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def part(ref: Seq[String], corpus: Seq[(Long, String)]) =
    TextAnalysis.lmQualityPartition(ref.toDF("text"),
        corpus.toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap

  test("scores are the exact milli-mean of floor(3*log2(freq+1)) buckets") {
    // ref freqs: the=5 -> floor(3*log2 6)=7; cat=1 -> floor(3*log2 2)=3;
    // unknown -> floor(3*log2 1)=0; empty doc -> -1 sentinel
    val got = part(Seq("the the the the cat", "the dog"),
      Seq(1L -> "the the", 2L -> "cat", 3L -> "zzz qqq", 4L -> "   "))
    assert(got(1L)._1 == 7000L) // (1000*14) div 2
    assert(got(2L)._1 == 3000L)
    assert(got(3L)._1 == 0L)
    assert(got(4L)._1 == -1L)
    // n=4: k1=2, k2=3 -> s1=3000 (cum 2), s2=0 (cum 3)
    assert(got(1L)._2 == "head" && got(2L)._2 == "head")
    assert(got(3L)._2 == "middle" && got(4L)._2 == "tail")
  }

  test("tied scores all land on the same side of a cutoff") {
    // three docs tie at the head cutoff: head takes all of them (5 docs,
    // k1=ceil(5/3)=2 reached inside the tie block -> head grows past n/3)
    val got = part(Seq("the the the the cat"),
      Seq(1L -> "the", 2L -> "the", 3L -> "the", 4L -> "cat", 5L -> "zzz"))
    assert(Seq(1L, 2L, 3L).forall(got(_)._2 == "head"))
    assert(got(4L)._2 == "middle" && got(5L)._2 == "tail")
  }

  test("a token-empty reference fails loudly (empty slice OR all-whitespace)") {
    val corpus = Seq(1L -> "the cat").toDF("doc_id", "text")
    for (ref <- Seq(Seq.empty[String], Seq("   ", "\t\n"))) {
      val e = intercept[IllegalArgumentException] {
        TextAnalysis.lmQualityPartition(ref.toDF("text"), corpus, "text", "doc_id")
      }
      assert(e.getMessage.contains("produced no tokens"))
    }
  }

  test("frequency cap saturates the bucket instead of overflowing the cube") {
    // one word repeated > 2^20 times can't be built here; assert the cap
    // algebra directly instead: bin((2^20)^3) has 61 chars -> bucket 60
    assert(spark.sql(
      "SELECT length(bin(CAST(1048576 AS BIGINT)*1048576*1048576)) - 1")
      .head.getInt(0) == 60)
  }
}

/** Integer-mass PageRank: hand-computed fixture + the no-forced-broadcast
  * scale contract (the rank vector must stay joinable, not broadcast, so
  * web-graph node counts beyond the broadcast threshold degrade to a
  * shuffled join instead of OOMing every executor). */
class GraphRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 1→2, 2→3, 3→{1,2} (split out-weight), 4 isolated/dangling
  private def edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L), (3L, 2L, 1L))
    .toDF("src", "dst", "w")
  private def nodes = Seq(1L, 2L, 3L, 4L).toDF("node")

  test("two iterations match the hand-computed integer masses") {
    val got = graft.ops.GraphRank.pageRank(edges, nodes, "node", "src", "dst", "w",
        iterations = 2, scale = 1000L, dampPct = 85)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // iter1: teleport 150; contribs 1→2:850, 2→3:850, 3→1:425, 3→2:425
    //   masses: n1 575, n2 1425, n3 1000, n4 150
    // iter2: contribs (575*85)DIV100=488→2, (1425*85)DIV100=1211→3,
    //   (1000*85*1)DIV(100*2)=425→1 and →2
    assert(got(1L) == ((150L + 425L, 1L)))
    assert(got(2L) == ((150L + 488L + 425L, 1L)))
    assert(got(3L) == ((150L + 1211L, 2L)))
    assert(got(4L) == ((150L, 0L))) // isolated: teleport floor, out_weight 0
  }

  test("zero iterations return the initial mass for every node") {
    val got = graft.ops.GraphRank.pageRank(edges, nodes, "node", "src", "dst", "w",
        iterations = 0, scale = 777L)
      .select("rank_mass").collect().map(_.getLong(0))
    assert(got.length == 4 && got.forall(_ == 777L))
  }

  test("pageRank forces no broadcast hint (rank side must stay shuffled-joinable)") {
    val df = graft.ops.GraphRank.pageRank(edges, nodes, "node", "src", "dst", "w",
      iterations = 3)
    // the analyzed plan carries every hint the operator itself inserted;
    // AQE choosing a broadcast join at runtime is fine — FORCING one is not
    assert(!df.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "pageRank must not force-broadcast any side")
  }
}

/** Exact total-variation distance between slice unigram distributions
  * (q160) — the mixture-shift diagnostic. */
class DistributionDistanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tv(df: org.apache.spark.sql.DataFrame) =
    graft.ops.TextAnalysis.distributionDistance(df, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap

  test("matches the hand-computed distance on a tiny fixture") {
    // s1: a a b  -> p = {a: 2/3, b: 1/3}
    // s2: a b b b -> q = {a: 1/4, b: 3/4}
    // TV = 1/2 (|2/3-1/4| + |1/3-3/4|) = 5/12
    val docs = Seq(("s1", "a a b"), ("s2", "a b b b")).toDF("source", "text")
    val got = tv(docs)(("s1", "s2"))
    assert(got._1 == 3L && got._2 == 4L)
    assert(math.abs(got._3 - 5.0 / 12) < 1e-15)
  }

  test("identical distributions are 0; disjoint vocabularies are exactly 1") {
    val docs = Seq(
      ("s1", "x y z"), ("s2", "x y z"),  // identical
      ("s3", "p q")                      // disjoint from both
    ).toDF("source", "text")
    val got = tv(docs)
    assert(got(("s1", "s2"))._3 == 0.0)
    assert(got(("s1", "s3"))._3 == 1.0) // zero shared words still get a row
    assert(got(("s2", "s3"))._3 == 1.0)
    assert(got.size == 3) // full pair skeleton
  }

  test("agrees with a brute-force over randomized word mixes") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val slices = Seq("u", "v", "w").map { s =>
      s -> Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val docs = slices.toDF("source", "text")
    val dist = slices.map { case (s, t) =>
      s -> t.split(" ").groupBy(identity).view.mapValues(_.length.toDouble / 30).toMap
    }.toMap
    val got = tv(docs)
    for (Seq(a, b) <- Seq("u", "v", "w").combinations(2)) {
      val exp = vocab.map(w =>
        math.abs(dist(a).getOrElse(w, 0.0) - dist(b).getOrElse(w, 0.0))).sum / 2
      assert(math.abs(got((a, b))._3 - exp) < 1e-12, s"pair ($a,$b)")
    }
  }
}

/** Distributed BPE merge-rule trainer vs a single-threaded reference. */
class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Reference trainer: the textbook in-memory loop (Sennrich 2016 fig 1),
    * same conventions — overlapping pair counts, left-to-right greedy
    * apply, (count desc, l, r) tiebreak. */
  private def refTrain(words: Map[String, Long], maxMerges: Int,
      minCount: Long): Seq[(String, String, Long)] = {
    var vocab = words.map { case (w, c) => w.map(_.toString).toVector -> c }.toVector
    val out = Vector.newBuilder[(String, String, Long)]
    var continue = true
    var done = 0
    while (continue && done < maxMerges) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, c) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + c
      val best = counts.toSeq.sortBy { case ((l, r), n) => (-n, l, r) }.headOption
      best match {
        case Some(((l, r), n)) if n >= minCount =>
          out += ((l, r, n))
          vocab = vocab.map { case (syms, c) =>
            val acc = scala.collection.mutable.ArrayBuffer[String]()
            for (s <- syms)
              if (acc.nonEmpty && acc.last == l && s == r)
                acc(acc.length - 1) = l + r
              else acc += s
            acc.toVector -> c
          }
          done += 1
        case _ => continue = false
      }
    }
    out.result()
  }

  test("learns the classic Sennrich example merges in order") {
    // {low:5, lower:2, newest:6, widest:3}: (e,s) 9 -> (es,t) 9 -> (est,?) ...
    val docs = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))).toDF("id", "text")
    val got = graft.ops.Bpe.train(docs, "text", maxMerges = 4)
    assert(got.map(m => (m.left, m.right, m.pairCount)).take(2) ==
      Seq(("e", "s", 9L), ("es", "t", 9L)))
    val ref = refTrain(Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L,
      "widest" -> 3L), 4, 2L)
    assert(got.map(m => (m.left, m.right, m.pairCount)) == ref)
  }

  test("matches the reference trainer merge-for-merge on random corpora") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val alphabet = "abcd"
      val words = Seq.fill(12)(
        Seq.fill(2 + rnd.nextInt(5))(alphabet(rnd.nextInt(4))).mkString)
      val counts = words.groupBy(identity).view.mapValues(_.length.toLong).toMap
      val docs = Seq((1L, words.mkString(" "))).toDF("id", "text")
      val got = graft.ops.Bpe.train(docs, "text", maxMerges = 6, minCount = 2L)
        .map(m => (m.left, m.right, m.pairCount))
      assert(got == refTrain(counts, 6, 2L), s"trial $trial corpus $words")
    }
  }

  test("overlapping-run semantics: aaaa fuses left-to-right") {
    val docs = Seq((1L, "aaaa aaaa")).toDF("id", "text")
    val got = graft.ops.Bpe.train(docs, "text", maxMerges = 2)
    // round 1: (a,a) appears 3x per word * 2 words = 6; apply -> [aa, aa]
    // round 2: (aa,aa) count 2
    assert(got.map(m => (m.left, m.right, m.pairCount)) ==
      Seq(("a", "a", 6L), ("aa", "aa", 2L)))
  }

  test("encode applies lowest-rank-first and reconstructs the text") {
    val docs = Seq((1L, Seq.fill(5)("low").mkString(" ") + " " +
      Seq.fill(6)("newest").mkString(" "))).toDF("id", "text")
    val merges = graft.ops.Bpe.train(docs, "text", maxMerges = 5)
    val toks = graft.ops.Bpe.encode(docs, "text", "id", merges)
      .collect().head.getSeq[String](1)
    // token concatenation reconstructs the normalized word stream exactly
    assert(toks.mkString == ("low" * 5) + ("newest" * 6))
    // the top rule was actually applied: no token is a bare "e" followed by "s"
    assert(toks.sliding(2).forall(p => p != Seq("e", "s")))
  }

  test("stops early when no pair reaches minCount; empty corpus learns nothing") {
    val docs = Seq((1L, "ab cd ef")).toDF("id", "text") // every pair count 1
    assert(graft.ops.Bpe.train(docs, "text", maxMerges = 5, minCount = 2L).isEmpty)
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    assert(graft.ops.Bpe.train(empty, "text", maxMerges = 3).isEmpty)
  }
}

/** Cluster-aware train/test routing (q163). */
class LeakageSafeSplitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq.tabulate(8)(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
  private val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")

  test("every near-dup component lands wholly in one split") {
    val out = graft.ml.MLOps.leakageSafeSplit(docs, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(Set(0L, 1L, 2L).map(out(_)._1) == Set(0L)) // min-label component
    assert(Set(5L, 6L).map(out(_)._1) == Set(5L))
    assert(Set(0L, 1L, 2L).map(out(_)._2).size == 1) // one split per component
    assert(Set(5L, 6L).map(out(_)._2).size == 1)
    for (s <- Seq(3L, 4L, 7L)) assert(out(s)._1 == s) // singletons: own component
    assert(out.values.map(_._2).forall(Set("train", "test")))
  }

  test("trainPct bounds: 100 routes everything to train, 0 to test") {
    val all = graft.ml.MLOps.leakageSafeSplit(docs, pairs, "doc_id", trainPct = 100)
      .select("split").distinct().collect().map(_.getString(0)).toSeq
    assert(all == Seq("train"))
    val none = graft.ml.MLOps.leakageSafeSplit(docs, pairs, "doc_id", trainPct = 0)
      .select("split").distinct().collect().map(_.getString(0)).toSeq
    assert(none == Seq("test"))
  }

  test("router is per-component: a doc's split never depends on its own id") {
    // re-id doc 2 inside the same component -> identical split as before,
    // because the coin is md5(component), not md5(doc)
    val out1 = graft.ml.MLOps.leakageSafeSplit(docs, pairs, "doc_id")
      .filter(col("doc_id") === 1L).select("split").collect().head.getString(0)
    val relabeled = docs.withColumn("doc_id",
      when(col("doc_id") === 2L, 99L).otherwise(col("doc_id")))
    val pairs2 = Seq((0L, 1L), (1L, 99L), (5L, 6L)).toDF("id_a", "id_b")
    val out2 = graft.ml.MLOps.leakageSafeSplit(relabeled, pairs2, "doc_id")
      .filter(col("doc_id") === 1L).select("split").collect().head.getString(0)
    assert(out1 == out2)
  }
}

/** Tokenizer fertility: q170's per-source chars-per-token card. */
class TokenizerFertilitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fertility is the milli-scaled integer quotient of source sums") {
    // one rule e+r: "er er" -> 2 syms (4 chars... n_chars supplied raw)
    val merges = Seq(graft.ops.Bpe.Merge(1, "e", "r", 0L))
    val d = Seq((1L, "er er", "s1", 5L), (2L, "xy", "s1", 2L),
        (3L, "", "s2", 0L))
      .toDF("doc_id", "text", "source", "n_chars")
    val enc = graft.ops.Bpe.encode(d, "text", "doc_id", merges)
      .select(col("doc_id"), size(col("tokens")).cast("long").as("n_syms"))
    val got = d.join(enc, Seq("doc_id")).groupBy("source")
      .agg(expr("(1000 * sum(n_chars)) div nullif(sum(n_syms), 0)").as("f"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    // s1: chars 7, syms: "er","er" (2) + "xy"->x,y (2) = 4 -> 1750
    assert(got("s1").contains(1750L))
    // s2: all-empty source -> 0 syms -> null, not an ANSI div-by-zero
    assert(got("s2").isEmpty)
  }
}

/** Tokenizer artifact round trip: merges -> DataFrame -> merges. */
class BpeArtifactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("mergesFrom(mergesDF(m)) == m, through a parquet round trip") {
    val docs = Seq((1L, Seq.fill(5)("low").mkString(" ") + " " +
      Seq.fill(6)("newest").mkString(" "))).toDF("id", "text")
    val merges = graft.ops.Bpe.train(docs, "text", maxMerges = 4)
    assert(merges.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("bpe").toString + "/merges"
    graft.ops.Bpe.mergesDF(spark, merges).write.parquet(dir)
    val back = graft.ops.Bpe.mergesFrom(spark.read.parquet(dir))
    assert(back == merges)
    // and the reloaded artifact encodes identically
    val a = graft.ops.Bpe.encode(docs, "text", "id", merges).collect().head.getSeq[String](1)
    val b = graft.ops.Bpe.encode(docs, "text", "id", back).collect().head.getSeq[String](1)
    assert(a == b)
  }
}

/** Integer batch-perceptron quality-classifier training. */
class PerceptronSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = (
    (1L to 6L).map(i => (i, s"great clear helpful text number$i", true)) ++
    (7L to 12L).map(i => (i, s"spam junk noise garbage number$i", false))
  ).toDF("doc_id", "text", "label")

  test("separates a linearly separable corpus and the scorer agrees") {
    val w = graft.ml.MLOps.perceptronTrain(docs, "text", "doc_id",
      positive = col("label"))
    val scored = graft.ml.MLOps.linearScoreWith(docs, "text", "doc_id", w)
      .join(docs.select("doc_id", "label"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))
    // every training doc lands on its label's side of zero
    scored.foreach { case (id, score, keep, label) =>
      assert(keep == label, s"doc $id score $score keep=$keep label=$label")
    }
  }

  test("training is deterministic and the gradient stops moving on convergence") {
    val w1 = graft.ml.MLOps.perceptronTrain(docs, "text", "doc_id", col("label"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val w2 = graft.ml.MLOps.perceptronTrain(docs, "text", "doc_id", col("label"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(w1 == w2)
    assert(w1.nonEmpty)
  }

  test("zero-token and unseen-vocabulary docs score 0 and are dropped") {
    val w = graft.ml.MLOps.perceptronTrain(docs, "text", "doc_id", col("label"))
    val odd = Seq((100L, ""), (101L, "completely unseen words")).toDF("doc_id", "text")
    val out = graft.ml.MLOps.linearScoreWith(odd, "text", "doc_id", w)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(100L) == ((0L, 0L, false)))
    assert(out(101L)._2 == 0L && !out(101L)._3)
  }

  test("epoch-1 gradient from zero weights is the signed bucket count fold") {
    // with w=0 every doc is misclassified, so the first update is exactly
    // sum over ALL docs of n * y per bucket — pin it against a driver fold
    val tiny = Seq((1L, "aa bb", true), (2L, "aa cc", false)).toDF("doc_id", "text", "label")
    val w = graft.ml.MLOps.perceptronTrain(tiny, "text", "doc_id", col("label"),
      maxEpochs = 1)
    val got = w.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // aa: +1 (doc1) -1 (doc2) = 0 -> filtered out of the weight table
    // bb: +1; cc: -1  (buckets are portable-hash mod 2^15, values opaque)
    assert(got.values.toSeq.sorted == Seq(-1L, 1L))
  }
}

/** Plan-shape pins for the round-8 driver-steered trainers. */
class TrainerPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("BPE per-round top-1 plans as TakeOrdered, never a global sort") {
    // the trainer's only per-round driver pull must be the partial top-1
    // (per-partition top-1 + driver merge), not Sort+Limit over a single
    // partition — the difference between O(vocab) task memory and a
    // single-task global sort at 10^6-word vocabularies
    val docs = Seq((1L, "low lower lowest")).toDF("id", "text")
    val vocab = graft.ops.Bpe.wordCounts(docs, "text")
      .select(filter(split(col("word"), ""), s => s =!= lit("")).as("syms"), col("cnt"))
    val pairs = vocab.select(col("cnt"), explode(zip_with(
        slice(col("syms"), lit(1), size(col("syms")) - 1),
        slice(col("syms"), lit(2), size(col("syms")) - 1),
        (l, r) => struct(l.as("l"), r.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r")).agg(sum("cnt").as("n"))
    val plan = pairs.orderBy(desc("n"), asc("l"), asc("r")).limit(1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$plan")
  }

  test("perceptron weight table joins broadcast onto the feature fold") {
    val docs = Seq((1L, "good text", true), (2L, "bad junk", false))
      .toDF("doc_id", "text", "label")
    val w = graft.ml.MLOps.perceptronTrain(docs, "text", "doc_id", col("label"),
      maxEpochs = 2)
    val plan = graft.ml.MLOps.linearScoreWith(docs, "text", "doc_id", w)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast weight join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"weight table fell into a sort-merge join:\n$plan")
  }
}

/** q161b's plan form: the rank-order Column fold over a literal rule list
  * must equal the lowest-rank-first mapPartitions encode — including the
  * l==r chain and merged-symbol cases where the greedy subtleties live. */
class BpeColumnEncodeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def both(docs: Seq[(Long, String)], rules: Seq[(String, String)]): Unit = {
    val df = docs.toDF("doc_id", "text")
    val merges = rules.zipWithIndex.map { case ((l, r), i) =>
      graft.ops.Bpe.Merge(i + 1, l, r, 0L) }
    val viaLoop = graft.ops.Bpe.encode(df, "text", "doc_id", merges)
      .select(col("doc_id"), array_join(col("tokens"), " ").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaFold = graft.ops.Bpe.encodeColumn(df, "text", "doc_id", rules)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaFold == viaLoop, s"rules=$rules")
  }

  test("fold ≡ encode on adversarial chains (l==r, interleaved, composed symbols)") {
    val docs = Seq(
      1L -> "aaa aaaa aaaaa ababab",
      2L -> "merge summer hammer",
      3L -> "a ab aab abb baba",
      4L -> "   ", // whitespace-only → empty token stream
      5L -> "xyz",
      // unicode hazards: an astral (non-BMP) emoji must stay ONE symbol on
      // both paths (code-point segmentation, not UTF-16 units), and I/İ
      // must lowercase locale-independently like Spark's lower()
      6L -> "a\ud83d\ude00b caf\u00e9 I\u0130stanbul")
    both(docs, Seq("a" -> "a", "a" -> "b"))
    both(docs, Seq("a" -> "b", "a" -> "a"))
    both(docs, Seq("e" -> "r", "m" -> "er", "mer" -> "g"))
    both(docs, SparkEntry.bpeLiteralRules)
  }

  test("fold ≡ encode with rules learned by the real trainer on testdata") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(60)
    val learned = graft.ops.Bpe.train(docs, "text", maxMerges = 6)
    val rules = learned.map(m => m.left -> m.right)
    val viaLoop = graft.ops.Bpe.encode(docs, "text", "doc_id", learned)
      .select(col("doc_id"), array_join(col("tokens"), " ").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaFold = graft.ops.Bpe.encodeColumn(docs, "text", "doc_id", rules)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaFold == viaLoop && viaFold.nonEmpty)
  }
}

/** q165's runtime path, observed from the inside: the staged file stream
  * must execute MULTIPLE genuine micro-batches (watermark state carrying
  * across them), and the final upserted store must equal the static
  * aggregate. */
class StreamingGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("staged readStream run: ≥2 micro-batches, final store = static agg") {
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val events = (0 until 300).map { i =>
      (new java.sql.Timestamp(base + i * 60000L), // one event per minute, 5 hours
        if (i % 3 == 0) "click" else "view", (i % 7).toDouble)
    }.toDF("ts", "event_type", "value")
    val work = java.nio.file.Files.createTempDirectory("graft_stream_spec").toString
    val got = graft.streaming.Streaming.stagedWindowAggRun(
        spark, events, "ts", "event_type", "value", workDir = Some(work))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val want = events.groupBy(
        col("ts").cast("long").-(col("ts").cast("long") % 3600).as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want)
    assert(got.size == 10) // 5 hours × 2 event types
    // the run must have been genuinely incremental: one commit marker per
    // micro-batch, one per staged chunk file
    val marks = new java.io.File(s"$work/commitlog").listFiles()
      .count(_.getName.startsWith("batch-"))
    assert(marks >= 3, s"expected >=3 micro-batches, saw $marks")
    assert(new java.io.File(s"$work/in").listFiles()
      .count(_.getName.endsWith(".parquet")) == 3)
  }
}

/** q243's wall-clock default: the un-pinned LoadedAtSource must stamp one
  * per-load instant (current_timestamp is per-query constant) inside the
  * load window; the pinned form is oracle-gated. */
class LoadedAtSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("default clock stamps now, one constant instant per load") {
    val work = java.nio.file.Files.createTempDirectory("graft_loadedat").toString + "/t"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").write.parquet(work)
    val before = System.currentTimeMillis() - 1000
    val rows = graft.sources.LoadedAtSource(graft.sources.ParquetSource(work))
      .read(spark).select(col("id"), col("loaded_at")).collect()
    val after = System.currentTimeMillis() + 1000
    val stamps = rows.map(_.getTimestamp(1).getTime).distinct
    assert(stamps.length == 1, s"expected one per-load instant, got ${stamps.length}")
    assert(stamps.head >= before && stamps.head <= after)
  }
}

/** q242's write surface, loud paths: executeSqlWrite must reject what the
  * q-row's happy path cannot show — unknown target views, contract-widening
  * SELECTs, unsupported grammar, and CTAS onto an existing name. */
class SqlWriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore(work: String) = {
    val store = new graft.store.ContractStore()
    val srcPath = s"$work/src"
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(srcPath)
    store.addView(graft.contract.FeatureView("src",
      graft.sources.ParquetSource(srcPath)))
    store.addView(graft.contract.FeatureView("tgt",
      graft.sources.ParquetSource(s"$work/tgt"),
      entities = Seq(graft.contract.Feature("id", graft.core.FeatureType.FInt64)),
      features = Seq(graft.contract.Feature("name", graft.core.FeatureType.FString))))
    store
  }

  test("INSERT rejects columns the contract does not declare") {
    val work = java.nio.file.Files.createTempDirectory("graft_sqlw_spec").toString
    val e = intercept[IllegalArgumentException] {
      freshStore(work).executeSqlWrite(spark,
        "INSERT INTO tgt SELECT id, name, 1 AS extra FROM src")
    }
    assert(e.getMessage.contains("extra") && e.getMessage.contains("widen"))
  }

  test("INSERT INTO an unknown view and unsupported grammar fail loudly") {
    val work = java.nio.file.Files.createTempDirectory("graft_sqlw_spec").toString
    val store = freshStore(work)
    intercept[NoSuchElementException] {
      store.executeSqlWrite(spark, "INSERT INTO nope SELECT id, name FROM src")
    }
    intercept[IllegalArgumentException] {
      store.executeSqlWrite(spark, "DELETE FROM tgt WHERE id = 1")
    }
  }

  test("UPSERT INTO needs declared entity keys") {
    val work = java.nio.file.Files.createTempDirectory("graft_sqlw_spec").toString
    val store = freshStore(work)
    store.addView(graft.contract.FeatureView("keyless",
      graft.sources.ParquetSource(s"$work/keyless"),
      features = Seq(graft.contract.Feature("name", graft.core.FeatureType.FString))))
    val e = intercept[IllegalArgumentException] {
      store.executeSqlWrite(spark, "UPSERT INTO keyless SELECT name FROM src")
    }
    assert(e.getMessage.contains("entity keys"))
  }

  test("INSERT OVERWRITE replaces; CTAS onto an existing name is refused") {
    val work = java.nio.file.Files.createTempDirectory("graft_sqlw_spec").toString
    val store = freshStore(work)
    store.executeSqlWrite(spark, "INSERT INTO tgt SELECT id, name FROM src")
    store.executeSqlWrite(spark,
      "INSERT OVERWRITE tgt SELECT id, upper(name) AS name FROM src WHERE id = 1")
    val rows = store.view("tgt").all(spark).collect()
    assert(rows.length == 1 && rows.head.getString(1) == "A")
    intercept[IllegalArgumentException] {
      store.executeSqlWrite(spark,
        s"CREATE TABLE tgt LOCATION '$work/tgt2' AS SELECT id FROM src")
    }
  }

  test("INSERT INTO v (col, ...) maps the SELECT positionally; arity must match") {
    val work = java.nio.file.Files.createTempDirectory("graft_sqlw_spec").toString
    val store = freshStore(work)
    // SELECT emits (name-ish, id-ish) in swapped order; the column list
    // maps them onto the contract names positionally
    store.executeSqlWrite(spark,
      "INSERT INTO tgt (name, id) SELECT upper(name), id + 10 FROM src")
    val rows = store.view("tgt").all(spark).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(rows.toSeq == Seq((11L, "A"), (12L, "B")))
    // the list also works on UPSERT (entity key arrives via the mapping)
    store.executeSqlWrite(spark,
      "UPSERT INTO tgt (name, id) SELECT 'fixed', id + 10 FROM src WHERE id = 1")
    val after = store.view("tgt").all(spark).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(after.toSeq == Seq((11L, "fixed"), (12L, "B")))
    val e = intercept[IllegalArgumentException] {
      store.executeSqlWrite(spark, "INSERT INTO tgt (id) SELECT id, name FROM src")
    }
    assert(e.getMessage.contains("positionally"))
  }

  test("omitted entity key with no default and omitted event timestamp are rejected") {
    val work = java.nio.file.Files.createTempDirectory("graft_sqlw_spec").toString
    val store = freshStore(work)
    // tgt's entity is id with no default: a SELECT omitting it must fail
    // loudly, not write NULL keys a later UPSERT would merge on
    val e1 = intercept[IllegalArgumentException] {
      store.executeSqlWrite(spark, "INSERT INTO tgt SELECT name FROM src")
    }
    assert(e1.getMessage.contains("entity key") && e1.getMessage.contains("id"))
    // a contract-declared event timestamp the SELECT omits is rejected —
    // silently-absent event times break PIT reads later
    store.addView(graft.contract.FeatureView("stamped",
      graft.sources.ParquetSource(s"$work/stamped"),
      entities = Seq(graft.contract.Feature("id", graft.core.FeatureType.FInt64)),
      features = Seq(graft.contract.Feature("name", graft.core.FeatureType.FString)),
      eventTimestamp = Some(graft.contract.EventTimestamp("at"))))
    val e2 = intercept[IllegalArgumentException] {
      store.executeSqlWrite(spark, "INSERT INTO stamped SELECT id, name FROM src")
    }
    assert(e2.getMessage.contains("event timestamp") && e2.getMessage.contains("at"))
    store.executeSqlWrite(spark,
      "INSERT INTO stamped SELECT id, name, TIMESTAMP '2024-01-01 00:00:00' AS at FROM src")
    assert(store.view("stamped").all(spark).count() == 2)
  }
}

/** executeSql's referenced-views-only registration (r12 verdict ask #6 +
  * ADVICE: the empty placeholder's blast radius): per-statement work is
  * O(referenced), a broken UNREFERENCED view cannot fail an unrelated
  * statement, and the placeholder is restricted to writable-source-backed
  * write targets — a missing path behind a read-only source stays loud. */
class SqlReferencedViewsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a broken unreferenced view no longer fails an unrelated statement") {
    val work = java.nio.file.Files.createTempDirectory("graft_sqlref").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(s"$work/good")
    val store = new graft.store.ContractStore()
    store.addView(graft.contract.FeatureView("good",
      graft.sources.ParquetSource(s"$work/good")))
    // broken: a READ-ONLY composite source over a missing path, with a
    // declared contract (the shape the r12 placeholder wrongly silenced)
    store.addView(graft.contract.FeatureView("broken",
      graft.sources.TransformSource(
        graft.sources.ParquetSource(s"$work/nope"), df => df),
      features = Seq(graft.contract.Feature("x", graft.core.FeatureType.FInt64))))
    // unreferenced: statement succeeds
    assert(store.executeSql(spark, "SELECT count(*) AS n FROM good")
      .head().getLong(0) == 2L)
    // referenced: fails LOUDLY (read-only source => no empty placeholder)
    intercept[Exception] {
      store.executeSql(spark, "SELECT * FROM broken").collect()
    }
  }

  test("unwritten writable target presents empty WITH the event-ts column") {
    val work = java.nio.file.Files.createTempDirectory("graft_sqlref").toString
    val store = new graft.store.ContractStore()
    store.addView(graft.contract.FeatureView("pending",
      graft.sources.ParquetSource(s"$work/pending"),
      entities = Seq(graft.contract.Feature("id", graft.core.FeatureType.FInt64)),
      features = Seq(graft.contract.Feature("v", graft.core.FeatureType.FFloat64)),
      eventTimestamp = Some(graft.contract.EventTimestamp("at"))))
    // the placeholder schema must include the declared event timestamp, so
    // SQL touching it analyzes BEFORE the first write exactly as after
    val out = store.executeSql(spark,
      "SELECT id, v, at FROM pending WHERE at > TIMESTAMP '2024-01-01 00:00:00'")
    assert(out.collect().isEmpty)
    assert(out.schema("at").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("view-name tokens inside string literals do not register the view") {
    val work = java.nio.file.Files.createTempDirectory("graft_sqlref").toString
    Seq((1L, "broken")).toDF("id", "label").write.parquet(s"$work/t")
    val store = new graft.store.ContractStore()
    store.addView(graft.contract.FeatureView("t",
      graft.sources.ParquetSource(s"$work/t")))
    store.addView(graft.contract.FeatureView("broken",
      graft.sources.TransformSource(
        graft.sources.ParquetSource(s"$work/nope"), df => df),
      features = Seq(graft.contract.Feature("x", graft.core.FeatureType.FInt64))))
    // 'broken' appears only as a string literal — must not register (and
    // so must not fail), while t resolves normally
    assert(store.executeSql(spark,
      "SELECT count(*) AS n FROM t WHERE label = 'broken'").head().getLong(0) == 1L)
  }

  test("identifier-scan edges: case-insensitive hit; non-identifier names fail loudly") {
    // VERDICT r13 #7. Two pins: (a) a case-mismatched reference REGISTERS —
    // Spark resolves view names case-insensitively, so the scan must too,
    // or a statement vanilla Spark accepts would die in
    // TABLE_OR_VIEW_NOT_FOUND; (b) a view whose NAME is outside the bare
    // identifier grammar (dash — only referencable back-quoted) never
    // registers: the scan tokenizes through the quoting, so the statement
    // fails with Spark's standard not-found — loud, never silently wrong.
    val work = java.nio.file.Files.createTempDirectory("graft_sqlref").toString
    Seq((1L, 2L)).toDF("id", "v").write.parquet(s"$work/q")
    val store = new graft.store.ContractStore()
    store.addView(graft.contract.FeatureView("Sales",
      graft.sources.ParquetSource(s"$work/q")))
    store.addView(graft.contract.FeatureView("my-view",
      graft.sources.ParquetSource(s"$work/q")))
    // (a) registered "Sales", referenced lowercase — resolves
    assert(store.executeSql(spark, "SELECT * FROM sales").count() == 1L)
    // (b) back-quoted dashed name — documented loud failure
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      store.executeSql(spark, "SELECT * FROM `my-view`").collect()
    }
    assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e.getMessage.toLowerCase.contains("cannot be found"))
  }
}

/** q212b's runtime path: a MID-BATCH CRASH (post-sink, pre-engine-commit)
  * followed by recovery on the same checkpoint — the redelivered torn
  * batch must be absorbed by the commitlog sink, and the final store must
  * still equal the static aggregate. */
class CrashRecoveryGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("mid-batch crash + same-checkpoint recovery = exactly-once store") {
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val events = (0 until 300).map { i =>
      (new java.sql.Timestamp(base + i * 60000L),
        if (i % 3 == 0) "click" else "view", (i % 7).toDouble)
    }.toDF("ts", "event_type", "value")
    val work = java.nio.file.Files.createTempDirectory("graft_crash_spec").toString
    val got = graft.streaming.Streaming.stagedCrashRecoveryRun(
        spark, events, "ts", "event_type", "value", workDir = Some(work))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val want = events.groupBy(
        col("ts").cast("long").-(col("ts").cast("long") % 3600).as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want)
    // the torn batch's mark must predate phase 2 (the sink committed it in
    // phase 1) and every staged chunk must have run as a micro-batch
    val marks = new java.io.File(s"$work/commitlog").listFiles()
      .count(_.getName.startsWith("batch-"))
    assert(marks >= 4, s"expected >=4 micro-batch marks, saw $marks")
  }
}

/** q167's runtime path: custom keyed state (flatMapGroupsWithState) through
  * a genuine staged stream, including the deterministic (ts, tie) rule on
  * equal timestamps. */
class StatefulLatestGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("staged stateful-latest run equals static top-1, ties resolved by tie id") {
    val t0 = java.sql.Timestamp.valueOf("2024-05-01 00:00:00").getTime
    def ts(m: Int) = new java.sql.Timestamp(t0 + m * 60000L)
    val events = (
      (1 to 120).map(i => (ts(i), (i % 4).toLong, s"e$i", i.toLong)) ++
      // user 9: two rows with the SAME ts — the higher event_id must win,
      // regardless of arrival/batch order
      Seq((ts(200), 9L, "tie_low", 900L), (ts(200), 9L, "tie_high", 901L))
    ).toDF("ts", "user_id", "event_type", "event_id")
    val work = java.nio.file.Files.createTempDirectory("graft_sls_spec").toString
    val got = graft.streaming.Streaming.stagedStatefulLatestRun(
        spark, events, Seq("user_id"), "ts", tieCol = Some("event_id"),
        workDir = Some(work))
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("event_id"), r.getAs[String]("event_type"))).toMap
    val want = events.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("event_id"), r.getAs[String]("event_type"))).toMap
    assert(got == want)
    assert(got(9L) == (901L, "tie_high"))
    // genuinely incremental: a commit marker per staged chunk
    assert(new java.io.File(s"$work/commitlog").listFiles()
      .count(_.getName.startsWith("batch-")) >= 3)
  }
}

/** q173's Lloyd-round statistic: exactness bound of the integer
  * quantization and partition-of-the-corpus invariants. */
class KmeansRoundStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("round stats partition the corpus and bound the quantized mean") {
    val rnd = new scala.util.Random(7)
    val dim = 8
    val vecs = (1L to 200L).map(i =>
      (i, Array.fill(dim)(rnd.nextFloat() * 2f - 1f).toSeq)).toDF("vec_id", "embedding")
    val ids = 1 to 4
    val mat = graft.ops.Dedup.portablePlanes(4, dim)
    val stats = graft.ops.Similarity.kmeansRoundStats(vecs, "embedding", ids, mat)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3)))).toMap
    // every (centroid, pos) pair carries the full dim range; n is constant
    // across pos within a centroid; Σ n over centroids = corpus size
    val byCid = stats.keys.groupBy(_._1)
    byCid.foreach { case (cid, keys) =>
      assert(keys.map(_._2).toSet == (0 until dim).toSet, s"centroid $cid dims")
      assert(keys.map(k => stats(k)._1).toSet.size == 1, s"centroid $cid n varies by pos")
    }
    assert(byCid.keys.map(cid => stats((cid, 0))._1).sum == 200L)
    // quantized-mean error bound: floor drops < 1 per member per dim, so
    // |sum_q / (n·2^20) − true mean| < 2^-20
    val assign = vecs.withColumn("cid", element_at(
        graft.functions.Native.nearestCentroids(
          col("embedding").cast("array<double>"), ids, mat, 1), 1))
      .select(col("cid"), posexplode(col("embedding").cast("array<double>")))
      .groupBy("cid", "pos").agg(avg(col("col")).as("mean"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assign.foreach { case (k, mean) =>
      val (n, sumQ) = stats(k)
      assert(math.abs(sumQ.toDouble / (n * 1048576.0) - mean) < 1.0 / 1048576.0, s"$k")
    }
  }
}

/** q174's prototypicality pruning: budget, cut ordering, and the
  * keep-all edge cases. */
class PrototypePruneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("per-cluster drops respect the budget and the bucket cut ordering") {
    val rnd = new scala.util.Random(11)
    val dim = 8
    val df = (1L to 300L).map(i =>
      (i, Array.fill(dim)(rnd.nextFloat() * 2f - 1f).toSeq)).toDF("vec_id", "embedding")
    val ids = 1 to 4
    val mat = graft.ops.Dedup.portablePlanes(4, dim)
    val all = graft.ops.Similarity.prototypePrune(df, "embedding", "vec_id",
      ids, mat, dropFrac = 0.0)
    assert(all.count() == 300L) // dropFrac 0 keeps everything
    val kept = graft.ops.Similarity.prototypePrune(df, "embedding", "vec_id",
      ids, mat, dropFrac = 0.25)
      .collect().map(r => (r.getInt(1), r.getLong(0), r.getLong(2)))
    val full = all.collect().map(r => (r.getInt(1), r.getLong(0), r.getLong(2)))
    assert(kept.map(_._2).toSet.subsetOf(full.map(_._2).toSet))
    full.groupBy(_._1).foreach { case (cid, members) =>
      val keptC = kept.filter(_._1 == cid)
      val dropped = members.filterNot(m => keptC.exists(_._2 == m._2))
      // at most floor(dropFrac·n) drop, and every dropped bucket sits
      // strictly above every kept bucket (cut ordering)
      assert(dropped.length <= math.floor(0.25 * members.length).toLong, s"cluster $cid budget")
      if (dropped.nonEmpty && keptC.nonEmpty)
        assert(dropped.map(_._3).min > keptC.map(_._3).max, s"cluster $cid ordering")
    }
  }
}

/** q172's runtime path: the genuinely-streaming near-dup run equals the
  * batch estimate restatement, and the zero-eviction gate trips loudly. */
class StreamingNearDupGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (3L, "the quick brown fox jumps over the lazy dog near the river delta"),
    (4L, "completely different text about distributed query engines and parquet"),
    (5L, "another unrelated document discussing spark catalyst optimizer rules"),
    (6L, "the quick brown fox jumps over the lazy dog near the river bank")
  ).toDF("doc_id", "text")

  test("staged streaming near-dup equals the batch estimate form") {
    val work = java.nio.file.Files.createTempDirectory("graft_snd_spec").toString
    val got = graft.streaming.Streaming.stagedNearDupRun(
        spark, docs, "text", "doc_id", threshold = 0.5, bands = 4, k = 3,
        workDir = Some(work))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = graft.ops.Dedup.nearDupByEstimate(docs, "text", "doc_id",
        threshold = 0.5, bands = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
    assert(got.nonEmpty) // the duplicate cluster must surface
    // cross-batch pairs require state: ≥3 micro-batches ran
    assert(new java.io.File(s"$work/commitlog").listFiles()
      .count(_.getName.startsWith("batch-")) >= 3)
  }

  test("eviction trips the gate instead of silently diverging") {
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streaming.stagedNearDupRun(
        spark, docs, "text", "doc_id", threshold = 0.5, bands = 4, k = 3,
        maxPerBucket = 1)
    }
    assert(e.getMessage.contains("evictions"))
  }
}

/** q175's runtime path: genuine stream-stream interval join over staged
  * chunks equals the static join; the no-match case yields an empty store. */
class IntervalJoinGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("staged stream-stream interval join equals the static join") {
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime
    def ts(m: Int) = new java.sql.Timestamp(t0 + m * 60000L)
    // clicks every 10 min per user; purchases offset so some fall inside
    // the 1 h window and some outside; a cross-chunk match needs buffered
    // left state (click in chunk 1, purchase in chunk 3)
    val events = (
      (0 until 40).map(i => (ts(i * 10), (i % 3).toLong, "click", 1000L + i)) ++
      (0 until 40).map(i => (ts(i * 10 + 45), (i % 3).toLong, "purchase", 2000L + i)) ++
      (0 until 5).map(i => (ts(500 + i), 7L, "purchase", 3000L + i))
    ).toDF("ts", "user_id", "event_type", "event_id")
    // read by NAME: the upsert store leads with its key columns, so the
    // store's physical column order differs from the emit order
    val got = graft.streaming.Streaming.stagedIntervalJoinRun(
        spark, events, "ts", Seq("user_id"), "event_id",
        leftPred = "event_type = 'click'", rightPred = "event_type = 'purchase'",
        after = "1 hour")
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("a_id"),
        r.getAs[Long]("b_id"), r.getAs[Long]("lag_us"))).toSet
    val a = events.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("a_ts"), $"event_id".as("a_id"))
    val b = events.filter($"event_type" === "purchase")
      .select($"user_id".as("u2"), $"ts".as("b_ts"), $"event_id".as("b_id"))
    val want = a.join(b, $"user_id" === $"u2" && $"b_ts" >= $"a_ts" &&
        $"b_ts" <= $"a_ts" + expr("INTERVAL 1 HOUR"))
      .select($"user_id", $"a_id", $"b_id",
        (unix_micros($"b_ts") - unix_micros($"a_ts")).as("lag_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("no matching pairs yields an empty store, not a crash") {
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime
    val events = (0 until 20).map(i =>
      (new java.sql.Timestamp(t0 + i * 60000L), i.toLong, "view", i.toLong))
      .toDF("ts", "user_id", "event_type", "event_id")
    val got = graft.streaming.Streaming.stagedIntervalJoinRun(
      spark, events, "ts", Seq("user_id"), "event_id",
      leftPred = "event_type = 'click'", rightPred = "event_type = 'purchase'")
    assert(got.count() == 0L)
  }
}

/** q176's runtime path: Spark's built-in stateful dedup
  * (dropDuplicatesWithinWatermark) collapses at-least-once deliveries —
  * including re-deliveries arriving in LATER micro-batches, which only
  * key state carried across batches can catch. */
class StreamingDedupGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("double-delivered rows collapse to exactly one copy per key") {
    val t0 = java.sql.Timestamp.valueOf("2024-07-01 00:00:00").getTime
    val rows = (0 until 90).map(i =>
      (new java.sql.Timestamp(t0 + i * 60000L), (i % 5).toLong, s"e$i", i.toLong))
      .toDF("ts", "user_id", "event_type", "event_id")
    // duplicate EVERY delivery; staging sorts by (ts, tiebreak) so the two
    // copies of a row may straddle a chunk boundary — the cross-batch case
    val got = graft.streaming.Streaming.stagedDedupRun(
        spark, rows.unionAll(rows), "ts", Seq("event_id"))
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[String]("event_type")))
      .toSet
    val want = rows.collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("event_type"))).toSet
    assert(got == want)
    assert(got.size == 90)
  }
}

/** q177's runtime path: gap-based session windows through a genuine
  * APPEND-mode streaming run — the far-future sentinel must flush every
  * real session and never surface itself. */
class SessionAggGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("staged session-window run equals batch session_window, sentinel absent") {
    val t0 = java.sql.Timestamp.valueOf("2024-08-01 00:00:00").getTime
    def ts(m: Int) = new java.sql.Timestamp(t0 + m * 60000L)
    // per user: bursts of minutes-apart events separated by >30 min gaps;
    // user 2's last event sits at the global max — its final session only
    // flushes because of the sentinel
    val events = (
      (0 until 30).map(i => (ts(i * 7), (i % 3).toLong, (i % 4).toDouble, i.toLong)) ++
      (0 until 10).map(i => (ts(400 + i * 5), (i % 3).toLong, 1.5, 100L + i)) :+
      ((ts(500), 2L, 9.0, 999L))
    ).toDF("ts", "user_id", "value", "event_id")
    val got = graft.streaming.Streaming.stagedSessionAggRun(
        spark, events, "ts", "user_id", "value", gap = "30 minutes")
      .collect().map(r => (r.getAs[Long]("session_start"), r.getAs[Long]("user_id"),
        r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toSet
    val want = events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("s"))
      .select(unix_micros(col("session_window.start")).as("st"),
        col("user_id"), col("n"), col("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want)
    // the isolated last event formed its own flushed session
    assert(got.exists { case (st, u, n, s) =>
      u == 2L && n == 1L && s == 9.0 && st == ts(500).getTime * 1000L })
    // and nothing 30 days out (the sentinel's session) leaked into the store
    assert(got.forall(_._1 <= ts(500).getTime * 1000L))
  }

  test("empty input yields an empty store, not an NPE on the sentinel") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType))))
    val got = graft.streaming.Streaming.stagedSessionAggRun(
      spark, empty, "ts", "user_id", "value", gap = "30 minutes")
    assert(got.count() == 0L)
  }
}

/** q178's funnel audit: the attribution frame must partition the corpus,
  * agree with run() on the kept set, and respect disabled stages. */
class RecipeAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // a corpus with one of everything: too-short docs (gate), a duplicate
  // cluster (near_dup), and enough en/de spread for LM terciles and DSIR
  private def docs = {
    val long = (1 to 40).map(i => s"the quick brown fox number $i jumps over the lazy dog and keeps running along the river")
    val dup = "identical duplicated document text repeated across several ids for the cluster"
    (
      long.zipWithIndex.map { case (t, i) => (i.toLong, t, if (i % 4 == 0) "de" else "en") } ++
      Seq((100L, dup, "en"), (101L, dup, "en"), (102L, dup, "en")) ++
      Seq((200L, "too short", "en"), (201L, "x", "de"))
    ).toDF("doc_id", "text", "lang")
  }

  test("audit partitions the corpus and its kept set equals run()'s") {
    val r = graft.contract.CurationRecipe(name = "audit_spec",
      gopherMinWords = 5, ccnetRefCol = Some("lang"), ccnetRefValue = "en",
      dsirTargetCol = Some("lang"), dsirTargetValue = "en", dsirKeepPct = 60)
    val audit = r.runAudit(docs).collect()
      .map(x => (x.getLong(0), x.getString(1), Option(x.getString(2))))
    assert(audit.length == docs.count()) // exactly one row per input doc
    val kept = audit.filter(_._2 == "kept")
    assert(kept.forall(_._3.exists(s => s == "train" || s == "test")))
    assert(audit.filterNot(_._2 == "kept").forall(_._3.isEmpty))
    val ranKept = r.run(docs).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.map(_._1).toSet == ranKept, "audit-kept diverged from run()-kept")
    // the short docs died at the gate; the dup cluster lost 2 of 3 members
    assert(audit.filter(x => x._1 >= 200L).forall(_._2 == "gate"))
    assert(audit.count(x => x._1 >= 100L && x._1 <= 102L && x._2 == "near_dup") == 2)
  }

  test("disabled stages never label") {
    val r = graft.contract.CurationRecipe(name = "audit_min", gopherMinWords = 5)
    val stages = r.runAudit(docs).select("stage").distinct()
      .collect().map(_.getString(0)).toSet
    assert(!stages.contains("lm_tail") && !stages.contains("dsir"))
  }
}

/** q181's incremental ingest: corpus near-dups drop (corpus wins),
  * within-batch clusters keep best, gate applies, corpus never re-pairs. */
class RecipeIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val boiler = "the quick brown fox jumps over the lazy dog and keeps running along the river"

  test("corpus duplicates drop, batch clusters keep best, gate applies") {
    val corpus = Seq(
      (10L, s"$boiler in the standing corpus"),
      (11L, "a completely different corpus document about query engines")
    ).toDF("doc_id", "text")
    // the batch cluster (21/22) shares NO shingles with the corpus —
    // otherwise the corpus-dup rule correctly claims it first
    val batchBoiler = "catalyst planner rewrites logical trees into physical operators before execution begins today"
    val batch = Seq(
      (20L, s"$boiler in the standing corpus"),          // dup of corpus 10 → drop
      (21L, s"$batchBoiler with extra trailing words"),  // batch cluster, longer
      (22L, s"$batchBoiler"),                            // same cluster, shorter
      (23L, "short")                                     // gate drop (min words 5)
    ).toDF("doc_id", "text")
    val r = graft.contract.CurationRecipe(name = "ingest_spec", gopherMinWords = 5)
    val got = r.runIncremental(corpus, batch)
      .select("doc_id", "component", "split").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
    val ids = got.map(_._1).toSet
    assert(!ids.contains(20L), "corpus duplicate must drop (corpus wins)")
    assert(!ids.contains(23L), "gate-failing doc must drop")
    assert(ids.contains(21L), "the longer batch-cluster member is kept")
    assert(!ids.contains(22L), "the shorter batch-cluster member drops")
    assert(got.forall(x => x._3 == "train" || x._3 == "test"))
  }

  test("a clean batch admits entirely and corpus ids never appear") {
    val corpus = Seq((10L, "corpus only document about distributed joins and shuffles here"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (20L, s"one wholly novel batch document $boiler alpha"),
      (21L, "another novel batch document with entirely distinct words about catalyst rules")
    ).toDF("doc_id", "text")
    val r = graft.contract.CurationRecipe(name = "ingest_clean", gopherMinWords = 5)
    val ids = r.runIncremental(corpus, batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(20L, 21L))
  }
}

/** q179's distributed curriculum rank: a permutation 1..N equal to the
  * global-window restatement, phases strictly ordered. */
class CurriculumOrderSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = (1L to 500L).map(i => (i, (i % 7).toInt)).toDF("doc_id", "len_bucket")

  test("rank is the global (phase, md5, key) permutation, without a global window") {
    val phase = when(col("len_bucket") < 2, 0).when(col("len_bucket") < 5, 1).otherwise(2)
    val got = graft.ml.MLOps.curriculumOrder(docs, "doc_id", phase, phases = 3, buckets = 16)
      .select("doc_id", "phase", "curriculum_rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.map(_._3).sorted.toSeq == (1L to 500L)) // a permutation
    val want = docs.withColumn("phase", phase)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("phase"),
          graft.ml.MLOps.md5Bucket(col("doc_id"), 1000000), col("doc_id"))).cast("long"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rk"))).toMap
    assert(got.forall { case (id, _, rk) => want(id) == rk })
    // phases are strictly ordered blocks
    val maxByPhase = got.groupBy(_._2).view.mapValues(_.map(_._3).max)
    val minByPhase = got.groupBy(_._2).view.mapValues(_.map(_._3).min)
    assert(maxByPhase(0) < minByPhase(1) && maxByPhase(1) < minByPhase(2))
  }

  test("out-of-range phase fails loudly") {
    val e = intercept[IllegalArgumentException] {
      graft.ml.MLOps.curriculumOrder(docs, "doc_id", col("len_bucket"), phases = 3)
        .count()
    }
    assert(e.getMessage.contains("outside"))
  }

  test("null phase fails descriptively, not with an NPE") {
    val withNull = docs.withColumn("len_bucket",
      when(col("doc_id") === 7L, lit(null)).otherwise(lit(0)))
    val e = intercept[IllegalArgumentException] {
      graft.ml.MLOps.curriculumOrder(withNull, "doc_id", col("len_bucket"), phases = 3)
        .count()
    }
    assert(e.getMessage.contains("null phase"))
  }

  test("null key fails descriptively, not with an NPE on the bucket unboxing") {
    val withNullKey = (1L to 20L).map(i => (i, 0)).toDF("doc_id", "len_bucket")
      .withColumn("doc_id", when(col("doc_id") === 7L, lit(null)).otherwise(col("doc_id")))
    val e = intercept[IllegalArgumentException] {
      graft.ml.MLOps.curriculumOrder(withNullKey, "doc_id", col("len_bucket"), phases = 1)
        .count()
    }
    assert(e.getMessage.contains("null doc_id"))
  }

  test("an input frame already carrying the output column names fails loudly") {
    val clash = docs.withColumn("phase", lit(9))
    val e = intercept[IllegalArgumentException] {
      graft.ml.MLOps.curriculumOrder(clash, "doc_id", lit(0), phases = 1)
    }
    assert(e.getMessage.contains("already exist"))
    // a caller-chosen free name routes around the clash
    val ok = graft.ml.MLOps.curriculumOrder(clash, "doc_id", lit(0), phases = 1,
      phaseCol = "cur_phase")
    assert(ok.columns.count(_ == "phase") == 1 && ok.columns.contains("cur_phase"))
  }
}

/** q180's one-scan LOSO complements: total-minus-source arithmetic equals
  * recomputing each complement directly. */
class AblationComplementsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("complement stats equal direct per-complement computation") {
    val docs = Seq(
      (1L, "one two three", "a", "en"), (2L, "four five", "a", "de"),
      (3L, "six", "b", "en"), (4L, "seven eight nine ten", "b", "en"),
      (5L, "eleven twelve", "c", "fr")
    ).toDF("doc_id", "text", "source", "lang")
    val got = graft.ml.MLOps.ablationComplements(docs, "text", "source", "lang", "en")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    for (s <- Seq("a", "b", "c")) {
      val c = docs.filter(col("source") =!= s)
      val d = c.count()
      val t = c.select(sum(graft.ops.TextAnalysis.tokenCountWs(col("text"))))
        .head().getLong(0)
      val e = c.filter(col("lang") === "en").count()
      assert(got(s) == ((d, t, 1000 * e / d)), s)
    }
  }
}

/** q183's stream-static enrichment gate: the streamed store equals the
  * static left join, including unmatched keys flowing with nulls. */
class StreamEnrichGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("final store = static left join; dimension misses keep the event") {
    val events = Seq(
      (1L, 10L, "2024-01-01 00:00:00", 5.0),
      (2L, 20L, "2024-01-01 01:00:00", 7.0),
      (3L, 99L, "2024-01-01 02:00:00", 9.0), // 99 absent from the dim
      (4L, 10L, "2024-01-01 03:00:00", 2.0),
      (5L, 20L, "2024-01-01 04:00:00", 1.0)
    ).toDF("id", "k", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    val dim = Seq((10L, "gold"), (20L, "silver"), (30L, "unused"))
      .toDF("k", "tier")
    val got = graft.streaming.Streaming.stagedEnrichJoinRun(
        spark, events, orderCol = "ts", idCol = "id", dim = dim,
        joinKeys = Seq("k"), chunks = 3)
      .select("id", "k", "tier", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)), r.getDouble(3)))
      .toSet
    val want = events.join(broadcast(dim), Seq("k"), "left")
      .select("id", "k", "tier", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)), r.getDouble(3)))
      .toSet
    assert(got == want)
    assert(got.exists { case (id, _, tier, _) => id == 3L && tier.isEmpty })
  }

  test("a duplicate-keyed dimension fails loudly instead of keeping an arbitrary match") {
    val events = Seq((1L, 10L, "2024-01-01 00:00:00", 5.0))
      .toDF("id", "k", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    val dupDim = Seq((10L, "gold"), (10L, "silver")).toDF("k", "tier")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streaming.stagedEnrichJoinRun(
        spark, events, orderCol = "ts", idCol = "id", dim = dupDim,
        joinKeys = Seq("k"))
    }
    assert(e.getMessage.contains("duplicate"))
  }
}

/** q184's multi-benchmark decontamination matrix: one corpus pass equals
  * running decontaminate per benchmark. */
class DecontamMatrixSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val corpus = Seq(
    (1L, "alpha beta gamma delta epsilon"),   // leaks into A (and B's shared gram)
    (2L, "zeta eta theta iota kappa"),        // leaks into B
    (3L, "completely disjoint words here now") // clean
  ).toDF("doc_id", "text")
  private val benchmarks = Seq(
    ("A", "alpha beta gamma something else"),
    ("A", "gamma delta epsilon tail words"),
    ("B", "zeta eta theta other stuff"),
    ("B", "alpha beta gamma shared with a")   // the A gram appears in B too
  ).toDF("benchmark", "text")

  test("matrix rows equal per-benchmark decontaminate runs") {
    val got = graft.ops.TextAnalysis.decontaminationMatrix(
        corpus, benchmarks, "text", "doc_id", "benchmark", n = 3)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = Seq("A", "B").flatMap { b =>
      graft.ops.TextAnalysis.decontaminate(
          corpus, benchmarks.filter(col("benchmark") === b), "text", "doc_id", n = 3)
        .collect().map(r => (r.getLong(0), b) -> r.getLong(1))
    }.toMap
    assert(got == want)
    // doc 1 contaminates BOTH suites (the shared "alpha beta gamma" gram)
    assert(got.contains((1L, "A")) && got.contains((1L, "B")))
    assert(!got.keys.exists(_._1 == 3L))
  }
}

/** q185's DoReMi-style reweighting round: exact-sum invariant, monotone
  * response to excess loss, eta=0 = pure uniform smoothing. */
class DomainReweightSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // domain c is twice as lossy as a/b
  private def docs = Seq(
    ("a", 100L), ("a", 100L), ("b", 100L), ("b", 100L),
    ("c", 300L), ("c", 500L)
  ).toDF("domain", "loss")
  private val w0 = Map("a" -> 400L, "b" -> 400L, "c" -> 200L)

  test("new weights sum to exactly 1000 and the lossy domain gains") {
    val got = graft.ml.MLOps.domainReweightRound(docs, "domain", col("loss"), w0)
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(got.values.map(_._2).sum == 1000L)
    assert(got("c")._2 > got("c")._1)            // excess loss ⇒ weight up
    assert(got("a")._2 < got("a")._1)            // renormalization pays for it
  }

  test("eta = 0 is pure smoothing toward uniform") {
    val got = graft.ml.MLOps.domainReweightRound(docs, "domain", col("loss"), w0,
        etaMilli = 0L, smoothMilli = 100L)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    // 0.9·norm(w) + 0.1·uniform: floors 393/393/213 leave one milli, and
    // all three remainders tie (1e6 each) so domain-asc hands it to "a"
    assert(got == Map("a" -> 394L, "b" -> 393L, "c" -> 213L))
    assert(got.values.sum == 1000L)
  }

  test("a knob combination that would overflow int64 is rejected up front") {
    val many = (1 to 5000).map(i => s"d$i" -> 1000000L).toMap
    val e = intercept[IllegalArgumentException] {
      graft.ml.MLOps.domainReweightRound(docs, "domain", col("loss"), many,
        etaMilli = 10000L)
    }
    assert(e.getMessage.contains("overflow"))
  }

  test("domains absent from the weight table drop") {
    val got = graft.ml.MLOps.domainReweightRound(docs, "domain", col("loss"),
      Map("a" -> 500L, "b" -> 500L))
    assert(got.select("domain").collect().map(_.getString(0)).toSet == Set("a", "b"))
  }
}

/** q186's interpolated bigram LM partition: reference-like word ORDER is
  * what separates head from tail (the evidence a unigram model cannot
  * see), and short docs take the no-transition score. */
class BigramLmSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fluent word order outranks the same words scrambled") {
    val ref = Seq.tabulate(12)(i => (100L + i, "the cat sat on the mat"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the cat sat on the mat"),   // reference bigrams throughout
      (2L, "mat the on sat cat the"),   // same unigrams, unseen bigrams
      (3L, "zzz qqq"),                  // unseen everything
      (4L, "single")                    // < 2 tokens: no transitions
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.lmQualityPartitionBigram(ref, corpus,
        "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got(1L)._1 > got(2L)._1) // conditional evidence, not just vocabulary
    assert(got(2L)._1 > got(3L)._1) // unigram backoff still separates known words
    assert(got(4L)._1 == -1L)
    assert(got(1L)._2 == "head")
  }

  test("a reference with no bigrams fails loudly") {
    val ref = Seq((1L, "single"), (2L, "words")).toDF("doc_id", "text")
    val corpus = Seq((1L, "a b c")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.ops.TextAnalysis.lmQualityPartitionBigram(ref, corpus, "text", "doc_id")
    }
    assert(e.getMessage.contains("no bigrams"))
  }
}

/** q187's watermark-closed left-outer interval join gate: unmatched lefts
  * surface as -1/null rows only via state eviction, sentinels stay out. */
class StreamingOuterJoinGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("non-converting clicks emit the null row; matches emit pairs; no sentinels") {
    val events = Seq(
      (1L, 10L, "click", "2024-01-01 00:00:00"),
      (2L, 10L, "purchase", "2024-01-01 00:30:00"),  // converts click 1
      (3L, 20L, "click", "2024-01-01 01:00:00"),     // never converts
      (4L, 30L, "click", "2024-01-01 02:00:00"),
      (5L, 30L, "purchase", "2024-01-01 04:00:00"),  // outside the 1h bound
      (6L, 10L, "click", "2024-01-01 05:00:00"),
      (7L, 10L, "purchase", "2024-01-01 05:10:00"),  // converts click 6
      // the tail case that once failed at sf0.01: this click's eviction
      // bound (06:30) is past every real event, so its null row exists
      // ONLY if the sentinels actually advance the watermark (a
      // null-keyed sentinel is silently dropped by the inferred
      // IsNotNull join-key filters and this row never flushes)
      (8L, 40L, "click", "2024-01-01 05:30:00"),
      (9L, 50L, "view", "2024-01-01 05:40:00")
    ).toDF("event_id", "user_id", "event_type", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = graft.streaming.Streaming.stagedOuterIntervalJoinRun(
        spark, events, tsCol = "ts", keys = Seq("user_id"), idCol = "event_id",
        leftPred = "event_type = 'click'", rightPred = "event_type = 'purchase'",
        after = "1 hour", chunks = 3)
      .select("user_id", "a_id", "b_id_key", "lag_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(got == Set(
      (10L, 1L, 2L, Some(1800000000L)),
      (20L, 3L, -1L, None),
      (30L, 4L, -1L, None),
      (10L, 6L, 7L, Some(600000000L)),
      (40L, 8L, -1L, None)))
  }

  test("clicks with zero purchases anywhere fails loudly (right watermark cannot advance)") {
    val events = Seq((1L, 10L, "click", "2024-01-01 00:00:00"))
      .toDF("event_id", "user_id", "event_type", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streaming.stagedOuterIntervalJoinRun(
        spark, events, tsCol = "ts", keys = Seq("user_id"), idCol = "event_id",
        leftPred = "event_type = 'click'", rightPred = "event_type = 'purchase'")
    }
    assert(e.getMessage.contains("rightPred"))
  }

  test("empty input yields an empty store with the projected schema, no sentinels") {
    val empty = Seq.empty[(Long, Long, String, java.sql.Timestamp)]
      .toDF("event_id", "user_id", "event_type", "ts")
    val got = graft.streaming.Streaming.stagedOuterIntervalJoinRun(
      spark, empty, tsCol = "ts", keys = Seq("user_id"), idCol = "event_id",
      leftPred = "event_type = 'click'", rightPred = "event_type = 'purchase'")
    assert(got.count() == 0L)
    assert(got.columns.toSeq == Seq("user_id", "a_id", "b_id_key", "lag_us"))
  }
}

/** The staged gates' micro-batch floor, pinned exactly: one batch per
  * staged chunk, the sentinels riding in the last chunk, one trailing
  * eviction batch for the append-mode gates and none in update mode —
  * and the session confs the gate pins come back on every exit. */
class StagedGateBatchCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val shuffleKey = "spark.sql.shuffle.partitions"
  private def confs = (spark.conf.getOption(noDataKey), spark.conf.getOption(shuffleKey))

  private def marks(work: String): Int = new java.io.File(s"$work/commitlog").listFiles()
    .count(_.getName.startsWith("batch-"))

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_batch_count").toString

  private val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime

  private def clicks = Seq(
    (1L, 10L, "click", 0), (2L, 10L, "purchase", 30), (3L, 20L, "click", 60),
    (4L, 30L, "click", 120), (5L, 30L, "purchase", 240), (6L, 10L, "click", 300),
    (7L, 10L, "purchase", 310), (8L, 40L, "click", 330), (9L, 50L, "view", 340))
    .map { case (id, u, t, m) => (id, u, t, new java.sql.Timestamp(t0 + m * 60000L)) }
    .toDF("event_id", "user_id", "event_type", "ts")

  test("window gate: 3 chunks run exactly 3 micro-batches (no empty update-mode tail)") {
    val events = (0 until 300).map(i =>
      (new java.sql.Timestamp(t0 + i * 60000L), if (i % 3 == 0) "click" else "view",
        (i % 7).toDouble)).toDF("ts", "event_type", "value")
    val before = confs
    val work = tmp()
    val got = graft.streaming.Streaming.stagedWindowAggRun(
      spark, events, "ts", "event_type", "value", chunks = 3, workDir = Some(work))
    assert(got.count() == 10L)
    assert(marks(work) == 3)
    assert(confs == before)
  }

  test("session gate: 3 chunks, sentinel in the last one, run exactly 4 micro-batches") {
    val events = (0 until 60).map(i =>
      (new java.sql.Timestamp(t0 + i * 7 * 60000L), (i % 3).toLong, (i % 4).toDouble))
      .toDF("ts", "user_id", "value")
    val before = confs
    val work = tmp()
    val got = graft.streaming.Streaming.stagedSessionAggRun(
      spark, events, "ts", "user_id", "value", gap = "30 minutes", chunks = 3,
      workDir = Some(work))
    // every user's events sit 21 minutes apart: one session each, all flushed
    assert(got.count() == 3L)
    assert(marks(work) == 4)
    assert(new java.io.File(s"$work/in").listFiles().count(_.getName.endsWith(".parquet")) == 3)
    assert(confs == before)
  }

  test("outer-join gate: 3 chunks, sentinels in the last one, run exactly 4 micro-batches") {
    val before = confs
    val work = tmp()
    val got = graft.streaming.Streaming.stagedOuterIntervalJoinRun(
      spark, clicks, tsCol = "ts", keys = Seq("user_id"), idCol = "event_id",
      leftPred = "event_type = 'click'", rightPred = "event_type = 'purchase'",
      after = "1 hour", chunks = 3, workDir = Some(work))
    assert(got.count() == 5L) // 2 conversions + 3 unmatched clicks
    assert(marks(work) == 4)
    assert(new java.io.File(s"$work/in").listFiles().count(_.getName.endsWith(".parquet")) == 3)
    assert(confs == before)
  }

  test("pinned confs come back when a gate throws") {
    // the default, set explicitly so a pin leaked by an earlier test
    // cannot pass for a restore here
    spark.conf.set(noDataKey, "true")
    val before = confs
    intercept[IllegalArgumentException] {
      graft.streaming.Streaming.stagedOuterIntervalJoinRun(
        spark, clicks.filter(col("event_type") =!= "purchase"), tsCol = "ts",
        keys = Seq("user_id"), idCol = "event_id",
        leftPred = "event_type = 'click'", rightPred = "event_type = 'purchase'")
    }
    assert(confs == before)
    // a failure inside the running update-mode query: both the shuffle
    // width and the no-data-batch pin were set when it threw
    val events = (0 until 30).map(i =>
      (new java.sql.Timestamp(t0 + i * 60000L), "click", i.toDouble))
      .toDF("ts", "event_type", "value")
    intercept[Exception] {
      graft.streaming.Streaming.stagedWindowAggRun(spark, events, "ts", "event_type",
        "value", pipeline = _.withColumn("value",
          raise_error(lit("graft-spec: injected failure")).cast("double")))
    }
    assert(confs == before)
  }
}

/** q188/q189: contamination spans and excision — the quoted eval text
  * vanishes, the unique prose stays. */
class DecontamExciseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val benchmark = Seq(
    (100L, "what is the capital of france paris obviously")
  ).toDF("doc_id", "text")
  private val corpus = Seq(
    // quotes the eval question mid-document
    (1L, "my blog post asks what is the capital of france and then rambles on"),
    (2L, "completely original writing about distributed systems and shuffles"),
    (3L, "tiny")
  ).toDF("doc_id", "text")

  test("spans cover exactly the quoted run") {
    val spans = graft.ops.Dedup.contaminationSpans(corpus, benchmark,
        "text", "doc_id", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // "what is the capital of france" = positions 5-10 in doc 1: 3-gram
    // starts 5..8 qualify, span = [5, 8+3-1=10], 6 tokens
    assert(spans.toSeq == Seq((1L, 5L, 10L, 6L)))
  }

  test("excision removes the span and keeps everything else verbatim") {
    val got = graft.ops.Dedup.decontaminateByExcision(corpus, benchmark,
        "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(1L) == (("my blog post asks and then rambles on", 14L, 6L)))
    assert(got(2L) == (("completely original writing about distributed systems and shuffles", 8L, 0L)))
    assert(got(3L) == (("tiny", 1L, 0L)))
  }

  test("a token-free doc comes back as empty, not missing (the output is total)") {
    val withEmpty = corpus.unionByName(Seq((9L, "   ")).toDF("doc_id", "text"))
    val got = graft.ops.Dedup.decontaminateByExcision(withEmpty, benchmark,
        "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(9L) == (("", 0L, 0L)))
    assert(got.keySet == Set(1L, 2L, 3L, 9L))
  }
}

/** The recipe's decontamination stage 0 (q190): eval rows and overlapping
  * docs leave before any other stage sees them, with audit attribution;
  * the ingest path decontaminates per batch. */
class RecipeDecontamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // distinct fillers per doc — identical boilerplate would make the
  // clean docs near-duplicates of one another and muddy the attribution
  private def fill(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
  private def docs = Seq(
    (1L, s"what is the capital of france ${fill("a")}", "web"),
    (2L, s"entirely original prose about spark plans ${fill("b")} extra", "web"),
    (3L, "what is the capital of france paris", "eval"),
    (4L, s"another unrelated clean document ${fill("c")} more words", "web")
  ).toDF("doc_id", "text", "src")
  private val r = graft.contract.CurationRecipe(name = "decon_spec",
    decontamCol = Some("src"), decontamValue = "eval", decontamN = 3,
    gopherRuleMask = 0L)

  test("run() drops the eval slice and the contaminated doc") {
    val kept = r.run(docs).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L))
  }

  test("runAudit labels eval_slice and contaminated distinctly") {
    val got = r.runAudit(docs).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(got == Map(1L -> "contaminated", 2L -> "kept",
      3L -> "eval_slice", 4L -> "kept"))
  }

  test("runIncremental decontaminates the batch against corpus + batch eval rows") {
    val corpus = docs.filter(col("doc_id") =!= 1L) // standing corpus incl. eval row
    val batch = Seq(
      (10L, s"quoting what is the capital of france again ${fill("d")}", "web"),
      (11L, s"novel batch document with its own words ${fill("e")} tail", "web"),
      (12L, "a brand new eval question entirely", "eval"),
      (13L, s"quotes a brand new eval question ${fill("f")} too", "web")
    ).toDF("doc_id", "text", "src")
    val kept = r.runIncremental(corpus, batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L)) // 10 hits corpus eval, 12 IS eval, 13 hits batch eval
  }

  test("an empty eval slice fails loudly, not as a silent no-op") {
    val typo = r.copy(decontamValue = "evall")
    val e = intercept[IllegalArgumentException] { typo.run(docs).count() }
    assert(e.getMessage.contains("ZERO"))
    val e2 = intercept[IllegalArgumentException] {
      typo.runIncremental(docs, docs.limit(2)).count()
    }
    assert(e2.getMessage.contains("ZERO"))
  }

  test("excise mode keeps the contaminated doc with the quote removed") {
    val re = r.copy(decontamMode = "excise")
    val got = re.run(docs).select("doc_id", "text").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    // doc 1 survives, quote excised; the eval row is still gone. The quote
    // is doc 1's PREFIX, so the cleaned text is exactly the filler tail.
    assert(got.keySet == Set(1L, 2L, 4L))
    assert(got(1L) == fill("a") && !got(1L).contains("capital"))
    // audit: nothing labels 'contaminated' in excise mode
    val stages = re.runAudit(docs).select("stage").collect().map(_.getString(0)).toSet
    assert(!stages.contains("contaminated") && stages.contains("eval_slice"))
    // ingest path trims the batch the same way
    val corpus = docs.filter(col("doc_id") =!= 1L)
    val batch = Seq(
      (20L, s"mentions what is the capital of france mid text ${fill("z")}", "web")
    ).toDF("doc_id", "text", "src")
    val adm = re.runIncremental(corpus, batch)
      .select("doc_id", "text").collect().map(x => (x.getLong(0), x.getString(1)))
    assert(adm.length == 1 && !adm.head._2.contains("capital"))
  }

  test("a bad decontamMode fails at construction") {
    val e = intercept[IllegalArgumentException] {
      graft.contract.CurationRecipe(name = "bad", decontamMode = "remove")
    }
    assert(e.getMessage.contains("excise"))
  }

  test("decontamination knob changes are Breaking in the recipe diff") {
    val changed = r.copy(decontamValue = "other")
    assert(graft.contract.ContractDiff.isBreakingRecipe(r, changed))
    val n = r.copy(decontamN = 5)
    assert(graft.contract.ContractDiff.isBreakingRecipe(r, n))
    assert(graft.contract.ContractDiff.isBreakingRecipe(r,
      r.copy(decontamMode = "excise")))
  }
}

/** q191: the ingest funnel audit agrees with runIncremental and labels
  * each drop with its first stage. */
class RecipeIngestAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("audit-kept equals runIncremental's admitted set; labels are per-stage") {
    def fill(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    val corpus = Seq(
      (1L, s"standing corpus document about joins ${fill("a")}")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "too short"),                                             // gate
      (11L, s"standing corpus document about joins ${fill("a")} x"),  // corpus dup
      (12L, s"fresh batch document one ${fill("b")} alpha beta"),     // near-dup pair...
      (13L, s"fresh batch document one ${fill("b")} alpha"),          // ...keep-best loser
      (14L, s"wholly unrelated batch document ${fill("c")}")          // kept
    ).toDF("doc_id", "text")
    val r = graft.contract.CurationRecipe(name = "ingest_audit", gopherMinWords = 5)
    val audit = r.runIncrementalAudit(corpus, batch).collect()
      .map(x => x.getLong(0) -> (x.getString(1), Option(x.getString(2)))).toMap
    assert(audit(10L)._1 == "gate")
    assert(audit(11L)._1 == "corpus_dup")
    assert(audit(13L)._1 == "near_dup")
    assert(audit(12L)._1 == "kept" && audit(12L)._2.nonEmpty)
    assert(audit(14L)._1 == "kept")
    val admitted = r.runIncremental(corpus, batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(audit.filter(_._2._1 == "kept").keySet == admitted)
    // non-kept rows have no split
    assert(audit.filter(_._2._1 != "kept").values.forall(_._2.isEmpty))
  }
}

/** Streaming portable-HLL gate: the final streamed registers/estimate must
  * equal the one-shot batch sketch — max-merge state is order-independent,
  * so any chunking converges to the same registers. */
class StreamingHllGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("final streamed estimate = batch portable-HLL estimate") {
    val docs = (1L to 60L).map(i =>
      (i, if (i % 3 == 0) "a" else "b", s"w${i % 7} w${i % 11} w$i"))
      .toDF("doc_id", "src", "text")
    val got = graft.streaming.Streaming.stagedHllRun(
        spark, docs, keyCol = "src", valueCol = "w", orderCol = "doc_id",
        lgK = 6, chunks = 4,
        prepare = d => d.select(col("src"),
          explode(split(col("text"), "\\s+")).as("w")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val tokens = docs.select(col("src"),
      explode(split(col("text"), "\\s+")).as("w"))
    val want = graft.ops.Aggregations.hllPortableEstimate(
        graft.ops.Aggregations.hllPortableRegisters(tokens, Seq("src"), "w", 6),
        Seq("src"), 6)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got == want)
    assert(got.keySet == Set("a", "b"))
    // sanity only: the RAW estimator (no small-range correction) biases
    // high at n << m — accuracy proper is gated in PortableHllSpec; the
    // claim HERE is streamed ≡ batch, pinned exactly above
    val trueB = tokens.filter(col("src") === "b").select("w").distinct().count()
    assert(got("b")._3 > 0.3 * trueB && got("b")._3 < 3.0 * trueB,
      s"estimate ${got("b")._3} implausible vs true $trueB")
  }
}

/** Streaming portable-CMS gate: the final streamed counters must equal the
  * one-shot batch sketch — sums are exactly-once through cumulative
  * re-emission + upsert-latest, never through merge idempotence. */
class StreamingCmsGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("final streamed counters = batch portable-CMS sketch") {
    val docs = (1L to 50L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", s"t${i % 5} t${i % 9} t$i"))
      .toDF("doc_id", "src", "text")
    val got = graft.streaming.Streaming.stagedCmsRun(
        spark, docs, keyCol = "src", valueCol = "w", orderCol = "doc_id",
        depth = 2, lgWidth = 6, chunks = 4,
        prepare = d => d.select(col("src"),
          explode(split(col("text"), "\\s+")).as("w")))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val tokens = docs.select(col("src"),
      explode(split(col("text"), "\\s+")).as("w"))
    val want = graft.ops.Aggregations.cmsPortableSketch(tokens, Seq("src"), "w",
        depth = 2, lgWidth = 6)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    assert(got == want)
    // total mass per key = depth * token count (every token hits each row)
    val massA = got.collect { case ((k, d, _), n) if k == "a" && d == 0 => n }.sum
    assert(massA == tokens.filter(col("src") === "a").count())
  }
}
