package graft

import graft.contract._
import graft.core.FeatureType._
import graft.ops._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Caching, contract-diff, encodings, vector index, prediction persistence. */
class PlumbingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fileCached computes once, then serves from files") {
    val path = java.nio.file.Files.createTempDirectory("graft_fc").toString + "/c"
    var computes = 0
    def make = { computes += 1; Seq((1, "a")).toDF("id", "v") }
    val first = Caching.fileCached(spark, path)(make)
    val second = Caching.fileCached(spark, path)(make)
    assert(computes == 1)
    assert(second.collect().toSeq == first.collect().toSeq)
  }

  test("fileCached recomputes when maxAge exceeded") {
    val path = java.nio.file.Files.createTempDirectory("graft_fc2").toString + "/c"
    var computes = 0
    def make = { computes += 1; Seq((computes)).toDF("n") }
    Caching.fileCached(spark, path)(make)
    Caching.fileCached(spark, path, Some(java.time.Duration.ZERO))(make)
    assert(computes == 2)
  }

  test("chunked iteration covers all rows in bounded chunks") {
    val df = (1 to 95).toDF("n")
    val chunks = Caching.chunked(df, 10).toSeq
    assert(chunks.map(_.size).sum == 95)
    assert(chunks.forall(_.size <= 10))
  }

  test("contract diff classifies changes by blast radius") {
    import ContractDiff._
    val v1 = FeatureView("v", graft.sources.CustomSource(_.emptyDataFrame),
      entities = Seq(Feature("id", FInt64)),
      features = Seq(Feature("a", FFloat64), Feature("b", FString)))
    val v2 = v1.copy(features = Seq(Feature("a", FInt64), Feature("c", FString)))
    val changes = diff(v1, v2)
    assert(changes.exists(c => c.severity == Breaking && c.what.contains("removed feature 'b'")))
    assert(changes.exists(c => c.severity == Breaking && c.what.contains("dtype")))
    assert(changes.exists(c => c.severity == Warning && c.what.contains("added feature 'c'")))
    assert(isBreaking(v1, v2))
    assert(!isBreaking(v1, v1))
  }

  test("oneHotFeatures compile into boolean derived features") {
    val feats = Encoding.oneHotFeatures("seg", Seq("A", "B"))
    val v = FeatureView("o", graft.sources.CustomSource(s => {
      import s.implicits._; Seq(("A"), ("B"), ("C")).toDF("seg")
    }), features = Seq(Feature("seg", FString)), derived = feats)
    val out = new graft.store.ContractStore().addView(v).view("o").all(spark)
    assert(out.filter(col("seg_is_a")).count() == 1)
    assert(out.filter(col("seg_is_b")).count() == 1)
  }

  test("vector index upsert + nearestN round trip") {
    val path = java.nio.file.Files.createTempDirectory("graft_vi").toString + "/idx"
    val idx = new graft.store.VectorIndex(graft.sources.ParquetSource(path))
    idx.upsert(Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding"))
    // replace vector 2, add 4
    idx.upsert(Seq((2L, Seq(0.95f, 0.05f)), (4L, Seq(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding"))
    val q = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val nn = idx.nearestN(spark, q, 2).orderBy("rank").collect()
    assert(nn.map(_.getAs[Long]("neighbor_id")).toSet.subsetOf(Set(2L, 3L)))
  }

  test("predictAndStore upserts into the prediction view's source") {
    val path = java.nio.file.Files.createTempDirectory("graft_pred").toString + "/preds"
    val inputView = FeatureView("in",
      graft.sources.CustomSource(s => { import s.implicits._; Seq((1L, 5.0), (2L, 7.0)).toDF("id", "x") }),
      entities = Seq(Feature("id", FInt64)), features = Seq(Feature("x", FFloat64)))
    val predView = FeatureView("preds", graft.sources.ParquetSource(path),
      entities = Seq(Feature("id", FInt64)))
    val m = ModelContract("m", Seq("in:x"), predictionView = Some(predView),
      model = Some(graft.ml.ExpressionModel("m", "2", "pred", col("x") * 10)))
    val store = new graft.store.ContractStore().addView(inputView).addModel(m)
    store.model("m").predictAndStore(spark, Seq((1L), (2L)).toDF("id"))
    store.model("m").predictAndStore(spark, Seq((2L)).toDF("id")) // upsert same key
    val out = spark.read.parquet(path)
    assert(out.count() == 2)
    assert(out.filter(col("id") === 2).select("pred").head().getDouble(0) == 70.0)
  }

  test("loadFeature explodes list columns and re-collects") {
    val lookupView = FeatureView("lk",
      graft.sources.CustomSource(s => { import s.implicits._
        Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("id", "word") }),
      entities = Seq(Feature("id", FInt64)), features = Seq(Feature("word", FString)))
    val store = new graft.store.ContractStore().addView(lookupView)
    val df = Seq((Seq(1L, 3L)), (Seq(2L))).toDF("ids")
    val out = store.loadFeature(spark, df, "lk:word", explodeCol = Some("ids"))
    val words = out.select("word").collect().map(_.getSeq[String](0).toSet)
    assert(words.toSet == Set(Set("one", "three"), Set("two")))
  }
}

/** Planner refinements: topological derivation, request pruning, JSON-decoded
  * ensure-types. */
class PlannerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("derivedRounds topo-sorts regardless of declared depth") {
    val v = FeatureView("t", graft.sources.CustomSource(_.emptyDataFrame),
      features = Seq(Feature("x", FFloat64)),
      derived = Seq(
        // declared depths are all wrong (1); order comes from dependingOn
        DerivedFeature("c", FFloat64, graft.expr.Ref("b"), Seq("b"), depth = 1),
        DerivedFeature("b", FFloat64, graft.expr.Ref("a"), Seq("a"), depth = 1),
        DerivedFeature("a", FFloat64, graft.expr.Ref("x"), Seq("x"), depth = 1)))
    val rounds = FeatureView.derivedRounds(v.derived, v.name).map(_.map(_.name))
    assert(rounds == Seq(Seq("a"), Seq("b"), Seq("c")))
  }

  test("derivedRounds rejects cycles") {
    val v = FeatureView("c", graft.sources.CustomSource(_.emptyDataFrame),
      derived = Seq(
        DerivedFeature("a", FFloat64, graft.expr.Ref("b"), Seq("b")),
        DerivedFeature("b", FFloat64, graft.expr.Ref("a"), Seq("a"))))
    assertThrows[IllegalStateException](FeatureView.derivedRounds(v.derived, v.name))
  }

  test("featuresFor skips features already on the entity frame") {
    val v = FeatureView("pv",
      graft.sources.CustomSource(s => { import s.implicits._; Seq((1L, 99.0)).toDF("id", "score") }),
      entities = Seq(Feature("id", FInt64)), features = Seq(Feature("score", FFloat64)))
    val store = new graft.store.ContractStore().addView(v)
    val ents = Seq((1L, 5.0)).toDF("id", "score") // score already present
    val out = store.featuresFor(spark, ents, Seq("pv:score"))
    assert(out.select("score").head().getDouble(0) == 5.0) // NOT overwritten
  }

  test("ensure-types JSON-decodes string-encoded arrays") {
    val v = FeatureView("j",
      graft.sources.CustomSource(s => { import s.implicits._
        Seq(("[1,2,3]")).toDF("arr") }),
      features = Seq(Feature("arr", FArray(FInt64))))
    val out = new graft.store.ContractStore().addView(v).view("j").all(spark)
    assert(out.select("arr").head().getSeq[Long](0) == Seq(1L, 2L, 3L))
  }
}

/** Goldens for the remaining expression-IR operators + new stubs. */
class ExprSpec2 extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.expr._

  private def eval1(e: Expr, df: org.apache.spark.sql.DataFrame): Any =
    df.select(e.toColumn).head().get(0)

  test("TimeDifference in seconds") {
    val df = Seq((java.sql.Timestamp.valueOf("2024-01-01 10:00:30"),
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))).toDF("a", "b")
    assert(eval1(TimeDifference(Ref("a"), Ref("b")), df) == 30.0)
  }
  test("ToNumerical coerces strings, null on garbage") {
    val df = Seq(("3.5", "abc")).toDF("ok", "bad")
    assert(eval1(ToNumerical(Ref("ok")), df) == 3.5)
    assert(df.select(ToNumerical(Ref("bad")).toColumn).head().isNullAt(0))
  }
  test("HashColumns is deterministic and column-order sensitive") {
    val df = Seq(("a", "b")).toDF("x", "y")
    val h1 = eval1(HashColumns(Seq(Ref("x"), Ref("y"))), df)
    val h2 = eval1(HashColumns(Seq(Ref("x"), Ref("y"))), df)
    val h3 = eval1(HashColumns(Seq(Ref("y"), Ref("x"))), df)
    assert(h1 == h2 && h1 != h3)
  }
  test("FormatString maps {} placeholders") {
    val df = Seq(("world", 42)).toDF("w", "n")
    assert(eval1(FormatString("hello {} #{}", Seq(Ref("w"), Ref("n"))), df) == "hello world #42")
  }
  test("SplitString treats separator literally") {
    val df = Seq(("a.b.c")).toDF("s")
    assert(df.select(SplitString(Ref("s"), ".").toColumn).head().getSeq[String](0) ==
      Seq("a", "b", "c"))
  }
  test("ReplaceStrings applies sequentially") {
    val df = Seq(("aaa")).toDF("s")
    assert(eval1(ReplaceStrings(Ref("s"), Seq(("a", "b"), ("bb", "c"))), df) == "cb")
  }
  test("Cast to FeatureType") {
    val df = Seq((3.7)).toDF("x")
    assert(eval1(Cast(Ref("x"), FInt32), df) == 3)
  }
  test("LogBase") {
    val df = Seq((8.0)).toDF("x")
    assert(eval1(LogBase(Ref("x"), 2.0), df) == 3.0)
  }
  test("StructFieldAccess on struct column") {
    val df = Seq((1)).toDF("i").select(struct(lit(5).as("a"), lit("z").as("b")).as("s"))
    assert(eval1(StructFieldAccess(Ref("s"), "a"), df) == 5)
  }
  test("AppendStrings nulls become empty") {
    val df = Seq((Some("x"), None: Option[String])).toDF("a", "b")
    assert(eval1(AppendStrings(Seq(Ref("a"), Ref("b")), "-"), df) == "x")
  }
  test("hash embedding model produces unit-range vectors and drives the index") {
    val docs = Seq((1L, "hello world"), (2L, "hello world"), (3L, "other text")).toDF("vec_id", "text")
    val m = graft.ml.HashEmbeddingModel("emb", "1", "text", dims = 8)
    val out = m.predict(docs)
    val v1 = out.filter(col("vec_id") === 1).select("embedding").head().getSeq[Float](0)
    val v2 = out.filter(col("vec_id") === 2).select("embedding").head().getSeq[Float](0)
    assert(v1 == v2) // same text → same vector
    assert(v1.forall(f => f >= -1.0f && f <= 1.0f))
    // embedder-attached index: query by text only
    val path = java.nio.file.Files.createTempDirectory("graft_vi2").toString + "/idx"
    val idx = new graft.store.VectorIndex(graft.sources.ParquetSource(path), embedder = Some(m))
    idx.upsert(out.select("vec_id", "embedding"))
    val nn = idx.nearestN(spark, Seq((9L, "hello world")).toDF("vec_id", "text"), 1)
    assert(Set(1L, 2L).contains(nn.head().getAs[Long]("neighbor_id")))
  }
  test("storage source reads raw file bytes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bin")
    java.nio.file.Files.write(dir.resolve("f.bin"), Array[Byte](1, 2, 3))
    val df = graft.sources.StorageSource(dir.toString).read(spark)
    assert(df.count() == 1)
    assert(df.select("content").head().getAs[Array[Byte]](0).toSeq == Seq[Byte](1, 2, 3))
  }
  test("langIdDeterministic classifies sample sentences") {
    val samples = Seq(
      "the cat sat on the mat and that is that" -> "en",
      "el gato es una maravilla que vive con los niños" -> "es",
      "der Hund ist nicht mit der Katze und das ist gut" -> "de",
      "le chat est dans la maison pour les amis" -> "fr",
      "你好 世界" -> "zh",
      "zzz qqq xxx" -> "unknown")
    val df = samples.toDF("text", "expected")
    val out = df.select(col("expected"),
      graft.ops.TextAnalysis.langIdDeterministic(col("text")).as("b")).collect()
    out.foreach { r =>
      assert(r.getString(1) == r.getString(0), s"langIdDeterministic: ${r.getString(1)}")
    }
  }

  test("presigned url stub is deterministic per key") {
    val df = Seq(("k1"), ("k1"), ("k2")).toDF("key")
    val urls = df.select(graft.ops.Multimodal.presignedUrlStub("bkt", col("key"))).collect()
      .map(_.getString(0))
    assert(urls(0) == urls(1) && urls(0) != urls(2))
    assert(urls(0).startsWith("https://bkt.s3.amazonaws.com/k1?"))
  }
}

/** Scale-path as-of join equivalence + SQL-registered kernels + session windows. */
class ScalePathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pointInTimeSorted equals asofJoin on randomized data") {
    val rnd = new scala.util.Random(42)
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    // unique (key, minute) feature timestamps → deterministic ties-free compare
    val minutes = rnd.shuffle((0 until 600).toList)
    val feats = (0 until 300).map(i => (i % 7L, ts(minutes(i)), i.toDouble))
      .toDF("k", "ts", "v").groupBy("k", "ts").agg(max("v").as("v"))
    val facts = (0 until 150).map(i => (rnd.nextInt(9).toLong, ts(rnd.nextInt(600)), i.toLong))
      .toDF("k", "ts", "fact_id")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("fact_id", "v").collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
    val a = Joins.asofJoin(facts, feats, "ts", "ts", Seq("k"))
    val b = Joins.pointInTimeSorted(facts, feats, Seq("k"), "ts", "ts")
    assert(canon(a) == canon(b))
    // with tolerance, on monotone data the two also agree
    val tol = Some(java.time.Duration.ofMinutes(60))
    val at = Joins.asofJoin(facts, feats, "ts", "ts", Seq("k"), tolerance = tol)
    val bt = Joins.pointInTimeSorted(facts, feats, Seq("k"), "ts", "ts", ttl = tol)
    assert(canon(at) == canon(bt))
  }

  test("pointInTimeSorted: null-ts features fall back, never win") {
    val facts = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 100L))
      .toDF("k", "ts", "fact_id")
    val feats = Seq(
      (1L, Option(java.sql.Timestamp.valueOf("2024-01-01 09:00:00")), "timestamped"),
      (1L, None: Option[java.sql.Timestamp], "untimestamped"))
      .toDF("k", "ts", "v")
    val out = Joins.pointInTimeSorted(facts, feats, Seq("k"), "ts", "ts")
    assert(out.head().getAs[String]("v") == "timestamped")
    val onlyNull = Joins.pointInTimeSorted(facts, feats.filter($"ts".isNull), Seq("k"), "ts", "ts")
    assert(onlyNull.head().getAs[String]("v") == "untimestamped")
  }

  test("pointInTimeSorted equals pointInTimeJoin on randomized data, with and without TTL") {
    val rnd = new scala.util.Random(7)
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")
    val minutes = rnd.shuffle((0 until 600).toList)
    val feats = (0 until 300).map(i => (i % 7L, ts(minutes(i)), i.toDouble))
      .toDF("k", "feat_ts", "v").groupBy("k", "feat_ts").agg(max("v").as("v"))
    val facts = (0 until 150).map(i => (rnd.nextInt(9).toLong, ts(rnd.nextInt(600)), i.toLong))
      .toDF("k", "fact_ts", "fact_id")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("fact_id", "v").collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
    val a = Joins.pointInTimeJoin(facts, feats, Seq("k"), "feat_ts", "fact_ts")
    val b = Joins.pointInTimeSorted(facts, feats, Seq("k"), "feat_ts", "fact_ts")
    assert(canon(a) == canon(b))
    val ttl = Some(java.time.Duration.ofMinutes(45))
    val at = Joins.pointInTimeJoin(facts, feats, Seq("k"), "feat_ts", "fact_ts", ttl)
    val bt = Joins.pointInTimeSorted(facts, feats, Seq("k"), "feat_ts", "fact_ts", ttl)
    assert(canon(at) == canon(bt))
    // with null feature timestamps sprinkled in: at most ONE null-ts row per
    // key (the engines break ties among null-ts rows arbitrarily), null is
    // the always-valid fallback under TTL
    val featsN = feats.withColumn("feat_ts",
      when(pmod(xxhash64($"k"), lit(5L)) === 0 && $"v" < 50, lit(null)).otherwise($"feat_ts"))
      .groupBy("k", "feat_ts").agg(max("v").as("v"))
      .withColumn("__nullrank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"k", $"feat_ts".isNull).orderBy($"v")))
      .filter($"feat_ts".isNotNull || $"__nullrank" === 1).drop("__nullrank")
    val an = Joins.pointInTimeJoin(facts, featsN, Seq("k"), "feat_ts", "fact_ts", ttl)
    val bn = Joins.pointInTimeSorted(facts, featsN, Seq("k"), "feat_ts", "fact_ts", ttl)
    assert(canon(an) == canon(bn))
  }

  test("pointInTimeSorted: null-ts feature rows pass TTL as a fallback when the latest is stale") {
    val facts = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 100L))
      .toDF("k", "fact_ts", "fact_id")
    val feats = Seq(
      (1L, Option(java.sql.Timestamp.valueOf("2024-01-01 06:00:00")), "stale"),
      (1L, None: Option[java.sql.Timestamp], "untimestamped"))
      .toDF("k", "feat_ts", "v")
    val ttl = Some(java.time.Duration.ofHours(1))
    for (f <- Seq(Joins.pointInTimeJoin _, Joins.pointInTimeSorted _)) {
      val out = f(facts, feats, Seq("k"), "feat_ts", "fact_ts", ttl, Nil)
      assert(out.head().getAs[String]("v") == "untimestamped")
      // in-window timestamped row beats the null-ts fallback
      val fresh = feats.withColumn("feat_ts",
        coalesce($"feat_ts" + expr("INTERVAL 3 HOURS 30 MINUTES"), $"feat_ts"))
      assert(f(facts, fresh, Seq("k"), "feat_ts", "fact_ts", ttl, Nil)
        .head().getAs[String]("v") == "stale")
    }
  }

  test("bucketed materialization joins with no shuffle exchange") {
    val a = (0 until 1000).map(i => (i.toLong % 50, i)).toDF("k", "av")
    val b = (0 until 500).map(i => (i.toLong % 50, s"b$i")).toDF("k", "bv")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ta = graft.ops.Caching.materializeBucketed(a, "bkt_a", Seq("k"), numBuckets = 8)
      val tb = graft.ops.Caching.materializeBucketed(b, "bkt_b", Seq("k"), numBuckets = 8)
      val joined = ta.join(tb, Seq("k"))
      assert(joined.count() == 1000 * 10) // 20 a-rows × 10 b-rows per key / ... sanity below
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("saltedJoin equals plain join (inner and left, with unmatched rows)") {
    val left = (0 until 200).map(i => (i % 11L, i)).toDF("k", "lv")
    // key 99 exists only on the left — exercises left-join null fill
    val l2 = left.union(Seq((99L, -1)).toDF("k", "lv"))
    val right = (0 until 40).map(i => (i % 7L, s"r$i")).toDF("k", "rv")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), Option(r.getAs[String]("rv"))))
        .sortBy(t => (t._1, t._2, t._3)).toSeq
    for (how <- Seq("inner", "left")) {
      val plain = canon(l2.join(right, Seq("k"), how))
      val salted = canon(Joins.saltedJoin(l2, right, Seq("k"), how, salt = 5))
      assert(plain == salted, s"how=$how")
    }
  }

  test("pointInTimeAggBucketed equals pointInTimeAgg on randomized data") {
    val rnd = new scala.util.Random(23)
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:${rnd.nextInt(60)}%02d")
    val feats = (0 until 400).map(i => (i % 5L, ts(rnd.nextInt(1200)), i.toDouble))
      .toDF("k", "feat_ts", "v")
    val facts = (0 until 120).map(i => (rnd.nextInt(7).toLong, ts(rnd.nextInt(1200)), i.toLong))
      .toDF("k", "fact_ts", "fact_id")
    val aggs = Seq(
      AggregatedFeature("n_1h", FInt64, AggFunc.Count, "v",
        Some(AggregationWindow(java.time.Duration.ofHours(1)))),
      AggregatedFeature("max_15m", FFloat64, AggFunc.Max, "v",
        Some(AggregationWindow(java.time.Duration.ofMinutes(15)))))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("fact_id", "n_1h", "max_15m").collect()
        .map(r => (r.getLong(0), (r.getLong(1), Option(r.get(2))))).toMap
    val a = canon(Aggregations.pointInTimeAgg(facts, feats, Seq("k"), "feat_ts", "fact_ts", aggs))
    val b = canon(Aggregations.pointInTimeAggBucketed(facts, feats, Seq("k"), "feat_ts", "fact_ts", aggs))
    assert(a == b)
  }

  test("ContractStore PIT lookup agrees with the pointInTimeJoin reference") {
    val dir = "/root/testdata/sf0.001"
    val ev = SparkEntry.events(spark, dir)
    val viewSrc = graft.sources.TransformSource(
      graft.sources.ParquetSource(s"$dir/events.parquet"),
      _ => ev.filter($"event_type" === "view").groupBy("user_id", "ts")
        .agg(max($"value").as("value")))
    val v = FeatureView(
      name = "sviews", source = viewSrc,
      entities = Seq(Feature("user_id", FInt64)),
      features = Seq(Feature("value", FFloat64)),
      eventTimestamp = Some(EventTimestamp("ts", Some(java.time.Duration.ofDays(1)))))
    val facts = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts".as("event_timestamp"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "value").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    val store = new graft.store.ContractStore().addView(v)
    val reference = Joins.pointInTimeJoin(facts,
      store.view("sviews").baseWithDerived(spark).select("user_id", "ts", "value"),
      Seq("user_id"), "ts", "event_timestamp", v.eventTimestamp.get.ttl)
    assert(canon(store.featuresFor(spark, facts, Seq("sviews:value"))) == canon(reference))
  }

  test("native kernels callable from SQL after registration") {
    graft.functions.Native.registerAll(spark)
    Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f))).toDF("a", "b").createOrReplaceTempView("vecs")
    val cos = spark.sql("SELECT graft_cosine(a, b) AS c, graft_dot(a, b) AS d FROM vecs").head()
    assert(math.abs(cos.getDouble(0) - 1.0) < 1e-12 && cos.getDouble(1) == 1.0)
    val sh = spark.sql(
      "SELECT size(graft_shingles('a b c d', 2, true)) AS n, graft_simhash64(graft_shingles('a b c d', 2, false)) AS s")
      .head()
    assert(sh.getInt(0) == 3 && sh.getLong(1) != 0L)
  }

  test("session_window aggregation sessionizes a file stream") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sess").toString
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 2.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 3.0))
      .toDF("user_id", "ts", "value").write.parquet(dir + "/in")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    val view = FeatureView("sw", graft.sources.CustomSource(_.emptyDataFrame),
      entities = Seq(Feature("user_id", FInt64)),
      features = Seq(Feature("value", FFloat64)),
      aggregates = Seq(AggregatedFeature("total", FFloat64, AggFunc.Sum, "value")),
      eventTimestamp = Some(EventTimestamp("ts")))
    val stream = graft.streaming.Streaming.fileStream(spark, dir + "/in", schema)
    val agg = graft.streaming.Streaming.sessionAggregate(stream, view, "30 minutes")
    val q = agg.writeStream.outputMode("complete").format("memory").queryName("sess_out").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val rows = spark.sql("SELECT total FROM sess_out ORDER BY total").collect().map(_.getDouble(0))
    assert(rows.toSeq == Seq(3.0, 3.0)) // two sessions: 1+2 and 3
  }
}

/** Multiple sliding windows on one view must each aggregate the RAW frame
  * and be stitched as-of on (keys, window ts) — the reference's
  * multi-window combine (local/job.py:146-159) — never aggregate the
  * previous window's output. */
class MultiWindowSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("two sliding windows stitch as-of instead of aggregating aggregates") {
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:20:00"), 2.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:50:00"), 4.0),
      // 11:05 advances max(ts) past 11:00 so the [10:00,11:00) hourly window
      // survives the end<=max(ts) clip; its own windows (ends 11:30/12:00)
      // are trailing partials the clip suppresses
      (1L, java.sql.Timestamp.valueOf("2024-01-01 11:05:00"), 8.0))
    val v = FeatureView("mw",
      graft.sources.CustomSource(_ => rows.toDF("user_id", "ts", "v")),
      entities = Seq(Feature("user_id", FInt64)),
      features = Seq(Feature("v", FFloat64)),
      aggregates = Seq(
        AggregatedFeature("sum_1h", FFloat64, AggFunc.Sum, "v",
          Some(AggregationWindow(java.time.Duration.ofHours(1),
            everyInterval = Some(java.time.Duration.ofHours(1))))),
        AggregatedFeature("sum_30m", FFloat64, AggFunc.Sum, "v",
          Some(AggregationWindow(java.time.Duration.ofMinutes(30),
            everyInterval = Some(java.time.Duration.ofMinutes(30)))))),
      eventTimestamp = Some(EventTimestamp("ts")))
    val out = new graft.store.ContractStore().addView(v).view("mw").all(spark)
      .select("user_id", "window_ts", "sum_1h", "sum_30m")
      .orderBy("window_ts").collect()
    // spine = the DENSER 30m group (reference keeps the larger frame on the
    // join_asof left): surviving 30m windows end 10:30 (sum 3) and 11:00
    // (sum 4); the 1h group contributes [10:00,11:00) → end 11:00, sum 7,
    // attached as-of. Trailing partials (ends 11:30/12:00 > max ts 11:05)
    // are clipped.
    assert(out.length == 2)
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 1L))
    assert(out.map(_.getTimestamp(1)).toSeq == Seq(
      java.sql.Timestamp.valueOf("2024-01-01 10:30:00"),
      java.sql.Timestamp.valueOf("2024-01-01 11:00:00")))
    assert(out(0).isNullAt(2) && out(0).getDouble(3) == 3.0) // no 1h window ends <= 10:30
    assert(out(1).getDouble(2) == 7.0 && out(1).getDouble(3) == 4.0)
  }

  test("featuresFor attaches plain features AND aggregates of the same view") {
    val feats = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"), 5.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 09:30:00"), 7.0))
    val v = FeatureView("mix",
      graft.sources.CustomSource(_ => feats.toDF("user_id", "ts", "v")),
      entities = Seq(Feature("user_id", FInt64)),
      features = Seq(Feature("v", FFloat64)),
      aggregates = Seq(AggregatedFeature("n_24h", FInt64, AggFunc.Count, "v",
        Some(AggregationWindow(java.time.Duration.ofDays(1))))),
      eventTimestamp = Some(EventTimestamp("ts")))
    val facts = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("user_id", "event_timestamp")
    val out = new graft.store.ContractStore().addView(v)
      .featuresFor(spark, facts, Seq("mix:v", "mix:n_24h"))
      .select("user_id", "v", "n_24h").collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      == Seq((1L, 7.0, 2L)))
  }

  test("sliding offsetInterval is SUBTRACTED from the result timestamp, after the clip") {
    // reference: filter(label <= max ts) then `pl.col(time) - offset_interval`
    // (local/job.py:130-145)
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 11:30:00"), 2.0))
    val aggs = Seq(AggregatedFeature("s", FFloat64, AggFunc.Sum, "v",
      Some(AggregationWindow(java.time.Duration.ofHours(1),
        everyInterval = Some(java.time.Duration.ofHours(1)),
        offsetInterval = Some(java.time.Duration.ofMinutes(10))))))
    val out = Aggregations.sliding(rows.toDF("user_id", "ts", "v"), Seq("user_id"), "ts",
      aggs, aggs.head.window.get).collect()
    // [10:00,11:00) survives (end 11:00 <= max 11:30) and is labeled
    // end - 10m = 10:50; [11:00,12:00) is a trailing partial → clipped
    assert(out.length == 1)
    assert(out.head.getAs[Double]("s") == 1.0)
    assert(out.head.getAs[java.sql.Timestamp]("window_ts")
      == java.sql.Timestamp.valueOf("2024-01-01 10:50:00"))
  }

  test("incremental materialization appends only rows past the freshness watermark") {
    val raw = java.nio.file.Files.createTempDirectory("graft_incr_raw").toString
    val mat = java.nio.file.Files.createTempDirectory("graft_incr_mat").toString + "/t"
    def row(t: String, v: Double) = (1L, java.sql.Timestamp.valueOf(t), v)
    Seq(row("2024-01-01 10:00:00", 1.0), row("2024-01-01 11:00:00", 2.0))
      .toDF("user_id", "ts", "v").write.mode("append").parquet(raw)
    val v = FeatureView("incr", graft.sources.ParquetSource(raw),
      entities = Seq(Feature("user_id", FInt64)),
      features = Seq(Feature("v", FFloat64)),
      eventTimestamp = Some(EventTimestamp("ts")),
      materializedSource = Some(graft.sources.ParquetSource(mat)))
    val store = new graft.store.ContractStore().addView(v)
    store.view("incr").materializeIncremental(spark) // no table yet → full build
    assert(spark.read.parquet(mat).count() == 2)
    // late + new rows land in the raw source; only rows past 11:00 may append
    Seq(row("2024-01-01 10:30:00", 9.0), row("2024-01-01 12:00:00", 3.0))
      .toDF("user_id", "ts", "v").write.mode("append").parquet(raw)
    store.view("incr").materializeIncremental(spark)
    val after = spark.read.parquet(mat).select("ts", "v").collect()
      .map(r => (r.getTimestamp(0).toString, r.getDouble(1))).sorted.toSeq
    assert(after == Seq(
      ("2024-01-01 10:00:00.0", 1.0), ("2024-01-01 11:00:00.0", 2.0),
      ("2024-01-01 12:00:00.0", 3.0)))
    // idempotent when nothing is newer
    store.view("incr").materializeIncremental(spark)
    assert(spark.read.parquet(mat).count() == 3)
  }

  test("between on an aggregated view filters the raw rows BEFORE aggregating") {
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:20:00"), 2.0),
      // 11:00 keeps the in-range max(ts) at the [10:00,11:00) window end so
      // that window survives the clip (its own [11:00,12:00) window is a
      // clipped trailing partial)
      (1L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 5.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 100.0)) // out of range
    val v = FeatureView("bw",
      graft.sources.CustomSource(_ => rows.toDF("user_id", "ts", "v")),
      entities = Seq(Feature("user_id", FInt64)),
      features = Seq(Feature("v", FFloat64)),
      aggregates = Seq(AggregatedFeature("sum_1h", FFloat64, AggFunc.Sum, "v",
        Some(AggregationWindow(java.time.Duration.ofHours(1),
          everyInterval = Some(java.time.Duration.ofHours(1)))))),
      eventTimestamp = Some(EventTimestamp("ts")))
    val out = new graft.store.ContractStore().addView(v).view("bw")
      .between(spark, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))
      .select("user_id", "sum_1h").collect()
    assert(out.map(r => (r.getLong(0), r.getDouble(1))).toSeq == Seq((1L, 3.0)))
  }
}

class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def localComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connectedComponents matches union-find on random graphs") {
    val rnd = new scala.util.Random(5)
    for (trial <- 0 until 3) {
      val n = 60
      val edges = (0 until 80).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b } :+ ((100L + trial, 200L + trial)) // far pair
      val got = graft.ops.Dedup.connectedComponents(
          edges.toDF("id_a", "id_b"), maxIter = 20)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == localComponents(edges), s"trial $trial")
    }
  }

  test("connectedComponents closes chains longer than one hop") {
    // path graph 1-2-3-4-5-6: every node must land in component 1
    val edges = (1L to 5L).map(i => (i, i + 1))
    val got = graft.ops.Dedup.connectedComponents(edges.toDF("id_a", "id_b"), maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 6L).map(_ -> 1L).toMap)
  }

  test("connectedComponents throws on non-convergence instead of splitting a component") {
    // 15-node path needs more than 2 rounds; partial labels would hand back
    // SEVERAL component ids for ONE cluster — the silent-leakage shape the
    // advisor flagged (ADVICE r8 #1). The bound must fail loudly...
    val edges = (1L to 14L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      graft.ops.Dedup.connectedComponents(edges, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
    // ...and the default bound must close a chain this deep (it converges,
    // every node labels 1)
    val got = graft.ops.Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 15L).map(_ -> 1L).toMap)
  }

  test("leakageSafeSplit routes a deep near-dup chain to ONE split (no leakage)") {
    // a 12-hop templated-document chain: under the old maxIter=6 default
    // this got multiple component labels and could straddle train/test
    val docs = (1L to 13L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = (1L to 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = graft.ml.MLOps.leakageSafeSplit(docs, pairs, "doc_id")
      .select("doc_id", "component", "split").collect()
    assert(out.map(_.getLong(1)).distinct.toSeq == Seq(1L),
      "every chain member must share one component")
    assert(out.map(_.getString(2)).distinct.length == 1,
      "one component must mean one split — anything else is leakage")
    // and the cc bound is caller-tunable: an under-provisioned bound fails
    // loudly rather than silently leaking
    intercept[IllegalStateException] {
      graft.ml.MLOps.leakageSafeSplit(docs, pairs, "doc_id", ccMaxIter = 2)
        .collect()
    }
  }

  test("simhashNearDup banding equals the all-pairs Hamming filter (exact recall)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("source", "doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "hamming").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val h = 6
    val banded = canon(graft.ops.Dedup.simhashNearDup(
      docs, "text", "doc_id", maxHamming = h, blockBy = Seq("source")))
    val sigs = graft.ops.Dedup.withSimhash(docs, "text", "sig").drop("text")
    val a = sigs.select(col("source"), col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("source"), col("doc_id").as("id_b"), col("sig").as("sig_b"))
    val pairwise = canon(a.join(b, Seq("source")).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", graft.ops.Dedup.hamming(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= h))
    assert(banded == pairwise && banded.nonEmpty)
  }

  test("precomputed-components hooks are result-identical to in-op CC") {
    // the CurationRecipe shares ONE connectedComponents run between
    // keep-best canonicalization and the split router — the hook must be
    // pure plumbing, never a semantic fork
    val docs = ((1L to 9L).map(i => (i, "x" * i.toInt)) :+ ((10L, "y")))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L)).toDF("id_a", "id_b")
    val comps = graft.ops.Dedup.connectedComponents(pairs).localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(graft.ops.Dedup.canonicalizeBy(docs, pairs, "doc_id",
        length(col("text")).cast("long"), components = Some(comps))) ==
      rows(graft.ops.Dedup.canonicalizeBy(docs, pairs, "doc_id",
        length(col("text")).cast("long"))))
    assert(rows(graft.ml.MLOps.leakageSafeSplit(docs, pairs, "doc_id",
        components = Some(comps))) ==
      rows(graft.ml.MLOps.leakageSafeSplit(docs, pairs, "doc_id")))
  }

  test("canonicalize keeps one doc per cluster and passes singletons through") {
    val docs = Seq((1L, "a"), (2L, "a'"), (3L, "b"), (4L, "c"), (5L, "a''"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 5L)).toDF("id_a", "id_b")
    val kept = graft.ops.Dedup.canonicalize(docs, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L))
  }
}

/** Structural plan gates — the BENCH_NOTES invariants, enforced: candidate
  * generation everywhere is bucket-join shaped, so NO query may plan a
  * cartesian product or nested-loop join; filters/projections must reach the
  * parquet scans. Plans only (no execution) at sf0.001. */
class PlanInvariantsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // exact brute-force kNN and hard-negative mining broadcast the bounded
  // query side and stream the corpus — a BroadcastNestedLoopJoin IS their
  // intended physical shape; q194 embeds the same brute-force scorer (one
  // broadcast query row against the corpus) as its vector-ranker input
  private val allowedNonEqui =
    Set("q30_knn_bruteforce", "q112_hard_negatives", "q194_rrf_hybrid")

  test("no query plans a cartesian product or nested-loop join") {
    val offenders = SparkEntry.specs.filterNot(q => allowedNonEqui(q.name)).flatMap { q =>
      val plan = q.fn(spark, dir).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"))
        Some(q.name)
      else None
    }
    assert(offenders.isEmpty, s"cross-join-shaped plans: $offenders")
  }

  test("small sides broadcast: decontamination benchmark and quantile cuts") {
    // q62: the benchmark gram set must be the BUILD side of a broadcast hash
    // join (the corpus side never shuffles); q65: the 3-row cut table joins
    // broadcast over the fact scan
    for (name <- Seq("q62_decontaminate", "q184_decontam_matrix", "q65_quantile_bins")) {
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$name: expected a broadcast join\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$name: small side fell into a sort-merge join")
    }
  }

  test("round-3 small sides broadcast: LM counts, mixture rates, MG candidates, winsorize cuts") {
    // q83: the bigram count table broadcasts (the scored corpus never
    // shuffles for the lookup); q87: the per-source rate table broadcasts
    // over the scan; q92: Misra-Gries candidates broadcast for the exact
    // verify; q96: the percentile cut table broadcasts like q65's
    for (name <- Seq("q83_lm_coverage", "q87_mixture_sample",
        "q92_heavy_hitters", "q96_winsorize")) {
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$name: expected a broadcast join\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$name: small side fell into a sort-merge join")
    }
  }

  test("round-4 small sides broadcast: bloom verify set, slice sizes, class weights") {
    // q105: the exact-verify gram set (rebuilt from the collected hashes)
    // broadcasts — the bloom-pruned corpus grams never shuffle; q108: the
    // per-slice size table broadcasts onto the O(slices²) pair frame
    for (name <- Seq("q105_bloom_decontaminate", "q108_source_similarity")) {
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$name: expected a broadcast join\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$name: small side fell into a sort-merge join")
    }
  }

  test("round-8 scale shapes: threshold DSIR and hashKey dup-frac plan no window at all") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the threshold form's whole point: selection without ANY window
    // operator (the sort form's global row_number is the 10^9-doc killer)
    val thr = graft.ml.MLOps.dsirSelectByThreshold(docs, "text", "doc_id",
      targetPred = col("lang") === "en", buckets = 256, keepPct = 25)
    assert(!thr.queryExecution.executedPlan.toString.contains("Window"),
      "threshold DSIR planned a window operator")
    // sanity contrast: the exact-k rank form DOES plan one (global window)
    val rank = graft.ml.MLOps.dsirSelect(docs, "text", "doc_id",
      targetPred = col("lang") === "en", buckets = 256, keepPct = 25)
    assert(rank.queryExecution.executedPlan.toString.contains("Window"))
    // hashKey dup-fraction: agg + join-back only — the demo form's
    // single-shuffle gram window must be absent
    val frac = graft.ops.Dedup.crossDocDupFraction(docs, "text", "doc_id",
      k = 3, minDocs = 2, hashKey = true)
    assert(!frac.queryExecution.executedPlan.toString.contains("Window"),
      "hashKey crossDocDupFraction planned a window operator")
  }

  test("filter and projection reach the parquet scan") {
    val plan = SparkEntry.queries("q8b_customers_with_urgent_orders")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull"), "expected filter pushdown")
    val q2plan = SparkEntry.queries("q2_derived_features")(spark, dir)
      .queryExecution.executedPlan.toString
    // column pruning: the lineitem scans must output a strict column subset
    // (16 columns in the table); ReadSchema is truncated in toString, so
    // count the scan's bracketed output list instead
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r
      .findAllMatchIn(q2plan).map(_.group(1)).toSeq
    assert(scanCols.nonEmpty && scanCols.forall(_.split(",").length <= 8),
      s"unpruned scan: $scanCols")
  }
}

class ExactPercentileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("histogram exactPercentiles equals percentile() on random grouped data") {
    val rnd = new scala.util.Random(11)
    // duplicates + odd/even group sizes + a singleton group
    val rows = (0 until 500).map(i => (s"g${i % 3}", rnd.nextInt(40).toDouble)) :+ (("solo", 7.0))
    val df = rows.toDF("k", "v")
    val ps = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val names = ps.map(p => s"p${(p * 100).toInt}")
    val got = graft.ops.Aggregations.exactPercentiles(df, Seq("k"), "v", ps, names)
      .collect().map(r => r.getString(0) -> names.indices.map(i => r.getDouble(i + 1))).toMap
    val exp = df.groupBy("k")
      .agg(expr(s"percentile(v, array(${ps.mkString(",")}))").as("p"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    assert(got.keySet == exp.keySet)
    for (k <- got.keySet; i <- ps.indices)
      assert(got(k)(i) == exp(k)(i), s"key=$k p=${ps(i)}: ${got(k)(i)} != ${exp(k)(i)}")
  }

  test("exactPercentiles ignores nulls like percentile()") {
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0))).toDF("k", "v")
    val out = graft.ops.Aggregations.exactPercentiles(df, Seq("k"), "v", Seq(0.5), Seq("med"))
    assert(out.head().getDouble(1) == 2.0)
  }
}

class PredictWhenMissingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("predictWhenMissing only scores uncached entities") {
    val path = java.nio.file.Files.createTempDirectory("graft_pwm").toString + "/p"
    var modelCalls = 0
    val inputView = FeatureView("pwm_in",
      graft.sources.CustomSource(s => { import s.implicits._
        Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "x") }),
      entities = Seq(Feature("id", FInt64)), features = Seq(Feature("x", FFloat64)))
    val predView = FeatureView("pwm_out", graft.sources.ParquetSource(path),
      entities = Seq(Feature("id", FInt64)))
    val m = ModelContract("pwm", Seq("pwm_in:x"), predictionView = Some(predView),
      model = Some(graft.ml.FunctionModel("pwm", "1", { df =>
        modelCalls += 1
        df.withColumn("pred", col("x") * 100)
      })))
    val store = new graft.store.ContractStore().addView(inputView).addModel(m)
    val first = store.model("pwm").predictWhenMissing(spark, Seq((1L), (2L)).toDF("id"))
    assert(first.count() == 2 && modelCalls == 1)
    // second call: 1,2 cached; only 3 is new
    val second = store.model("pwm").predictWhenMissing(spark, Seq((1L), (3L)).toDF("id"))
    assert(second.count() == 2 && modelCalls == 2)
    // fully cached call does not invoke the model
    val third = store.model("pwm").predictWhenMissing(spark, Seq((2L), (3L)).toDF("id"))
    assert(third.count() == 2 && modelCalls == 2)
  }
}

class KMeansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("kmeans separates planted clusters and lifts IVF recall") {
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Float]) = base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.1f).toSeq
    val a = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val b = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val c = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val vecs = (0 until 60).map { i =>
      (i.toLong, jitter(Seq(a, b, c)(i % 3)))
    }.toDF("vec_id", "embedding")
    val cents = graft.ops.Similarity.kmeansCentroids(vecs, "embedding", "vec_id", 3, iters = 3)
      .collect().map(_.getSeq[Double](1))
    assert(cents.length == 3)
    // each centroid should be dominated by exactly one axis among the first 3
    val domAxes = cents.map(v => v.zipWithIndex.maxBy(_._1)._2).toSet
    assert(domAxes == Set(0, 1, 2), s"centroids not separated: ${cents.map(_.mkString(",")).mkString(" | ")}")
    // IVF with kmeans recovers the exact nearest neighbor for most queries
    val exact = graft.ops.Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" < 9), 1)
      .select("query_id", "neighbor_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = graft.ops.Similarity.ivfTopK(vecs, vecs.filter($"vec_id" < 9), 1,
      nlist = 3, nprobe = 1, kmeansIters = 3)
      .select("query_id", "neighbor_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recall = exact.count { case (q, n) => approx.get(q).contains(n) }.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall too low: $recall")
  }

  test("product quantization: codes compress, reconstructions stay close") {
    val rnd = new scala.util.Random(21)
    def jitter(base: Array[Float]) = base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.15f).toSeq
    // 4 planted clusters in 8 dims; off-cluster dims get a 0.3 floor so
    // every 2-dim subspace has signal (an all-noise subvector has no
    // meaningful cosine reconstruction)
    val bases = (0 until 4).map { c =>
      Array.tabulate(8)(i => if (i / 2 == c) 1.0f else 0.3f)
    }
    val vecs = (0 until 80).map(i => (i.toLong, jitter(bases(i % 4))))
      .toDF("vec_id", "embedding")
    val cb = graft.ops.Similarity.pqTrain(vecs, "embedding", "vec_id",
      dim = 8, m = 4, k = 4, iters = 2)
    assert(cb.length == 4 && cb.forall(_.nonEmpty))
    val codes = graft.ops.Similarity.pqEncode(vecs, "embedding", "vec_id", cb, dim = 8)
    // m ints stand in for dim floats
    assert(codes.head().getSeq[Int](1).length == 4)
    val decoded = graft.ops.Similarity.pqDecode(codes, cb)
    val recon = decoded.join(vecs, "vec_id")
      .select(graft.ops.Similarity.cosine(col("embedding"), col("pq_vec")))
      .collect().map(_.getDouble(0))
    val meanCos = recon.sum / recon.length
    assert(meanCos >= 0.85, s"reconstruction too lossy: mean cosine $meanCos")
    // approximate search on reconstructions finds the exact NN mostly
    val queries = vecs.filter($"vec_id" < 8)
    val exactNN = graft.ops.Similarity.bruteForceTopK(vecs, queries, 1)
      .select("query_id", "neighbor_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approxCorpus = decoded.select(col("vec_id"), col("pq_vec").as("embedding"))
    val pqNN = graft.ops.Similarity.bruteForceTopK(approxCorpus, queries, 2)
      .filter(col("neighbor_id") =!= col("query_id"))
      .collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.minBy(_.getAs[Int]("rank")).getAs[Long]("neighbor_id") }
    // PQ codes collapse within-cluster detail, so require cluster-level
    // agreement: the PQ neighbor must share the exact neighbor's cluster
    val clusterOf = (id: Long) => id % 4
    val ok = exactNN.count { case (q, n) => pqNN.get(q).exists(p => clusterOf(p) == clusterOf(n)) }
    assert(ok.toDouble / exactNN.size >= 0.75, s"PQ cluster recall too low: $ok/${exactNN.size}")
  }
}

/** A session created WITHOUT nanosAsLong in its builder must still be able to
  * run events-based queries — SparkEntry.events sets the conf at runtime. */
class ForeignSessionSpec extends AnyFunSuite {
  test("events queries work on a session where the ns conf starts disabled") {
    val fresh = TestSpark.spark.newSession()
    // simulate a driver session built without the conf: force it off, then
    // verify the query's runtime conf.set is sufficient
    fresh.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val out = SparkEntry.queries("q15_freshness")(fresh, "/root/testdata/sf0.001")
    assert(out.count() == 1)
    assert(fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}

/** Approximate aggregates: HLL sketches are the 100 TB path for cardinality
  * (exact count_distinct shuffles every distinct value); verify the error
  * envelope against exact. */
class ApproxSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("approx_count_distinct within rsd envelope of exact") {
    val df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val exact = df.select(countDistinct(col("l_orderkey"))).head().getLong(0)
    val approx = AggFunc.ApproxCountDistinct(0.02)
    val est = df.select(approx(col("l_orderkey"))).head().getLong(0)
    assert(math.abs(est - exact).toDouble / exact < 0.06,
      s"approx=$est exact=$exact")
  }

  test("percentile_approx close to exact percentile") {
    val df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val exact = df.selectExpr("percentile(l_extendedprice, 0.5)").head().getDouble(0)
    val est = df.select(AggFunc.Median(col("l_extendedprice"))).head().getDouble(0)
    assert(math.abs(est - exact) / exact < 0.01, s"approx=$est exact=$exact")
  }
}

class DatasetStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("splits persist once and reload identically") {
    val root = java.nio.file.Files.createTempDirectory("graft_ds").toString
    val store = new graft.ml.DatasetStore(root)
    var computes = 0
    def make = {
      computes += 1
      val df = (1 to 100).map(i => (i.toLong, i % 2)).toDF("id", "y")
      val (tr, te) = graft.ml.MLOps.trainTest(df, 0.8)
      Map("train" -> tr, "test" -> te)
    }
    val tr1 = store.saveOrLoad(spark, "d1", "train")(make)
    val tr2 = store.saveOrLoad(spark, "d1", "train")(make)
    assert(computes == 1)
    assert(tr1.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      tr2.select("id").collect().map(_.getLong(0)).sorted.toSeq)
    assert(store.load(spark, "d1", "train").count() + store.load(spark, "d1", "test").count() == 100)
  }

  test("a manifest meta value with control characters stays valid JSON") {
    val root = java.nio.file.Files.createTempDirectory("graft_ds_meta").toString
    val meta = Map("note" -> "line one\nline two\t\"quoted\" \\ end")
    new graft.ml.DatasetStore(root).save("d1", Map("all" -> Seq((1L, 0)).toDF("id", "y")), meta)
    val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$root/d1/manifest.json"))
    assert(manifest.get("note").asText == meta("note"))
    assert(manifest.get("splits").get("all").asLong == 1L)
  }

  test("query listener observes completed actions") {
    val fresh = TestSpark.spark.newSession()
    @volatile var seen = 0
    graft.ml.Listeners.onQueryDone(fresh)((_, _) => seen += 1)
    import fresh.implicits._
    Seq((1)).toDF("x").collect()
    // listener delivery is async; poll briefly
    val deadline = System.currentTimeMillis() + 10000
    while (seen < 1 && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(seen >= 1)
  }
}

/** Serializable expression IR: every non-Raw node round-trips through JSON
  * and lowers to the same Column after the trip. */
class ExprJsonSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.expr._

  private val cases: Seq[Expr] = Seq(
    Ref("x"),
    Lit(42L),
    Lit("hi \"quoted\"\nline"),
    Binary("add", Ref("x"), Lit(2.5)),
    Unary("sqrt", Ref("x")),
    DateComponent("year", Ref("ts")),
    TimeDifference(Ref("a"), Ref("b")),
    ToNumerical(Ref("s")),
    Contains(Ref("s"), "needle"),
    Ordinal(Ref("s"), Seq("a", "b", "c")),
    ReplaceStrings(Ref("s"), Seq(("x", "y"), ("[0-9]+", ""))),
    IsIn(Ref("s"), Seq("p", "q")),
    FillNa(Ref("x"), 0.0, alsoNan = true),
    FillNaColumn(Ref("x"), Ref("y")),
    MapArgMax(Seq("p_a" -> "a", "p_b" -> "b")),
    AppendStrings(Seq(Ref("a"), Lit("-"), Ref("b")), "/"),
    StructFieldAccess(Ref("s"), "f", isJson = true),
    JsonPath(Ref("j"), "$.k"),
    IsBetween(Ref("x"), Lit(0.0), Lit(1.0)),
    Cast(Ref("x"), FInt32),
    LogBase(Ref("x"), 2.0),
    SplitString(Ref("s"), "."),
    FormatString("{}-{}", Seq(Ref("a"), Ref("b"))),
    ListDotProduct(Ref("v1"), Ref("v2")),
    HashColumns(Seq(Ref("a"), Ref("b"))),
    ArrayAtIndex(Ref("arr"), 3),
    ArrayContainsAny(Ref("arr"), Seq(1, 2)),
    Clip(Ref("x"), -1.0, 1.0),
    MultiExpr(Seq("tmp" -> Binary("mul", Ref("x"), Lit(2.0))), Ref("tmp")),
    // Double.toString writes NaN / Infinity / -Infinity for these
    Lit(Double.PositiveInfinity),
    Clip(Ref("x"), Double.NegativeInfinity, Double.PositiveInfinity),
    FillNa(Ref("x"), Double.PositiveInfinity),
    Lit("tab\tcr\rctl\u0001 astral \ud83d\ude00"),
    Contains(Ref("s"), "\t\r\u0001\ud83d\ude00"))

  test("round-trip preserves structure") {
    cases.foreach { e =>
      val back = ExprJson.fromJson(ExprJson.toJson(e))
      assert(back == e, s"round-trip mismatch for ${e.getClass.getSimpleName}:\n$e\n$back")
    }
    // NaN != NaN, so the NaN literal is checked by value
    ExprJson.fromJson(ExprJson.toJson(Lit(Double.NaN))) match {
      case Lit(d: Double) => assert(d.isNaN)
      case other => fail(s"NaN literal came back as $other")
    }
  }

  test("round-tripped expression evaluates identically") {
    val df = Seq((3.0, 4.0, "hello")).toDF("x", "y", "s")
    val exprs = Seq(
      Binary("add", Ref("x"), Ref("y")),
      Clip(Binary("mul", Ref("x"), Ref("y")), 0.0, 10.0),
      Unary("str_to_upper", Ref("s")))
    exprs.foreach { e =>
      val orig = df.select(e.toColumn).head().get(0)
      val back = df.select(ExprJson.fromJson(ExprJson.toJson(e)).toColumn).head().get(0)
      assert(orig == back)
    }
  }

  test("Raw refuses serialization") {
    assertThrows[IllegalArgumentException](ExprJson.toJson(Raw(lit(1))))
  }
}

/** between-dates read + combined view with cross-view derived features. */
class CombinedViewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("ViewStore.between filters [start, end)") {
    val v = FeatureView("b",
      graft.sources.CustomSource(s => { import s.implicits._
        Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
            (2L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
            (3L, java.sql.Timestamp.valueOf("2024-01-03 00:00:00"))).toDF("id", "ts") }),
      entities = Seq(Feature("id", FInt64)),
      eventTimestamp = Some(EventTimestamp("ts")))
    val out = new graft.store.ContractStore().addView(v).view("b").between(spark,
      java.sql.Timestamp.valueOf("2024-01-01 12:00:00"),
      java.sql.Timestamp.valueOf("2024-01-03 00:00:00"))
    assert(out.select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("combinedFeaturesFor computes cross-view derived features") {
    def src(rows: Seq[(Long, Double)]) = graft.sources.CustomSource(s => {
      import s.implicits._; rows.toDF("id", "v")
    })
    val va = FeatureView("ca", src(Seq((1L, 2.0))), entities = Seq(Feature("id", FInt64)),
      features = Seq(Feature("v", FFloat64)), mappingKeys = Map("v" -> "a_val"))
    val vb = FeatureView("cb", src(Seq((1L, 5.0))), entities = Seq(Feature("id", FInt64)),
      features = Seq(Feature("v", FFloat64)), mappingKeys = Map("v" -> "b_val"))
    val store = new graft.store.ContractStore().addView(va).addView(vb)
    val out = store.combinedFeaturesFor(spark, Seq((1L)).toDF("id"),
      Seq("ca:a_val", "cb:b_val"),
      Seq(DerivedFeature("product", FFloat64,
        graft.expr.Binary("mul", graft.expr.Ref("a_val"), graft.expr.Ref("b_val")),
        Seq("a_val", "b_val"))))
    assert(out.select("product").head().getDouble(0) == 10.0)
  }
}

/** Contract (FeatureView) JSON round-trip — the registry format. */
class ContractJsonSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val view = FeatureView(
    name = "orders_contract",
    source = graft.sources.ParquetSource("/root/testdata/sf0.001/orders.parquet"),
    entities = Seq(Feature("o_orderkey", FInt64)),
    features = Seq(
      Feature("o_custkey", FInt64),
      Feature("o_totalprice", FFloat64,
        description = Some("gross price"),
        constraints = Seq(Constraint.LowerBound(0.0), Constraint.Required)),
      Feature("o_orderstatus", FString,
        constraints = Seq(Constraint.InDomain(Seq("O", "F", "P"))))),
    derived = Seq(DerivedFeature("price_k", FFloat64,
      graft.expr.Binary("div", graft.expr.Ref("o_totalprice"), graft.expr.Lit(1000.0)),
      Seq("o_totalprice"))),
    aggregates = Seq(AggregatedFeature("total_spent", FFloat64, AggFunc.Sum, "o_totalprice",
      Some(AggregationWindow(java.time.Duration.ofDays(7),
        Some(java.time.Duration.ofDays(1)))))),
    eventTimestamp = Some(EventTimestamp("o_orderdate", Some(java.time.Duration.ofDays(30)))),
    mappingKeys = Map("ok" -> "o_orderkey"),
    description = Some("orders \"contract\""))

  test("FeatureView round-trips through JSON") {
    val back = ContractJson.fromJson(ContractJson.toJson(view))
    assert(back == view)
    // an unbounded constraint writes -Infinity, which must read back
    val unbounded = view.copy(features = Seq(Feature("o_totalprice", FFloat64,
      constraints = Seq(Constraint.LowerBound(Double.NegativeInfinity)))))
    assert(ContractJson.fromJson(ContractJson.toJson(unbounded)) == unbounded)
  }

  test("a reloaded contract executes like the original") {
    val back = ContractJson.fromJson(ContractJson.toJson(view.copy(
      aggregates = Nil, eventTimestamp = None, mappingKeys = Map.empty)))
    val store = new graft.store.ContractStore().addView(back)
    val out = store.view("orders_contract").all(spark)
    assert(out.columns.contains("price_k"))
    assert(out.count() > 0)
  }

  test("format and typed cloud sources round-trip through the registry") {
    val sources = Seq(
      graft.sources.DeltaSource("/data/t"),
      graft.sources.IcebergSource("cat.db.t"),
      graft.sources.OrcSource("/data/o"),
      graft.sources.JsonLinesSource("/data/j"),
      graft.sources.S3ParquetSource(
        graft.sources.AwsS3Config("bkt", Some("eu-west-1"),
          Some("AK_ENV"), Some("SK_ENV")), "a/b.parquet"),
      graft.sources.AzureBlobParquetSource(
        graft.sources.AzureBlobConfig("acct", "data", Some("AZ_ENV")), "raw/d.parquet"),
      graft.sources.UCTableSource("main", "ml", "feat"),
      graft.sources.BucketedParquetSource("/data/b", Seq("id", "k"), 32),
      graft.sources.LogUpsertSource("/data/l", Seq("id")),
      graft.sources.LogUpsertSource("/data/l2", Seq("id"), autoCompactEvery = 7),
      graft.sources.LogUpsertSource("/data/l3", Seq("id"), boundFiles = false),
      graft.sources.BucketedLogUpsertSource("/data/bl", Seq("id"), 16, 9))
    sources.foreach { src =>
      val v = view.copy(source = src, derived = Nil, aggregates = Nil)
      val back = ContractJson.fromJson(ContractJson.toJson(v))
      assert(back.source == src, s"round-trip mismatch for $src")
      // env-var NAMES serialize, secret VALUES never appear
      assert(!ContractJson.toJson(v).contains(sys.env.getOrElse("PATH", " ")))
    }
    // jsonl WITH an explicit schema is code → opaque, needs rebind
    val schemaful = view.copy(source = graft.sources.JsonLinesSource("/data/j",
      Some(org.apache.spark.sql.types.StructType(Seq()))), derived = Nil, aggregates = Nil)
    assert(ContractJson.toJson(schemaful).contains("\"opaque\""))
  }

  test("opaque sources need a rebind; custom agg refuses serialization") {
    val opaque = view.copy(source = graft.sources.CustomSource(_.emptyDataFrame))
    val json = ContractJson.toJson(opaque)
    assertThrows[IllegalArgumentException](ContractJson.fromJson(json))
    val rebound = ContractJson.fromJson(json,
      rebindSources = Map("orders_contract" -> graft.sources.ParquetSource("/tmp/x")))
    assert(rebound.source == graft.sources.ParquetSource("/tmp/x"))
    assertThrows[IllegalArgumentException](ContractJson.toJson(view.copy(
      aggregates = Seq(AggregatedFeature("c", FFloat64, AggFunc.Custom(identity), "x")))))
  }

  test("date and timestamp defaults round-trip through JSON and the registry " +
      "file, and fill the same value") {
    val dir = java.nio.file.Files.createTempDirectory("graft_defaults").toString
    graft.sources.ParquetSource(s"$dir/t").overwrite(Seq(1L, 2L).toDF("id"))
    val v = FeatureView("dated", graft.sources.ParquetSource(s"$dir/t"),
      entities = Seq(Feature("id", FInt64)),
      features = Seq(
        Feature("since", FDate, defaultValue = Some(java.sql.Date.valueOf("2024-01-01"))),
        Feature("seen", FDatetime(None),
          defaultValue = Some(java.sql.Timestamp.valueOf("2024-02-03 04:05:06.789"))),
        Feature("tag", FString, defaultValue = Some("a \"b\"")),
        Feature("n", FInt64, defaultValue = Some(7L))))
    val back = ContractJson.fromJson(ContractJson.toJson(v))
    assert(back == v)
    val reg = s"$dir/contracts.json"
    new graft.store.ContractStore().addView(v).saveTo(spark, reg)
    val loaded = new graft.store.ContractStore().loadFrom(spark, reg)
    def filled(s: graft.store.ContractStore) =
      s.view("dated").baseWithDerived(spark).orderBy("id").collect().toSeq
    val want = filled(new graft.store.ContractStore().addView(v))
    assert(want.head.getDate(1) == java.sql.Date.valueOf("2024-01-01"))
    assert(filled(new graft.store.ContractStore().addView(back)) == want)
    assert(filled(loaded) == want)
  }

  test("a default with no JSON form (bytes, a list, a duration) is refused by toJson") {
    for ((dtype, default) <- Seq[(graft.core.FeatureType, Any)](
        FBinary -> Array[Byte](1, 2), FArray(FInt64) -> List(1L, 2L),
        FTimedelta -> java.time.Duration.ofHours(1))) {
      val e = intercept[IllegalArgumentException](ContractJson.toJson(view.copy(
        features = Seq(Feature("f", dtype, defaultValue = Some(default))),
        derived = Nil, aggregates = Nil)))
      assert(e.getMessage.contains("'f'"))
    }
  }
}

class RegistrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("store registry round-trips through a JSON file") {
    val path = java.nio.file.Files.createTempDirectory("graft_reg").toString + "/contracts.json"
    val v1 = FeatureView("reg_orders",
      graft.sources.ParquetSource("/root/testdata/sf0.001/orders.parquet"),
      entities = Seq(Feature("o_orderkey", FInt64)),
      features = Seq(Feature("o_totalprice", FFloat64)),
      derived = Seq(DerivedFeature("p2", FFloat64,
        graft.expr.Binary("mul", graft.expr.Ref("o_totalprice"), graft.expr.Lit(2.0)),
        Seq("o_totalprice"))))
    val v2 = FeatureView("reg_nation",
      graft.sources.ParquetSource("/root/testdata/sf0.001/nation.parquet"),
      entities = Seq(Feature("n_nationkey", FInt32)),
      features = Seq(Feature("n_name", FString)))
    new graft.store.ContractStore().addView(v1).addView(v2).saveTo(spark, path)
    val loaded = new graft.store.ContractStore().loadFrom(spark, path)
    assert(loaded.views.keySet == Set("reg_orders", "reg_nation"))
    assert(loaded.views("reg_orders") == v1)
    val out = loaded.view("reg_orders").all(spark)
    assert(out.columns.contains("p2") && out.count() > 0)
  }

  test("model contracts round-trip through the registry; legacy arrays load") {
    val dir = java.nio.file.Files.createTempDirectory("graft_reg3").toString
    val path = dir + "/contracts.json"
    val v = FeatureView("reg_v",
      graft.sources.ParquetSource("/root/testdata/sf0.001/orders.parquet"),
      entities = Seq(Feature("o_orderkey", FInt64)),
      features = Seq(Feature("o_totalprice", FFloat64)))
    val model = graft.ml.ExpressionModel("price2", "v1", "p2",
      org.apache.spark.sql.functions.col("o_totalprice") * 2)
    val mc = ModelContract("m_price", Seq("reg_v:o_totalprice"),
      predictionView = Some(v.copy(name = "m_price_preds")), model = Some(model),
      description = Some("doubles the price"))
    new graft.store.ContractStore().addView(v).addModel(mc).saveTo(spark, path)
    val loaded = new graft.store.ContractStore()
      .loadFrom(spark, path, rebindModels = Map("m_price" -> model))
    assert(loaded.models.keySet == Set("m_price"))
    assert(loaded.models("m_price") == mc) // code rebound by name
    // legacy format (bare view array) still loads
    val legacy = dir + "/legacy.json"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(legacy), true)
    try out.write(s"[${graft.contract.ContractJson.toJson(v)}]".getBytes("UTF-8"))
    finally out.close()
    assert(new graft.store.ContractStore().loadFrom(spark, legacy).views.keySet == Set("reg_v"))
  }

  test("freshness SLOs round-trip through the registry JSON") {
    val path = java.nio.file.Files.createTempDirectory("graft_reg2").toString + "/contracts.json"
    val v = FeatureView("reg_slo",
      graft.sources.ParquetSource("/root/testdata/sf0.001/orders.parquet"),
      entities = Seq(Feature("o_orderkey", FInt64)),
      eventTimestamp = Some(EventTimestamp("o_orderdate")),
      acceptableFreshness = Some(java.time.Duration.ofHours(6)),
      unacceptableFreshness = Some(java.time.Duration.ofDays(2)))
    new graft.store.ContractStore().addView(v).saveTo(spark, path)
    val loaded = new graft.store.ContractStore().loadFrom(spark, path)
    assert(loaded.views("reg_slo") == v)
  }
}

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def store(tmp: String) = {
    val s = new graft.store.ContractStore()
    val base = FeatureView("g_base",
      graft.sources.CustomSource(sp => { import sp.implicits._
        Seq((1L, 10.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).toDF("id", "v", "ts") }),
      entities = Seq(Feature("id", FInt64)),
      features = Seq(Feature("v", FFloat64)),
      eventTimestamp = Some(EventTimestamp("ts")),
      materializedSource = Some(graft.sources.ParquetSource(s"$tmp/base")))
    val mid = FeatureView("g_mid",
      graft.sources.TransformSource(
        graft.sources.ViewReferenceSource(() => s, "g_base"),
        df => df.withColumn("v2", col("v") * 2)),
      entities = Seq(Feature("id", FInt64)),
      features = Seq(Feature("v2", FFloat64)),
      materializedSource = Some(graft.sources.ParquetSource(s"$tmp/mid")))
    val top = FeatureView("g_top",
      graft.sources.FilteredSource(
        graft.sources.ViewReferenceSource(() => s, "g_mid"), col("v2") > 0),
      entities = Seq(Feature("id", FInt64)),
      features = Seq(Feature("v2", FFloat64)))
    s.addView(top).addView(mid).addView(base)
  }

  test("dependency walk sees through composite sources; topo order is stable") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_graph").toString
    val s = store(tmp)
    assert(s.dependenciesOf("g_top") == Seq("g_mid"))
    assert(s.dependenciesOf("g_mid") == Seq("g_base"))
    assert(s.materializationOrder() == Seq("g_base", "g_mid", "g_top"))
  }

  test("materializeAll runs in dependency order; cycles throw") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_graph2").toString
    val s = store(tmp)
    // g_top has no materialized source → only base and mid, in order
    assert(s.materializeAll(spark) == Seq("g_base", "g_mid"))
    val mid = spark.read.parquet(s"$tmp/mid")
    assert(mid.select("v2").as[Double].collect().toSeq == Seq(20.0))
    val cyc = new graft.store.ContractStore()
    lazy val c: graft.store.ContractStore = cyc
    cyc.addView(FeatureView("c_a", graft.sources.ViewReferenceSource(() => c, "c_b"),
      entities = Seq(Feature("id", FInt64))))
    cyc.addView(FeatureView("c_b", graft.sources.ViewReferenceSource(() => c, "c_a"),
      entities = Seq(Feature("id", FInt64))))
    assertThrows[IllegalStateException](cyc.materializationOrder())
  }

  test("freshnessStatus classifies against the view SLOs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_graph3").toString
    def withSlo(acc: Option[java.time.Duration], unacc: Option[java.time.Duration]) = {
      val s = new graft.store.ContractStore()
      s.addView(FeatureView("f_v",
        graft.sources.CustomSource(sp => { import sp.implicits._
          Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).toDF("id", "ts") }),
        entities = Seq(Feature("id", FInt64)),
        eventTimestamp = Some(EventTimestamp("ts")),
        acceptableFreshness = acc, unacceptableFreshness = unacc))
      s
    }
    val acc = Some(java.time.Duration.ofHours(6))
    val unacc = Some(java.time.Duration.ofDays(2))
    val at = (s: String) => java.sql.Timestamp.valueOf(s)
    assert(withSlo(acc, unacc).freshnessStatus(spark, "f_v", at("2024-01-01 03:00:00")) == "fresh")
    assert(withSlo(acc, unacc).freshnessStatus(spark, "f_v", at("2024-01-01 12:00:00")) == "stale")
    assert(withSlo(acc, unacc).freshnessStatus(spark, "f_v", at("2024-01-04 00:00:00")) == "unhealthy")
    assert(withSlo(None, None).freshnessStatus(spark, "f_v", at("2024-01-04 00:00:00")) == "fresh")
    val st = withSlo(acc, unacc)
    assert(st.staleViews(spark, at("2024-01-01 12:00:00")) == Seq("f_v"))
    assert(st.staleViews(spark, at("2024-01-01 03:00:00")).isEmpty)
  }
}

/** Round-3 corpus/embedding ops: intra-corpus span overlap, LM coverage
  * scoring, packing stats, int8 quantization, IVF-PQ search. */
class Round3OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val tenWords = "a b c d e f g h i j"

  test("selfOverlap: exact copy shares every gram, disjoint doc shares none, short doc drops") {
    val docs = Seq(
      (0L, tenWords),                       // owner of its 3 distinct 8-grams
      (1L, tenWords),                       // exact copy -> all grams shared
      (2L, "q r s t u v w x y z"),          // disjoint -> 0 shared
      (3L, "too short")                     // < 8 words -> no grams -> absent
    ).toDF("doc_id", "text")
    val out = TextAnalysis.selfOverlap(docs, "text", "doc_id", k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(0L, 1L, 2L))
    assert(out(0L) == ((3L, 0L, 0.0)))
    assert(out(1L) == ((3L, 3L, 1.0)))
    assert(out(2L)._2 == 0L)
  }

  test("selfOverlap: partial containment is a fractional dup_frac") {
    val docs = Seq(
      (0L, tenWords),
      // last 8 words repeat doc 0's window c..j => shares exactly 1 of its 3 grams
      (1L, "x y c d e f g h i j")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.selfOverlap(docs, "text", "doc_id", k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((3L, 1L)))
  }

  test("lmCoverage: self-scoring covers fully; novel bigrams lower coverage exactly") {
    val train = Seq((0L, "the cat sat"), (2L, "the cat ran")).toDF("doc_id", "text")
    // "the cat" known (count 2), "cat flew" unknown -> coverage 1/2
    val score = Seq((1L, "the cat flew"), (3L, "zz")).toDF("doc_id", "text")
    val out = TextAnalysis.lmCoverage(train, score, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out.length == 1) // doc 3 has no bigrams
    val (id, nb, nk, cov, avg) = out.head
    assert(id == 1L && nb == 2L && nk == 1L && cov == 0.5 && avg == 1.0) // (2+0)/2
  }

  test("packStats agrees with packSequences chunk assignment") {
    val docs = (0L until 40L).map(i =>
      (i, Seq.fill((i % 7).toInt + 1)("w").mkString(" "), s"s${i % 3}"))
      .toDF("doc_id", "text", "source")
    val stats = TextAnalysis.packStats(docs, "text", budget = 5, shardBy = "source")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val packed = TextAnalysis.packSequences(docs, "text", "doc_id", budget = 5, shardBy = "source")
    val byShard = packed.groupBy("source")
      .agg(sum("n_tokens").as("tok"), max("chunk_id").as("maxc"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    for ((src, (nDocs, total, nChunks, fill)) <- stats) {
      val (tok, maxc, n) = byShard(src)
      assert(n == nDocs && tok == total)
      // capacity chunks = ceil(total/budget); the packer's chunk_id is the
      // START chunk, so its max is <= the last capacity chunk
      assert(nChunks == (total + 4) / 5, s"$src: nChunks=$nChunks total=$total")
      assert(maxc + 1 <= nChunks, s"$src: maxChunk=$maxc nChunks=$nChunks")
      assert(fill == total.toDouble / (nChunks * 5).toDouble)
      assert(fill > 0.0 && fill <= 1.0)
    }
  }

  test("int8Quantize: reconstruction within half a step, extremes hit ±127, zero vec all-zero") {
    val vecs = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Seq(-2.0f, 2.0f, 1.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.int8Quantize(vecs, "embedding", "vec_id")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    val (s1, c1) = out(1L)
    val codes1 = c1.split(",").map(_.toLong)
    assert(codes1.head == 127L && s1 == 1.0 / 127)
    val orig = Array(1.0, -0.5, 0.25, 0.0)
    codes1.zip(orig).foreach { case (c, x) =>
      assert(math.abs(c * s1 - x) <= s1 / 2 + 1e-12) }
    assert(out(2L) == ((0.0, "0,0,0,0")))
    val codes3 = out(3L)._2.split(",").map(_.toLong)
    // round-half-up toward +inf: 63.5 -> 64 but -63.5 -> -63
    assert(codes3.toSeq == Seq(-127L, 127L, 64L, -63L))
  }

  test("ivfpqTopK with re-rank recovers brute-force neighbours on planted clusters") {
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Float]) = base.map(v => v + (rnd.nextFloat() - 0.5f) * 0.1f).toSeq
    val bases = (0 until 4).map(c => Array.tabulate(8)(i => if (i / 2 == c) 1.0f else 0.3f))
    val vecs = (0 until 80).map(i => (i.toLong, jitter(bases(i % 4)))).toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 8)
    val exact = Similarity.bruteForceTopK(vecs, queries, 1)
      .select("query_id", "neighbor_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = Similarity.ivfpqTopK(vecs, queries, k = 1, dim = 8,
      nlist = 4, nprobe = 2, m = 4, kpq = 8, kmeansIters = 2, rerankDepth = 24)
      .select("query_id", "neighbor_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val recall = exact.count { case (q, n) => approx.get(q).contains(n) }.toDouble / exact.size
    assert(recall >= 0.75, s"IVF-PQ recall too low: $recall")
    // deterministic across invocations
    val again = Similarity.ivfpqTopK(vecs, queries, k = 1, dim = 8,
      nlist = 4, nprobe = 2, m = 4, kpq = 8, kmeansIters = 2, rerankDepth = 24)
      .select("query_id", "neighbor_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == approx)
  }
}

/** Round-3 sampling/chunking ops: mixture resampling, per-group caps,
  * chunk spans, group centroids. */
class Round3SamplingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("mixtureResample: over-represented source downsamples, capped rates pass through") {
    val docs = ((1L to 80L).map(i => (i, "big")) ++ (81L to 100L).map(i => (i, "small")))
      .toDF("id", "src")
    val kept = graft.ml.MLOps.mixtureResample(docs, "id", "src",
      Map("big" -> 0.5, "small" -> 0.5))
    val bySrc = kept.groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // small: rate = 0.5*100/20 = 2.5 -> capped at 1 -> all 20 kept
    assert(bySrc("small") == 20L)
    // big: rate = 0.5*100/80 = 0.625 -> a strict subset survives
    assert(bySrc("big") > 0L && bySrc("big") < 80L)
    // deterministic
    assert(kept.collect().map(_.getLong(1)).sorted.toSeq ==
      graft.ml.MLOps.mixtureResample(docs, "id", "src", Map("big" -> 0.5, "small" -> 0.5))
        .collect().map(_.getLong(1)).sorted.toSeq)
    // unlisted sources keep rate 1
    val withOther = docs.union(Seq((101L, "other")).toDF("id", "src"))
    val k2 = graft.ml.MLOps.mixtureResample(withOther, "id", "src", Map("big" -> 0.5))
    assert(k2.filter($"src" === "other").count() == 1L)
    assert(k2.filter($"src" === "small").count() == 20L)
  }

  test("groupCap caps per group with contiguous hash-ordered ranks") {
    val df = ((1L to 20L).map(i => (i, "a")) ++ (21L to 23L).map(i => (i, "b")))
      .toDF("id", "g")
    val out = graft.ml.MLOps.groupCap(df, "id", "g", k = 5)
    val byG = out.groupBy("g").agg(count(lit(1)), max("sample_rank"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(byG("a") == ((5L, 5)))
    assert(byG("b") == ((3L, 3)))
    // selection independent of scan order
    val shuffled = graft.ml.MLOps.groupCap(df.orderBy(rand(42)), "id", "g", k = 5)
    assert(shuffled.collect().map(_.getLong(0)).sorted.toSeq ==
      out.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("chunkSpans rejects stride > window and non-positive sizes") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](TextAnalysis.chunkSpans(df, "text", "doc_id", 4, 8))
    intercept[IllegalArgumentException](TextAnalysis.chunkSpans(df, "text", "doc_id", 0, 1))
  }

  test("mixtureResample tolerates target groups absent from the data") {
    val df = (1L to 50L).map(i => (i, "only")).toDF("id", "src")
    val kept = graft.ml.MLOps.mixtureResample(df, "id", "src", Map("ghost" -> 0.5))
    assert(kept.count() == 50L) // unlisted real group passes through; ghost ignored
  }

  test("chunkSpans: truncated tail window, empty docs drop") {
    val docs = Seq(
      (1L, Seq.fill(10)("w").mkString(" ")),
      (2L, "   "),
      (3L, "one")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkSpans(docs, "text", "doc_id", window = 8, stride = 4)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, 0L, 0L, 8L, 8L), (1L, 1L, 4L, 10L, 6L), (1L, 2L, 8L, 10L, 2L),
      (3L, 0L, 0L, 1L, 1L)))
  }

  test("groupCentroids: exact per-dim means in long form") {
    val vecs = Seq(
      (1, Seq(1.0f, 3.0f)), (1, Seq(3.0f, 5.0f)),
      (2, Seq(10.0f, 0.0f))
    ).toDF("label", "embedding")
    val out = Similarity.groupCentroids(vecs, "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> ((r.getDouble(2), r.getLong(3)))).toMap
    assert(out((1, 1L)) == ((2.0, 2L)))
    assert(out((1, 2L)) == ((4.0, 2L)))
    assert(out((2, 1L)) == ((10.0, 1L)))
    assert(out((2, 2L)) == ((0.0, 1L)))
  }
}

/** Bracketed exact percentiles: equivalence with the histogram path. */
class BracketedPercentileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bracketed equals histogram path exactly on a continuous domain") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 20000).map(i => (s"k${i % 3}", rnd.nextDouble() * 1000.0))
      .toDF("k", "v")
    val ps = Seq(0.25, 0.5, 0.75, 0.99)
    val names = Seq("p25", "p50", "p75", "p99")
    val hist = Aggregations.exactPercentiles(df, Seq("k"), "v", ps, names)
      .collect().map(r => r.getString(0) -> names.indices.map(i => r.getDouble(i + 1))).toMap
    val brk = Aggregations.exactPercentilesBracketed(df, Seq("k"), "v", ps, names)
      .collect().map(r => r.getString(0) -> names.indices.map(i => r.getDouble(i + 1))).toMap
    assert(brk.keySet == hist.keySet)
    for (k <- hist.keySet) assert(brk(k) == hist(k), s"key $k: ${brk(k)} vs ${hist(k)}")
  }

  test("bracketed falls back on null keys and still matches the histogram path") {
    val df = (Seq(("a", 1.0), ("a", 2.0), (null.asInstanceOf[String], 5.0),
      (null.asInstanceOf[String], 7.0))).toDF("k", "v")
    def toMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    val hist = toMap(Aggregations.exactPercentiles(df, Seq("k"), "v", Seq(0.5), Seq("m")))
    val brk = toMap(Aggregations.exactPercentilesBracketed(df, Seq("k"), "v", Seq(0.5), Seq("m")))
    assert(brk == hist && brk.contains(None)) // null-key group present in both
  }

  test("bracketed handles ties, tiny groups, and the p=0/p=1 edges") {
    val df = (Seq.fill(500)(7.5) ++ Seq(1.0, 2.0, 3.0)).zipWithIndex
      .map { case (v, i) => (s"g${i % 2}", v) }.toDF("k", "v")
      .union(Seq(("solo", 42.0)).toDF("k", "v"))
    val ps = Seq(0.0, 0.5, 1.0)
    val names = Seq("lo", "med", "hi")
    val hist = Aggregations.exactPercentiles(df, Seq("k"), "v", ps, names)
      .collect().map(r => r.getString(0) -> (1 to 3).map(r.getDouble)).toMap
    val brk = Aggregations.exactPercentilesBracketed(df, Seq("k"), "v", ps, names)
      .collect().map(r => r.getString(0) -> (1 to 3).map(r.getDouble)).toMap
    assert(brk == hist)
    assert(brk("solo") == Seq(42.0, 42.0, 42.0))
  }
}

/** Semantic dedup + round-3 kernel/streaming plumbing. */
class SemanticDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("semanticDedup: sound vs brute-force pairs, finds planted duplicates, lowest id survives") {
    val rnd = new scala.util.Random(5)
    def jitter(base: Array[Float], eps: Float) =
      base.map(v => v + (rnd.nextFloat() - 0.5f) * eps).toSeq
    val bases = (0 until 3).map(c => Array.tabulate(6)(i => if (i / 2 == c) 1.0f else 0.1f))
    // 30 well-separated points + 3 planted near-exact duplicate pairs
    val points = (0 until 30).map(i => (i.toLong, jitter(bases(i % 3), 0.2f)))
    val dups = (0 until 3).map { i =>
      val src = points(i)._2
      ((100 + i).toLong, src.map(v => v + 0.001f * (i + 1)))
    }
    val vecs = (points ++ dups).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, "embedding", "vec_id",
      nlist = 3, threshold = 0.995, kmeansIters = 2)
    val flagged = out.filter($"is_duplicate").select("vec_id").collect().map(_.getLong(0)).toSet
    // every planted duplicate (id 100+) is found; its source (smaller id) survives
    assert(Set(100L, 101L, 102L).subsetOf(flagged), s"planted dups missed: $flagged")
    assert(!flagged.contains(0L) && !flagged.contains(1L) && !flagged.contains(2L))
    // soundness: every flagged id really has a smaller-id partner at >= threshold
    val all = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    for (f <- flagged)
      assert(all.exists { case (id, v) => id < f && cos(v, all(f)) >= 0.995 },
        s"flagged $f has no true partner")
  }

  test("graft_int8_codes is callable from SQL") {
    graft.functions.Native.registerAll(spark)
    val row = spark.sql(
      "SELECT graft_int8_codes(array(CAST(1.0 AS FLOAT), CAST(-0.5 AS FLOAT))) AS c").head()
    assert(row.getString(0) == "127,-63") // floor(-63.5 + 0.5) = -63
  }

  test("chunkSpans runs unchanged on a stream (stateless narrow op)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_chunk_stream").toString
    val data = Seq((1L, Seq.fill(10)("w").mkString(" ")), (2L, "a b c"))
    data.toDF("doc_id", "text").write.parquet(dir + "/in")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir + "/in")
    val chunked = TextAnalysis.chunkSpans(stream, "text", "doc_id", window = 8, stride = 4)
    val q = chunked.writeStream.outputMode("append").format("memory")
      .queryName("chunk_stream").start()
    try { q.processAllAvailable() } finally { q.stop() }
    val streamed = spark.sql("SELECT * FROM chunk_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    val batch = TextAnalysis.chunkSpans(data.toDF("doc_id", "text"), "text", "doc_id", 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }
}

/** Heavy hitters: Misra-Gries candidates + exact verify == full groupBy. */
class HeavyHitterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("matches the exact top-k even when vocabulary >> sketch capacity") {
    val rnd = new scala.util.Random(13)
    // 5k docs: heavy tokens h0..h9 (zipf-ish) buried in 50k unique junk tokens
    val docs = (0 until 5000).map { i =>
      val heavy = (0 until 10).flatMap(h => Seq.fill((10 - h) * (i % 3 + 1) / 3)(s"h$h"))
      val junk = Seq.fill(10)(s"junk_${rnd.nextInt(50000)}")
      (i.toLong, rnd.shuffle(heavy ++ junk).mkString(" "))
    }.toDF("doc_id", "text")
    val fast = TextAnalysis.heavyHitters(docs, "text", k = 10, capacity = 64)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sortBy(_._3)
    val exact = docs.select(explode(split(lower(trim($"text")), "\\s+")).as("word"))
      .filter(length($"word") > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"word".asc).limit(10)
      .collect().map(_.getString(0))
    assert(fast.map(_._1).toSeq == exact.toSeq, s"fast=${fast.toSeq}")
    // the heavy tokens dominate
    assert(fast.take(5).forall(_._1.startsWith("h")))
    // exactness is partition-layout independent (the MG candidate SET may
    // differ per layout; the verified top-k must not)
    val repart = TextAnalysis.heavyHitters(docs.repartition(17), "text", k = 10, capacity = 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(repart.toSeq == fast.map(t => (t._1, t._2)).sortBy(_._1).toSeq)
  }
}

/** Epoch shuffle: reproducible, epoch-sensitive, partition-count-invariant. */
class EpochShuffleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("same epoch reproduces the order; different epochs permute; no rows lost") {
    val df = (1L to 500L).map(i => (i, s"d$i")).toDF("id", "v")
    def order(epoch: Int, part: Int) = graft.ml.MLOps.epochShuffle(
      df.repartition(part), "id", epoch).collect().map(_.getLong(0)).toSeq
    val e1 = order(1, 4)
    assert(e1 == order(1, 9)) // partition-count invariant
    val e2 = order(2, 4)
    assert(e1 != e2 && e1.sorted == e2.sorted) // permutation, not subset
    assert(e1.toSet.size == 500)
  }
}

/** As-of join directions: forward and nearest vs hand-computed answers. */
class AsofDirectionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("forward picks the earliest at-or-after row; tolerance clips") {
    val left = Seq((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 12:00:00")))
      .toDF("id", "ts")
    val right = Seq(
      (ts("2024-01-01 09:00:00"), "early"),
      (ts("2024-01-01 10:30:00"), "after1"),
      (ts("2024-01-01 11:00:00"), "after2")
    ).map { case (t, v) => (1, t, v) }.toDF("k", "ts", "v")
    val l = left.withColumn("k", lit(1))
    val out = Joins.asofJoin(l, right, "ts", "ts", Seq("k"), direction = "forward")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(1L) == "after1") // earliest >= 10:00
    assert(out(2L) == null)     // nothing at-or-after 12:00
    val clipped = Joins.asofJoin(l, right, "ts", "ts", Seq("k"),
      tolerance = Some(java.time.Duration.ofMinutes(20)), direction = "forward")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(clipped(1L) == null) // after1 is 30 min away > 20 min tolerance
  }

  test("nearest picks the closest row either side; ties go backward") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("id", "ts").withColumn("k", lit(1))
    val right = Seq(
      (1, ts("2024-01-01 09:50:00"), "b10"),  // 10 min before
      (1, ts("2024-01-01 10:05:00"), "f5"),   // 5 min after  -> nearest
      (1, ts("2024-01-01 11:00:00"), "f60")
    ).toDF("k", "ts", "v")
    val out = Joins.asofJoin(left, right, "ts", "ts", Seq("k"), direction = "nearest")
      .head().getString(3)
    assert(out == "f5")
    // exact tie: 10 min both sides -> earlier row wins
    val tied = Seq(
      (1, ts("2024-01-01 09:50:00"), "before"),
      (1, ts("2024-01-01 10:10:00"), "after")
    ).toDF("k", "ts", "v")
    val t = Joins.asofJoin(left, tied, "ts", "ts", Seq("k"), direction = "nearest")
      .head().getString(3)
    assert(t == "before")
    // backward result unchanged by the new parameter (regression guard)
    val b = Joins.asofJoin(left, right, "ts", "ts", Seq("k"))
      .head().getString(3)
    assert(b == "b10")
    intercept[IllegalArgumentException](
      Joins.asofJoin(left, right, "ts", "ts", Seq("k"), direction = "sideways"))
  }

  test("nearest works on plain numeric ts columns too") {
    val left = Seq((1L, 100L)).toDF("id", "ts").withColumn("k", lit(1))
    val right = Seq((1, 90L, "b"), (1, 104L, "f")).toDF("k", "ts", "v")
    val out = Joins.asofJoin(left, right, "ts", "ts", Seq("k"), direction = "nearest")
      .head().getString(3)
    assert(out == "f") // distance 4 beats 10
  }
}

/** Winsorize: clip bounds honored, interior values untouched. */
class WinsorizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("values clip to the group cuts; interior passes through") {
    val df = ((1 to 99).map(i => ("a", i.toDouble)) :+ (("a", 1000.0)))
      .toDF("g", "v")
    val w = Aggregations.winsorize(df, Seq("g"), "v", 0.10, 0.90, "vw")
      .select("v", "vw", "vw_lo", "vw_hi").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val (lo, hi) = (w.head._3, w.head._4)
    assert(lo > 1.0 && hi < 1000.0)
    assert(w.forall { case (_, vw, _, _) => vw >= lo && vw <= hi })
    assert(w.filter { case (v, _, _, _) => v > lo && v < hi }
      .forall { case (v, vw, _, _) => v == vw }) // interior untouched
    assert(w.find(_._1 == 1000.0).get._2 == hi)  // outlier clipped to cut
    intercept[IllegalArgumentException](
      Aggregations.winsorize(df, Seq("g"), "v", 0.9, 0.1, "x"))
  }
}

/** Funnel ordering semantics + retention offsets on hand-built journeys. */
class EventAnalyticsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("funnel requires stage order; out-of-order events don't convert") {
    val events = Seq(
      // u1: full ordered journey
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-02 10:00:00")),
      (1L, "buy", ts("2024-01-03 10:00:00")),
      // u2: click BEFORE first view -> stops at stage 1
      (2L, "click", ts("2024-01-01 09:00:00")),
      (2L, "view", ts("2024-01-01 10:00:00")),
      // u3: click too late (gap > 2 days)
      (3L, "view", ts("2024-01-01 10:00:00")),
      (3L, "click", ts("2024-01-05 10:00:00")),
      // u4: never viewed -> not in funnel at all
      (4L, "buy", ts("2024-01-01 10:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val stages = Seq(col("event_type") === "view", col("event_type") === "click",
      col("event_type") === "buy")
    val counts = EventAnalytics.funnelCounts(events, "user_id", "ts", stages,
      Some(java.time.Duration.ofDays(2)))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts == Map(1 -> 3L, 2 -> 1L, 3 -> 1L))
    val f = EventAnalytics.funnel(events, "user_id", "ts", stages,
      Some(java.time.Duration.ofDays(2)))
      .collect().map(r => r.getLong(0) -> r.getInt(r.fieldIndex("stages_completed"))).toMap
    assert(f == Map(1L -> 3, 2L -> 1, 3L -> 1))
  }

  test("funnelCounts reports zeros, not nulls, when nobody enters the funnel") {
    val events = Seq((1L, "buy", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("user_id", "event_type", "ts")
    val counts = EventAnalytics.funnelCounts(events, "user_id", "ts",
      Seq(col("event_type") === "view", col("event_type") === "buy"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts == Map(1 -> 0L, 2 -> 0L))
  }

  test("retention cohorts by first ISO week with exact offsets") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00")), // Monday, cohort week 0
      (1L, ts("2024-01-10 10:00:00")), // week 1
      (1L, ts("2024-01-16 10:00:00")), // week 2
      (2L, ts("2024-01-10 10:00:00")), // cohort = week of Jan 8
      (2L, ts("2024-01-11 10:00:00"))  // same week -> one active row
    ).toDF("user_id", "ts")
    val out = EventAnalytics.retention(events, "user_id", "ts")
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("2024-01-01", 0L) -> 1L, ("2024-01-01", 1L) -> 1L, ("2024-01-01", 2L) -> 1L,
      ("2024-01-08", 0L) -> 1L))
  }
}

/** Round-4 ops: SCD2, containment, cross-corpus link, bloom decontaminate,
  * linear scoring, histogram sketches, vocabulary growth. */
class Round4OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("scd2 chains validity intervals; exactly one current row per key") {
    val changes = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10L, "a"),
      (1L, ts("2024-01-03 00:00:00"), 11L, "b"),
      (1L, ts("2024-01-03 00:00:00"), 12L, "c"), // same ts -> tie on id
      (2L, ts("2024-02-01 00:00:00"), 20L, "x")
    ).toDF("k", "ts", "id", "v")
    val out = EventAnalytics.scd2(changes, "k", "ts", "id")
      .orderBy("k", "valid_from", "id").collect()
    // intervals chain: each non-current row's valid_to = next row's valid_from
    val k1 = out.filter(_.getLong(0) == 1L)
    assert(k1.map(_.getString(3)).toSeq == Seq("a", "b", "c"))
    assert(k1(0).getTimestamp(5) == k1(1).getTimestamp(4)) // valid_to(a) = valid_from(b)
    assert(k1(1).getTimestamp(5) == k1(2).getTimestamp(4)) // tie broken by id
    assert(out.count(_.getBoolean(6)) == 2) // one current per key
    val snap = EventAnalytics.latestSnapshot(changes, "k", "ts", "id")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(snap == Map(1L -> "c", 2L -> "x"))
  }

  test("containment flags a short doc embedded in a long one that jaccard misses") {
    val short = "alpha beta gamma delta epsilon"
    val long = short + " " + (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, short), (2L, long), (3L, "totally different words here entirely"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "text", "doc_id", threshold = 0.9, k = 3)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == (1L, 2L))
    assert(r.getDouble(2) == 1.0)      // fully contained
    assert(r.getDouble(3) < 0.1)       // symmetric jaccard would never flag it
  }

  test("crossCorpusLink picks the best right match, ties to smaller id") {
    val left = Seq((10L, "a b c d e f")).toDF("doc_id", "text")
    val right = Seq(
      (20L, "a b c d e f"),          // perfect match
      (21L, "a b c d e f"),          // tie -> loses on id
      (22L, "a b c d x y")           // worse
    ).toDF("doc_id", "text")
    val out = Dedup.crossCorpusLink(left, right, "text", "doc_id", 0.2, k = 2).collect()
    assert(out.length == 1)
    assert((out.head.getLong(0), out.head.getLong(1)) == (10L, 20L))
    assert(out.head.getDouble(2) == 1.0)
  }

  test("bloom has no false negatives and bloomDecontaminate equals the exact operator") {
    val hashes = Array(1L, 42L, 999999L, Dedup.PortableP - 1)
    val words = Dedup.bloomBuild(hashes, 1024, 3)
    val probe = spark.createDataFrame(hashes.map(Tuple1(_)).toSeq).toDF("h")
      .filter(Dedup.bloomMightContain(col("h"), words, 1024, 3))
    assert(probe.count() == hashes.length) // every inserted hash answers true
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs today"),
      (3L, "the quick brown fox naps all day long"),
      (4L, "completely unrelated content goes right here now")
    ).toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") =!= 1L)
    val bench = docs.filter(col("doc_id") === 1L)
    val exact = TextAnalysis.decontaminate(corpus, bench, "text", "doc_id", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloomed = Dedup.bloomDecontaminate(corpus, bench, "text", "doc_id", n = 3,
      mBits = 4096, numProbes = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bloomed == exact)
    assert(exact.contains(3L)) // shares "the quick brown" grams
  }

  test("hashedLinearScore: integer milli-weight mean, empty text scores 0") {
    val docs = Seq((1L, "hello world"), (2L, "   "), (3L, "hello"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.hashedLinearScore(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(2L) == ((0L, 0.0)))
    assert(out(1L)._1 == 2L)
    // score("hello world") = (w(hello) + w(world)) / 2000; score("hello") = w(hello)/1000
    // consistency: 2*score(1) - score(3) = w(world)/1000 ∈ [-1, 1]
    val wWorld = 2 * out(1L)._2 - out(3L)._2
    assert(wWorld >= -1.0 && wWorld <= 1.0)
    // deterministic across evaluations
    val again = TextAnalysis.hashedLinearScore(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(again(1L) == out(1L)._2)
  }

  test("histogram sketches merge: rollup of fine sketches equals coarse-built sketch") {
    val df = Seq(("a", "x", 10.0), ("a", "x", 250.0), ("a", "y", 260.0),
      ("b", "x", 999.0), ("a", "y", 270.0)).toDF("k1", "k2", "v")
    val fine = Aggregations.histSketch(df, Seq("k1", "k2"), "v", 100.0)
    val rolled = Aggregations.histRollup(fine, Seq("k1"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = Aggregations.histSketch(df, Seq("k1"), "v", 100.0)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rolled == direct)
  }

  test("histQuantile lower edge is within binWidth of the exact quantile") {
    val vals = (1 to 1000).map(i => ("g", i.toDouble))
    val df = vals.toDF("k", "v")
    val sketch = Aggregations.histSketch(df, Seq("k"), "v", 50.0)
    val q = Aggregations.histQuantile(sketch, Seq("k"), 0.5, 50.0)
      .collect().head.getDouble(1)
    // exact median of 1..1000 is 500/501; lower bin edge within one bin
    assert(q <= 500.0 && q > 500.0 - 50.0)
  }

  test("vocabGrowth is cumulative-monotone and ends at the corpus-wide distinct count") {
    val docs = (1 to 40).map(i => (i.toLong, s"w${i % 7} w${i % 5} w${i % 3} common tail"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowth(docs, "text", "doc_id", n = 2, steps = 4)
      .orderBy("fraction").collect()
    assert(out.map(_.getDouble(0)).toSeq == Seq(0.25, 0.5, 0.75, 1.0))
    val grams = out.map(_.getLong(2))
    assert(grams.toSeq == grams.sorted.toSeq) // monotone
    assert(out.map(_.getLong(1)).last == 40L) // all docs counted
    val total = docs.select(explode(Dedup.hashedShingleSet(col("text"), 2)).as("h"))
      .agg(count_distinct(col("h"))).collect().head.getLong(0)
    assert(grams.last == total)
  }
}

/** Round-4 batch 2: slice similarity, random projection, embedding audit,
  * top-fraction filter. */
class Round4OpsSpec2 extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("sliceSimilarity computes exact bigram jaccard between slices") {
    val docs = Seq(
      ("s1", "a b c"),   // bigrams: {a b, b c}
      ("s2", "a b d"),   // {a b, b d}
      ("s3", "x y")      // {x y}
    ).toDF("source", "text")
    val out = TextAnalysis.sliceSimilarity(docs, "text", "source", k = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out(("s1", "s2")) == ((2L, 2L, 1L, 1.0 / 3)))
    assert(!out.contains(("s1", "s3"))) // zero intersection never materializes
    assert(!out.contains(("s2", "s3")))
  }

  test("randomProject is the literal plane dot product, reproducible") {
    val v = (1 to 4).map(_.toFloat).toArray
    val df = Seq((1L, v)).toDF("vec_id", "embedding")
    val out = Similarity.randomProject(df, "embedding", "vec_id", outDim = 2, dim = 4)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val mat = Dedup.portablePlanes(2, 4)
    val expected = mat.map(p => p.zip(v.map(_.toDouble)).map { case (a, b) => a * b }.sum)
    assert(out(1L) == expected(0))
    assert(out(2L) == expected(1))
  }

  test("embeddingProfile counts zero vectors and wrong widths; exact mean sq norm") {
    val df = Seq(
      (1L, Array(3f, 4f), "a"),     // sq norm 25
      (2L, Array(0f, 0f), "a"),     // zero vector, sq norm 0
      (3L, Array(1f, 1f, 1f), "a")  // wrong dim, sq norm 3
    ).toDF("vec_id", "embedding", "label")
    val r = Profiling.embeddingProfile(df, "embedding", "label", expectedDim = 2)
      .collect().head
    assert(r.getLong(1) == 3L)              // n
    assert(r.getLong(2) == 1L)              // n_zero
    assert(r.getLong(3) == 1L)              // n_wrong_dim
    assert(r.getDouble(4) == (25.0 + 0.0 + 3.0) / 3)
  }

  test("topFractionByScore keeps ceil(frac*n) per group with total tiebreak") {
    val df = Seq(
      ("g1", 1L, 10.0), ("g1", 2L, 20.0), ("g1", 3L, 20.0), // n=3, frac .5 -> keep 2
      ("g2", 4L, 1.0)                                        // n=1 -> keep 1
    ).toDF("g", "id", "score")
    val kept = graft.ml.MLOps.topFractionByScore(df, "g", "score", "id", 0.5)
      .collect().map(r => r.getLong(1)).toSet
    assert(kept == Set(2L, 3L, 4L)) // score desc, tie 2<3 both fit in ceil(1.5)=2
    val kept2 = graft.ml.MLOps.topFractionByScore(df, "g", "score", "id", 0.33)
      .collect().map(r => r.getLong(1)).toSet
    assert(kept2 == Set(2L, 4L)) // ceil(0.99)=1 per group; tie 2<3 -> 2 wins
  }
}

/** Hard negatives + class weights. */
class ContrastiveOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("hardNegatives returns only different-label neighbors, ranked by cosine") {
    val rows = Seq(
      (1L, Array(1f, 0f), "a"),
      (2L, Array(1f, 0.01f), "a"),  // same label: excluded even though closest
      (3L, Array(0.9f, 0.1f), "b"), // nearest different-label
      (4L, Array(0f, 1f), "b"),     // orthogonal
      (5L, Array(-1f, 0f), "c")     // opposite
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(rows, rows.filter(col("vec_id") === 1L), k = 2)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(3L, 4L)) // 2 excluded (same label)
    assert(out.map(r => r.getInt(r.fieldIndex("rank"))).toSeq == Seq(1, 2))
    assert(out.head.getDouble(2) > out(1).getDouble(2))
  }

  test("classWeights is the sklearn balanced convention N/(k*n_c)") {
    val df = Seq.fill(6)("a").map(Tuple1(_)).toDF("label")
      .union(Seq.fill(2)("b").map(Tuple1(_)).toDF("label"))
    val w = graft.ml.MLOps.classWeights(df, "label")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // N=8, k=2: w(a) = 8/(2*6) = 2/3; w(b) = 8/(2*2) = 2
    assert(w("a") == ((6L, 8.0 / 12)))
    assert(w("b") == ((2L, 2.0)))
  }
}

/** Dyadic time-decayed aggregates. */
class DecayedSumSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)
  private val asOf = ts("2024-02-01 00:00:00")

  test("one half-life halves the weight; same-bucket events weigh equally") {
    val df = Seq(
      ("u", ts("2024-01-31 23:00:00"), 10.0), // age < hl  -> bucket 0, weight 1
      ("u", ts("2024-01-30 23:00:00"), 10.0), // 1 half-life -> weight 1/2
      ("u", ts("2024-01-29 23:00:00"), 10.0), // 2 -> 1/4
      ("v", ts("2024-01-31 12:00:00"), 8.0)   // age 12h < hl -> bucket 0
    ).toDF("k", "ts", "v")
    val out = Aggregations.decayedSum(df, Seq("k"), "v", "ts", asOf, 86400)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(out("u") == ((10.0 + 5.0 + 2.5, 3L)))
    assert(out("v") == ((8.0, 1L)))
  }

  test("events after asOf and beyond maxBuckets half-lives are excluded") {
    val df = Seq(
      ("u", ts("2024-02-02 00:00:00"), 100.0), // future of asOf
      ("u", ts("2023-01-01 00:00:00"), 100.0), // ancient: > maxBuckets
      ("u", ts("2024-01-31 12:00:00"), 4.0)
    ).toDF("k", "ts", "v")
    val out = Aggregations.decayedSum(df, Seq("k"), "v", "ts", asOf, 86400, maxBuckets = 5)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(out("u") == ((4.0, 1L)))
  }

  test("partition-count invariance (exact integer sums)") {
    val rows = (1 to 500).map(i => ("k", ts(f"2024-01-${1 + i % 30}%02d 10:00:00"), i / 7.0))
    val df = rows.toDF("k", "ts", "v")
    val a = Aggregations.decayedSum(df.repartition(1), Seq("k"), "v", "ts", asOf, 259200)
      .collect().head.getDouble(1)
    val b = Aggregations.decayedSum(df.repartition(13), Seq("k"), "v", "ts", asOf, 259200)
      .collect().head.getDouble(1)
    assert(a == b)
  }
}

/** OOV-rate + round-4 edge cases. */
class OovRateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("oovRate: cutoff splits vocab; rate is the exact token fraction") {
    val docs = Seq(
      ("s1", "common common common rare1"),
      ("s2", "common rare2 rare3 common")
    ).toDF("source", "text")
    val out = TextAnalysis.oovRate(docs, "text", "source", minCount = 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // vocab = {common} (count 5); rare* are OOV
    assert(out("s1") == ((4L, 1L, 0.25)))
    assert(out("s2") == ((4L, 2L, 0.5)))
    val all = TextAnalysis.oovRate(docs, "text", "source", minCount = 1)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(all == Map("s1" -> 0L, "s2" -> 0L)) // every word in vocab at cutoff 1
  }

  test("round-4 edges: single-row scd2, single-slice similarity, empty linkage") {
    val one = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L))
      .toDF("k", "ts", "id")
    val s = EventAnalytics.scd2(one, "k", "ts", "id").collect().head
    assert(s.getBoolean(s.fieldIndex("is_current")) && s.isNullAt(s.fieldIndex("valid_to")))
    val docs = Seq(("only", "a b c")).toDF("source", "text")
    assert(TextAnalysis.sliceSimilarity(docs, "text", "source").isEmpty)
    val l = Seq((1L, "x y z")).toDF("doc_id", "text")
    val r = Seq((2L, "p q r")).toDF("doc_id", "text")
    assert(Dedup.crossCorpusLink(l, r, "text", "doc_id", 0.1).isEmpty)
  }
}

/** Tokenize-to-ids + distributed-prefix-sum sharding. */
class TokenExportSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tokenizeToIds: frequency-desc ids, OOV -> 0, positions preserved") {
    val docs = Seq((1L, "b a b c b a"), (2L, "a b zz")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenizeToIds(docs, "text", "doc_id", minCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // counts: b=4, a=3, c=1, zz=1 -> vocab b->1, a->2; c/zz OOV -> 0
    assert(out((1L, 1L)) == 1L && out((1L, 2L)) == 2L && out((1L, 4L)) == 0L)
    assert(out((2L, 3L)) == 0L)
    assert(out.size == 9) // every token position exactly once
  }

  test("tokenShards equals the naive global cumulative sum for every bucket count") {
    val docs = (1 to 300).map(i => (i.toLong, 1 + i % 50)).toDF("id", "n")
    def run(buckets: Int) = graft.ml.MLOps
      .tokenShards(docs, "id", col("n"), targetTokens = 500, buckets = buckets)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val naive = {
      val u = graft.ml.MLOps.md5Bucket(col("id"), 1000000)
      val w = org.apache.spark.sql.expressions.Window.orderBy(u, col("id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      docs.withColumn("pre", coalesce(sum(col("n")).over(w), lit(0L)))
        .withColumn("shard", floor(col("pre") / 500.0).cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    }
    assert(run(1) == naive && run(7) == naive && run(64) == naive)
    // shard sizes balanced: every non-final shard carries >= targetTokens
    val sizes = graft.ml.MLOps
      .tokenShards(docs, "id", col("n"), targetTokens = 500, buckets = 16)
      .groupBy("shard").agg(sum(col("n")).as("t")).orderBy("shard")
      .collect().map(_.getLong(1))
    // a boundary-crossing doc's overshoot shaves at most max_doc_tokens (50)
    // off the next shard, so every non-final shard holds >= target - 50
    assert(sizes.init.forall(_ >= 450))
  }
}

/** Snapshot diff + event transitions. */
class DiffTransitionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    val oldDf = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "s", "v")
    val newDf = Seq((1L, "a", 10.0), (2L, "b", 99.0), (4L, "d", 40.0))
      .toDF("k", "s", "v")
    val out = Caching.snapshotDiff(oldDf, newDf, Seq("k"), Seq("s", "v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("snapshotDiff treats null compare values null-safely") {
    val oldDf = Seq((1L, Option.empty[String]), (2L, Some("x")))
      .toDF("k", "s")
    val newDf = Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("k", "s")
    val out = Caching.snapshotDiff(oldDf, newDf, Seq("k"), Seq("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed")) // null == null, x != null
  }

  test("transitions counts ordered adjacencies with exact conditionals") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(ts0.getTime + min * 60000L)
    val events = Seq(
      (1L, 1L, at(0), "view"), (1L, 2L, at(1), "click"), (1L, 3L, at(2), "view"),
      (2L, 4L, at(0), "view"), (2L, 5L, at(1), "click"), (2L, 6L, at(2), "buy")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val out = EventAnalytics.transitions(events, "user_id", "ts", "event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out(("view", "click")) == ((2L, 1.0)))     // view always -> click
    assert(out(("click", "view")) == ((1L, 0.5)))
    assert(out(("click", "buy")) == ((1L, 0.5)))
    assert(!out.contains(("buy", "view")))            // buy is terminal here
  }
}

/** Inverted-index ops vs brute force on randomized corpora. */
class InvertedIndexPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def shingleSet(text: String, k: Int): Set[String] = {
    val w = text.toLowerCase.trim.split("\\s+").toSeq
    if (w.length < k) Set.empty
    else w.sliding(k).map(_.mkString(" ")).toSet
  }

  private def corpus(seed: Int, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op")
    (1 to n).map { i =>
      val len = 3 + rnd.nextInt(10)
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
  }

  test("containmentPairs equals the brute-force definition on random corpora") {
    for (seed <- Seq(1, 7, 42)) {
      val docs = corpus(seed, 30)
      val k = 2; val t = 0.6
      val expected = (for {
        (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
        sa = shingleSet(ta, k); sb = shingleSet(tb, k)
        if sa.nonEmpty && sb.nonEmpty
        inter = (sa & sb).size
        c = inter.toDouble / math.min(sa.size, sb.size) if c >= t
      } yield (ia, ib) -> c).toMap
      val got = Dedup.containmentPairs(docs.toDF("doc_id", "text"), "text", "doc_id", t, k)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("crossCorpusLink equals the brute-force best match on random corpora") {
    for (seed <- Seq(3, 11)) {
      val left = corpus(seed, 15)
      val right = corpus(seed + 100, 15).map { case (i, t) => (i + 1000, t) }
      val k = 2; val t = 0.3
      def jac(a: Set[String], b: Set[String]) =
        if (a.isEmpty || b.isEmpty) 0.0
        else (a & b).size.toDouble / (a | b).size
      val expected = left.flatMap { case (il, tl) =>
        val sl = shingleSet(tl, k)
        val cands = right.map { case (ir, tr) => (ir, jac(sl, shingleSet(tr, k))) }
          .filter(_._2 >= t)
        if (cands.isEmpty) None
        else Some(il -> cands.minBy { case (ir, j) => (-j, ir) })
      }.toMap
      val got = Dedup.crossCorpusLink(left.toDF("doc_id", "text"),
          right.toDF("doc_id", "text"), "text", "doc_id", t, k)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got == expected, s"seed=$seed")
    }
  }
}

/** Key-skew diagnostics + class balancing. */
class SkewBalanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("keySkew surfaces the hot key with exact share and uniform ratio") {
    val df = (Seq.fill(60)("hot") ++ Seq.fill(20)("warm") ++ Seq.fill(20)("cold"))
      .zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "x")
    val top = Profiling.keySkew(df, Seq("k"), k = 2).orderBy("key_rank").collect()
    assert(top.map(_.getString(0)).toSeq == Seq("hot", "cold")) // tie 20/20 -> key asc
    assert(top.head.getDouble(2) == 0.6)        // share
    assert(top.head.getDouble(3) == 1.8)        // 3 distinct keys, 1.8x uniform
  }

  test("balanceClasses caps every class at the minority count, deterministically") {
    val df = ((1 to 50).map(i => (i.toLong, "big")) ++ (51 to 57).map(i => (i.toLong, "small")))
      .toDF("id", "label")
    val out = graft.ml.MLOps.balanceClasses(df, "label", "id")
    val sizes = out.groupBy("label").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes == Map("big" -> 7L, "small" -> 7L))
    // reproducible selection
    val again = graft.ml.MLOps.balanceClasses(df, "label", "id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("id").collect().map(_.getLong(0)).toSet)
  }
}

/** Review-fix regressions (round-4). */
class Round4ReviewFixSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("hardNegatives treats a null label as its own class") {
    val rows = Seq(
      (1L, Array(1f, 0f), Option.empty[String]),
      (2L, Array(1f, 0f), Some("a")),
      (3L, Array(0f, 1f), Option.empty[String])
    ).toDF("vec_id", "embedding", "label")
    val forNull = Similarity.hardNegatives(rows, rows.filter(col("vec_id") === 1L), k = 5)
      .collect().map(_.getLong(1)).toSet
    assert(forNull == Set(2L)) // 3 shares the null class; 2 differs
  }

  test("balanceClasses returns empty on empty input; keySkew likewise") {
    val empty = Seq.empty[(Long, String)].toDF("id", "label")
    assert(graft.ml.MLOps.balanceClasses(empty, "label", "id").isEmpty)
    val out = Profiling.keySkew(empty.toDF("k", "x"), Seq("k"))
    assert(out.isEmpty && out.columns.toSeq ==
      Seq("k", "n", "share", "skew_vs_uniform", "key_rank"))
  }

  test("tokenizeToIds assigns contiguous positions under tab-leading text") {
    val docs = Seq((1L, "\tb a")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenizeToIds(docs, "text", "doc_id", minCount = 1)
      .orderBy("pos").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L)) // no hole at position 1
  }

  test("vocabGrowth bucket index stays in range when steps does not divide 1e6") {
    val docs = (1 to 60).map(i => (i.toLong, s"w$i x$i")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowth(docs, "text", "doc_id", n = 2, steps = 3)
      .orderBy("fraction").collect()
    assert(out.map(_.getDouble(0)).forall(_ <= 1.0)) // no phantom fraction 4/3
    assert(out.map(_.getLong(1)).last == 60L)
  }

  test("embeddingProfile survives an anomalous huge-norm vector") {
    val df = Seq((1L, Array(4000f, 4000f), "a"), (2L, Array(1f, 0f), "a"))
      .toDF("vec_id", "embedding", "label")
    val r = Profiling.embeddingProfile(df, "embedding", "label", expectedDim = 2)
      .collect().head
    assert(r.getLong(1) == 2L)
    assert(r.getDouble(4) == (3.2e7 + 1.0) / 2) // no ANSI overflow abort
  }
}

/** Binary chunking digests. */
class ChunkBytesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("chunk lengths tile the payload; identical windows share digests") {
    val df = Seq((1L, "a" * 100), (2L, "a" * 64)).toDF("id", "text")
      .select(col("id"), encode(col("text"), "UTF-8").as("payload"))
    val out = Multimodal.chunkBytes(df, "payload", "id", chunkSize = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(3)))
      .toMap
    assert(out((1L, 0L))._1 == 64L && out((1L, 1L))._1 == 36L) // ragged tail
    assert(out((2L, 0L))._1 == 64L)
    assert(out((1L, 0L))._2 == out((2L, 0L))._2) // same 64-byte window, same digest
    assert(out((1L, 0L))._2 != out((1L, 1L))._2)
  }

  test("empty payloads yield no chunks") {
    val df = Seq((1L, "")).toDF("id", "text")
      .select(col("id"), encode(col("text"), "UTF-8").as("payload"))
    assert(Multimodal.chunkBytes(df, "payload", "id", 8).isEmpty)
  }
}

/** Content-defined chunking: tiling + shift robustness. */
class CdcChunksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val baseText = (1 to 300).map(i => s"w${i % 97}t${i % 13}").mkString(" ")

  test("chunks tile the document contiguously") {
    val df = Seq((1L, baseText)).toDF("doc_id", "text")
    val out = TextAnalysis.cdcChunks(df, "text", "doc_id", k = 4, divisor = 16)
      .orderBy("chunk_idx").collect()
    assert(out.head.getLong(2) == 1L)
    assert(out.last.getLong(3) == 300L)
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(2) == a.getLong(3) + 1) // next start = prev end + 1
    }
    assert(out.length > 3) // divisor 16 over 297 grams: boundaries exist
  }

  test("an insertion at the front only disturbs digests locally") {
    val shifted = "inserted0 inserted1 " + baseText
    val df = Seq((1L, baseText), (2L, shifted)).toDF("doc_id", "text")
    val out = TextAnalysis.cdcChunks(df, "text", "doc_id", k = 4, divisor = 16)
      .collect().groupBy(_.getLong(0))
    val d1 = out(1L).map(_.getString(4)).toSet
    val d2 = out(2L).map(_.getString(4)).toSet
    // content-defined boundaries re-synchronize after the first cut: most
    // of doc 1's chunk digests reappear verbatim in the shifted doc
    val shared = (d1 & d2).size
    assert(shared >= d1.size - 2, s"only $shared of ${d1.size} digests survived the shift")
  }

  test("short documents yield one whole-document chunk") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.cdcChunks(df, "text", "doc_id", k = 8, divisor = 64).collect()
    assert(out.length == 1)
    assert((out.head.getLong(2), out.head.getLong(3)) == ((1L, 3L)))
  }
}

/** Time-based CV folds. */
class TimeFoldsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("folds are temporally ordered and near-equal sized") {
    val rows = (1 to 100).map(i =>
      Tuple1(new java.sql.Timestamp(1700000000000L + i * 60000L)))
    val df = rows.toDF("ts")
    val out = graft.ml.MLOps.timeFolds(df, "ts", nFolds = 4)
      .groupBy("fold").agg(count(lit(1)).as("n"),
        min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      .orderBy("fold").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3))
    assert(out.map(_.getLong(1)).forall(n => n >= 24 && n <= 26))
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getTimestamp(3).before(b.getTimestamp(2))) // fold k ends before k+1 starts
    }
  }

  test("timeFolds rejects an all-null timestamp column") {
    val df = Seq(Tuple1(Option.empty[java.sql.Timestamp])).toDF("ts")
    intercept[IllegalArgumentException] {
      graft.ml.MLOps.timeFolds(df, "ts", nFolds = 3)
    }
  }
}

/** Calibration table. */
class CalibrationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("exact per-bin counts, rates, and mean scores") {
    val df = Seq((0.05, 0), (0.08, 1), (0.15, 1), (0.19, 1), (0.95, 1))
      .toDF("score", "label")
    val out = graft.ml.MLOps.calibrationTable(df, "score", "label", 0.1)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(0L)._1 == 2L && out(0L)._2 == 1L && out(0L)._4 == 0.5)
    assert(math.abs(out(0L)._3 - 0.065) < 1e-9) // decimal-rounded mean, ±1 ulp of naive
    assert(out(1L)._1 == 2L && out(1L)._2 == 2L && out(1L)._4 == 1.0)
    assert(math.abs(out(1L)._3 - 0.17) < 1e-9)
    assert(out(9L) == ((1L, 1L, 0.95, 1.0)))
  }
}

/** Mode + inter-arrival gaps. */
class ModeInterArrivalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("groupMode picks the most frequent value; ties break to the smallest") {
    val df = Seq(("g", 2), ("g", 2), ("g", 1), ("g", 1), ("g", 3),
      ("h", 9)).toDF("k", "v")
    val out = Aggregations.groupMode(df, Seq("k"), "v")
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(out("g") == ((1, 2L))) // 1 and 2 both appear twice -> smallest wins
    assert(out("h") == ((9, 1L)))
  }

  test("interArrival emits per-user consecutive gaps only") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00")),
      (1L, 2L, ts("2024-01-01 10:10:00")),
      (1L, 3L, ts("2024-01-01 10:15:00")),
      (2L, 4L, ts("2024-01-01 09:00:00"))  // single event: no gap
    ).toDF("user_id", "event_id", "ts")
    val out = EventAnalytics.interArrival(events, "user_id", "ts", "event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.sorted.toSeq == Seq(1L -> 300L, 1L -> 600L))
  }
}

/** Soft dedup weights. */
class DupWeightsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cluster members weigh 1/size; singletons weigh 1.0") {
    val docs = Seq(1L, 2L, 3L, 9L).map(Tuple1(_)).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b") // one 3-cluster
    val out = Dedup.duplicateWeights(docs, pairs, "id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == ((3L, 1.0 / 3)))
    assert(out(2L) == ((3L, 1.0 / 3)))
    assert(out(3L) == ((3L, 1.0 / 3)))
    assert(out(9L) == ((1L, 1.0)))
    // weights of a cluster sum to ~1: the corpus-level mass of a duplicated
    // document stays constant no matter how many copies exist
  }
}

/** Temperature resampling. */
class TemperatureMixSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("alpha=0.5 flattens skew: majority group keeps a smaller fraction") {
    val df = ((1 to 900).map(i => (i.toLong, "big")) ++
      (901 to 1000).map(i => (i.toLong, "small"))).toDF("id", "g")
    val kept = graft.ml.MLOps.temperatureResample(df, "id", "g")
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // targets: sqrt(900)=30, sqrt(100)=10 -> fracs 0.75/0.25
    // rates: big = min(1, .75*1000/900)=0.833; small = min(1, .25*1000/100)=1
    assert(kept("small") == 100L)                  // minority fully kept
    assert(kept("big") < 900L && kept("big") > 700L) // ~833 expected
    // deterministic
    val again = graft.ml.MLOps.temperatureResample(df, "id", "g")
      .groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == kept)
  }

  test("equal-sized groups are untouched (temperature of uniform = uniform)") {
    val df = ((1 to 100).map(i => (i.toLong, "a")) ++
      (101 to 200).map(i => (i.toLong, "b"))).toDF("id", "g")
    assert(graft.ml.MLOps.temperatureResample(df, "id", "g").count() == 200L)
  }
}

/** Confusion at a threshold. */
class ConfusionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tp/fp/tn/fn partition the data; precision/recall exact") {
    val df = Seq((0.9, 1), (0.8, 0), (0.3, 1), (0.1, 0)).toDF("score", "label")
    val r = graft.ml.MLOps.confusionAtThreshold(df, "score", "label", 0.5)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((1L, 1L, 1L, 1L)))
    assert(r.getDouble(4) == 0.5 && r.getDouble(5) == 0.5)
  }

  test("degenerate cases: no predicted positives / no actual positives") {
    val none = Seq((0.1, 1), (0.2, 0)).toDF("score", "label")
    val r = graft.ml.MLOps.confusionAtThreshold(none, "score", "label", 0.5)
      .collect().head
    assert(r.getDouble(4) == 0.0) // precision defined 0 when tp+fp = 0
    val noPos = Seq((0.9, 0)).toDF("score", "label")
    val r2 = graft.ml.MLOps.confusionAtThreshold(noPos, "score", "label", 0.5)
      .collect().head
    assert(r2.getDouble(5) == 0.0) // recall defined 0 when tp+fn = 0
  }
}

/** Token-ID arrays. */
class TokenIdArraysSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("arrays reassemble the long form in exact token order") {
    val docs = Seq((1L, "b a b c"), (2L, "c b")).toDF("doc_id", "text")
    val long = TextAnalysis.tokenizeToIds(docs, "text", "doc_id", minCount = 1)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    val arrays = TextAnalysis.tokenizeToIdArrays(docs, "text", "doc_id", minCount = 1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(arrays.view.mapValues(_.toSeq).toMap == long)
    assert(arrays(1L).length == 4)
  }
}

/** Brute-force equivalence properties for round-4 batch-8/9 ops. */
class Round4PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("groupMode equals the brute-force mode on random data across seeds") {
    for (seed <- Seq(2, 17, 99)) {
      val rnd = new scala.util.Random(seed)
      val rows = (1 to 400).map(_ => ("g" + rnd.nextInt(4), rnd.nextInt(8)))
      val expected = rows.groupBy(_._1).map { case (g, rs) =>
        val counts = rs.groupBy(_._2).view.mapValues(_.size).toMap
        val best = counts.toSeq.sortBy { case (v, c) => (-c, v) }.head
        g -> best
      }
      val got = Aggregations.groupMode(rows.toDF("k", "v"), Seq("k"), "v")
        .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2).toInt))).toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("decayedSum equals the brute-force dyadic sum on random event sets") {
    val asOf = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val hl = 43200L // 12h
    for (seed <- Seq(5, 23)) {
      val rnd = new scala.util.Random(seed)
      val rows = (1 to 300).map { _ =>
        val ageSec = rnd.nextInt(6 * 86400)
        val ts = new java.sql.Timestamp(asOf.getTime - ageSec * 1000L)
        ("k" + rnd.nextInt(3), ts, (rnd.nextInt(10000) + 1) / 100.0)
      }
      val expected = rows.groupBy(_._1).map { case (k, rs) =>
        val terms = rs.map { case (_, ts, v) =>
          val age = asOf.getTime / 1000 - ts.getTime / 1000
          val b = math.floor(age / hl.toDouble).toInt
          math.round(v * 100) * (1L << (12 - b))
        }
        k -> (terms.sum.toDouble / (100.0 * 4096.0), rs.size.toLong)
      }
      val got = Aggregations.decayedSum(rows.toDF("k", "ts", "v"), Seq("k"), "v",
          "ts", asOf, hl)
        .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("histQuantile equals brute-force bin-rank selection across seeds") {
    for (seed <- Seq(7, 31)) {
      val rnd = new scala.util.Random(seed)
      val rows = (1 to 500).map(_ => ("g" + rnd.nextInt(3), rnd.nextDouble() * 1000))
      val width = 50.0
      val expected = rows.groupBy(_._1).map { case (g, rs) =>
        val bins = rs.map(r => math.floor(r._2 / width).toLong).sorted
        val rank = math.ceil(0.5 * bins.size).toLong
        g -> bins(rank.toInt - 1) * width
      }
      val sketch = Aggregations.histSketch(rows.toDF("k", "v"), Seq("k"), "v", width)
      val got = Aggregations.histQuantile(sketch, Seq("k"), 0.5, width)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got == expected, s"seed=$seed")
    }
  }
}

/** MinHash estimator calibration. */
class MinhashEstimateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("identical docs estimate 1.0; estimates stay in [0,1]") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup
      (3L, "alpha beta gamma delta epsilon zeta eta iota")   // near dup
    ).toDF("doc_id", "text")
    val out = Dedup.minhashJaccardEstimate(docs, "text", "doc_id",
        threshold = 0.3, bands = 4, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(out((1L, 2L))._1 == 1.0 && out((1L, 2L))._2 == 0.0)
    assert(out.values.forall { case (est, err) => est >= 0 && est <= 1 && err >= 0 })
  }
}

/** Online point-lookup surface: entity keys pushed into the scan, latest
  * row per entity, parity with the PIT batch path (reference contract:
  * sources/redis.py:181-307 pipelined HMGET). */
class OnlineLookupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkView(): (FeatureView, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_online").toString + "/t"
    val src = graft.sources.ParquetSource(dir)
    src.overwrite(Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 10.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-03 00:00:00"), 30.0), // latest for 1
      (2L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 20.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), 50.0))
      .toDF("id", "ts", "score"))
    (FeatureView("scores", src,
      entities = Seq(Feature("id", FInt64)),
      features = Seq(Feature("score", FFloat64)),
      eventTimestamp = Some(EventTimestamp("ts"))), dir)
  }

  test("online lookup returns latest row per entity, null for absent keys") {
    val (v, _) = mkView()
    val store = new graft.store.ContractStore().addView(v)
    val out = store.onlineFeaturesFor(spark,
        Seq(1L, 3L, 99L).toDF("id"), Seq("scores:score"))
      .collect().map(r => r.getLong(0) -> Option(r.get(r.fieldIndex("score")))).toMap
    assert(out(1L).contains(30.0)) // latest, not first
    assert(out(3L).contains(50.0))
    assert(out(99L).isEmpty) // missing key = null, like an absent HMGET
  }

  test("entity keys reach the parquet scan as pushed filters") {
    val (v, _) = mkView()
    val store = new graft.store.ContractStore().addView(v)
    val q = store.onlineFeaturesFor(spark, Seq(1L, 3L).toDF("id"), Seq("scores:score"))
    val plan = q.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*In\\(id".r.findFirstIn(plan).isDefined,
      s"entity-key IN filter not pushed to the scan:\n$plan")
  }

  test("parity with the PIT batch path at a future fact timestamp") {
    val (v, _) = mkView()
    val store = new graft.store.ContractStore().addView(v)
    val entities = Seq(1L, 2L, 3L).toDF("id")
    val online = store.onlineFeaturesFor(spark, entities, Seq("scores:score"))
      .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val pit = store.featuresFor(spark,
        entities.withColumn("event_timestamp",
          lit(java.sql.Timestamp.valueOf("2030-01-01 00:00:00"))),
        Seq("scores:score"))
      .select("id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(online == pit)
  }

  test("composite entity keys push a struct InSet beside a per-column In") {
    val dir = java.nio.file.Files.createTempDirectory("graft_online2").toString + "/t"
    val src = graft.sources.ParquetSource(dir)
    src.overwrite(Seq((1L, "eu", 1.0), (1L, "us", 2.0), (2L, "eu", 3.0))
      .toDF("id", "region", "v"))
    val v = FeatureView("dim", src,
      entities = Seq(Feature("id", FInt64), Feature("region", FString)),
      features = Seq(Feature("v", FFloat64)))
    val store = new graft.store.ContractStore().addView(v)
    val q = store.onlineFeaturesFor(spark,
      Seq((1L, "us"), (2L, "eu")).toDF("id", "region"), Seq("dim:v"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), s"no pushed filters:\n$plan")
    val out = q.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(out == Set((1L, "us", 2.0), (2L, "eu", 3.0)))
  }

  test("beyond maxInlineKeys the lookup degrades to a broadcast semi-join") {
    val (v, _) = mkView()
    val store = new graft.store.ContractStore().addView(v)
    val many = (1L to 50L).toDF("id")
    val q = store.onlineFeaturesFor(spark, many, Seq("scores:score"), maxInlineKeys = 10)
    assert(q.count() == 50)
    assert(q.filter(col("id") === 1L).select("score").collect().head.getDouble(0) == 30.0)
  }

  test("a bucketed-log store routes lookups through the PRUNED LSM path " +
      "with identical results (VERDICT r14 #3)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_online3").toString
    val rows = (0L until 300L).map(i =>
      (i, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), i * 1.0))
    val newer = Seq((1L, java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), 111.0))
    // same data in an LSM store and a plain parquet store; the LSM store's
    // bulk rows are written non-locally (hash buckets), the newer row is
    // driver rows (the tail bucket)
    val lsm = graft.sources.BucketedLogUpsertSource(s"$dir/lsm", Seq("id"), 16)
    lsm.upsert(rows.toDF("id", "ts", "score").repartition(2), Seq("id"))
    lsm.upsert(newer.toDF("id", "ts", "score"), Seq("id"))
    val pq = graft.sources.ParquetSource(s"$dir/pq")
    pq.overwrite(rows.toDF("id", "ts", "score"))
    pq.upsert(newer.toDF("id", "ts", "score"), Seq("id"))
    def mk(name: String, src: graft.sources.BatchSource) = FeatureView(name, src,
      entities = Seq(Feature("id", FInt64)),
      features = Seq(Feature("score", FFloat64)),
      eventTimestamp = Some(EventTimestamp("ts")))
    val store = new graft.store.ContractStore()
      .addView(mk("s_lsm", lsm)).addView(mk("s_pq", pq))
    val probe = Seq(1L, 42L, 999L).toDF("id")
    val viaLsm = store.onlineFeaturesFor(spark, probe, Seq("s_lsm:score"))
    val viaPq = store.onlineFeaturesFor(spark, probe, Seq("s_pq:score"))
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> Option(r.get(r.fieldIndex("score")))).toMap
    assert(snap(viaLsm) == snap(viaPq), "LSM lookup diverged from the plain store")
    assert(snap(viaLsm)(1L).contains(111.0) && snap(viaLsm)(999L).isEmpty)
    // driver rows are answered when the lookup is called: no file scan is
    // left in the returned frame
    assert(PlanScans.fileScans(viaLsm).isEmpty && graft.sources.DriverRows.isLocal(viaLsm),
      s"the lookup returned a plan that still reads the store:\n${viaLsm.queryExecution.executedPlan}")
    // physics: the store read scans a strict subset of the store's partitions
    val scans = PlanScans.fileScans(lsm.readForEntities(spark, probe))
    assert(scans.nonEmpty, "no file scan in the store read")
    val lookedAt = scans.map(_.selectedPartitions.partitionCount).min
    val total = PlanScans.fileScans(lsm.read(spark))
      .head.selectedPartitions.partitionCount
    assert(lookedAt < total,
      s"lookup scanned $lookedAt of $total partitions — the bucket pruning is gone")
  }

  test("the LSM fast path declines when the store's physical key type needs a " +
      "conformance cast: a non-roundtripping stored value ('01' as FInt64) must " +
      "still be FOUND, as the full-scan path finds it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_online5").toString
    // STRING-keyed store under an Int64-declared entity: '01' casts to 1,
    // but a probe 1L cast to the stored type hashes "1" != "01" — bucket
    // pruning would miss the row in most bucket layouts
    val lsm = graft.sources.BucketedLogUpsertSource(s"$dir/lsm", Seq("id"), 16)
    lsm.upsert(Seq(("01", 10.0), ("2", 20.0)).toDF("id", "score"), Seq("id"))
    val v = FeatureView("typed", lsm,
      entities = Seq(Feature("id", FInt64)),
      features = Seq(Feature("score", FFloat64)))
    val store = new graft.store.ContractStore().addView(v)
    val out = store.onlineFeaturesFor(spark, Seq(1L, 2L).toDF("id"), Seq("typed:score"))
      .collect().map(r => r.getLong(0) -> Option(r.get(r.fieldIndex("score")))).toMap
    assert(out(1L).contains(10.0),
      "the '01' row was lost — the fast path pruned on a cast-divergent key type")
    assert(out(2L).contains(20.0))
  }

  test("empty entity frames return empty, composite keys included") {
    val (v, _) = mkView()
    val store = new graft.store.ContractStore().addView(v)
    assert(store.onlineFeaturesFor(spark,
      Seq.empty[Long].toDF("id"), Seq("scores:score")).count() == 0)
    val dim = FeatureView("dim2", graft.sources.CustomSource(s => {
        import s.implicits._; Seq((1L, "eu", 1.0)).toDF("id", "region", "v") }),
      entities = Seq(Feature("id", FInt64), Feature("region", FString)),
      features = Seq(Feature("v", FFloat64)))
    val store2 = new graft.store.ContractStore().addView(dim)
    // the composite-key OR predicate must not blow up on zero key rows
    assert(store2.onlineFeaturesFor(spark,
      Seq.empty[(Long, String)].toDF("id", "region"), Seq("dim2:v")).count() == 0)
  }

  /** A bucketed-log store in the serving shape (16 buckets, three
    * generations) under a view with an event timestamp. */
  private def servingStore(): (graft.store.ContractStore, graft.sources.BucketedLogUpsertSource) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_online6").toString
    val lsm = graft.sources.BucketedLogUpsertSource(s"$dir/lsm", Seq("id"), 16)
    for (g <- 0 until 3)
      lsm.upsert((0L until 200L).filter(_ % (g + 1) == 0).map(i =>
        (i, java.sql.Timestamp.valueOf(s"2024-01-0${g + 1} 00:00:00"), i * 10.0 + g, s"s$g"))
        .toDF("id", "ts", "price", "status"), Seq("id"))
    val v = FeatureView("serving", lsm,
      entities = Seq(Feature("id", FInt64)),
      features = Seq(Feature("price", FFloat64), Feature("status", FString)),
      eventTimestamp = Some(EventTimestamp("ts")))
    (new graft.store.ContractStore().addView(v), lsm)
  }

  private def local(ids: Seq[Long]) = spark.createDataFrame(
    java.util.Arrays.asList(ids.map(org.apache.spark.sql.Row(_)): _*),
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType))))

  test("a 5-key lookup over driver rows runs 2 jobs, and a new 5-key set " +
      "compiles no class") {
    val (store, _) = servingStore()
    val refs = Seq("serving:price", "serving:status")
    // warm: the first lookup may compile its classes
    store.onlineFeaturesFor(spark, local(Seq(1L, 2L, 3L, 4L, 5L)), refs).collect()
    val (rows, jobs) = JobCount(spark)(
      store.onlineFeaturesFor(spark, local(Seq(6L, 12L, 18L, 24L, 199L)), refs).collect())
    assert(jobs == 2, s"a 5-key lookup ran $jobs jobs")
    assert(rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(6L -> 62.0, 12L -> 122.0, 18L -> 182.0, 24L -> 242.0, 199L -> 1990.0))
    // the key filter's generated code does not depend on the key set
    val (_, compiled) = CompileCount(spark)(
      store.onlineFeaturesFor(spark, local(Seq(7L, 11L, 13L, 17L, 19L)), refs).collect())
    assert(compiled == 0, s"a new key set compiled $compiled classes")
  }

  test("non-local probes (spark.range, a parquet read) return the rows a local " +
      "probe returns") {
    val (store, _) = servingStore()
    val refs = Seq("serving:price", "serving:status")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val ids = (40L until 46L) :+ 500L
    val expected = snap(store.onlineFeaturesFor(spark, local(ids), refs))
    assert(expected.length == ids.length)
    val ranged = spark.range(40L, 46L).union(spark.range(500L, 501L)).toDF("id")
    assert(!graft.sources.DriverRows.isLocal(ranged))
    assert(snap(store.onlineFeaturesFor(spark, ranged, refs)) == expected)
    val pq = java.nio.file.Files.createTempDirectory("graft_online7").toString + "/probe"
    local(ids).write.parquet(pq)
    assert(snap(store.onlineFeaturesFor(spark, spark.read.parquet(pq), refs)) == expected)
    // overflow: more keys than maxInlineKeys, local and not
    assert(snap(store.onlineFeaturesFor(spark, ranged, refs, maxInlineKeys = 3)) == expected)
    assert(snap(store.onlineFeaturesFor(spark, local(ids), refs, maxInlineKeys = 3)) == expected)
  }

  for ((kind, dtype, stored, mk) <- Seq[(String, graft.core.FeatureType,
      org.apache.spark.sql.types.DataType, Int => Any)](
      ("int", FInt32, org.apache.spark.sql.types.IntegerType, i => i),
      ("long", FInt64, org.apache.spark.sql.types.LongType, i => i.toLong),
      ("string", FString, org.apache.spark.sql.types.StringType, i => s"k$i")))
    test(s"pruned lookups equal the full-scan path for $kind keys: duplicate, empty, " +
        "overflowing, non-local and type-coerced probes") {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val dir = java.nio.file.Files.createTempDirectory("graft_online8").toString
      val schema = StructType(Seq(StructField("id", stored),
        StructField("ts", TimestampType), StructField("score", DoubleType)))
      val lsm = graft.sources.BucketedLogUpsertSource(s"$dir/lsm", Seq("id"), 8)
      for (g <- 0 until 3)
        lsm.upsert(spark.createDataFrame(java.util.Arrays.asList((0 until 60)
          .filter(_ % (g + 1) == 0).map(i => Row(mk(i),
            java.sql.Timestamp.valueOf(s"2024-01-0${g + 1} 00:00:00"), i + g / 10.0)): _*),
          schema), Seq("id"))
      val v = FeatureView("keyed", lsm, entities = Seq(Feature("id", dtype)),
        features = Seq(Feature("score", FFloat64)), eventTimestamp = Some(EventTimestamp("ts")))
      val store = new graft.store.ContractStore().addView(v)
      // the full-scan path: every row conformed, latest per key, joined
      val latest = store.view("keyed").baseWithDerived(spark)
        .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("id").orderBy(col("ts").desc)))
        .filter(col("rn") === 1).select("id", "score")
      def snap(df: org.apache.spark.sql.DataFrame) =
        df.select("id", "score").collect().map(_.toSeq.mkString("|")).sorted.toSeq
      def check(name: String, probe: org.apache.spark.sql.DataFrame, maxInline: Int = 1024) = {
        val got = snap(store.onlineFeaturesFor(spark, probe, Seq("keyed:score"), maxInline))
        assert(got == snap(probe.join(latest, Seq("id"), "left")), s"$kind, $name")
        got
      }
      def probe(is: Seq[Int]) = spark.createDataFrame(
        java.util.Arrays.asList(is.map(i => Row(mk(i))): _*),
        StructType(Seq(StructField("id", stored))))
      assert(check("distinct", probe(Seq(0, 3, 7, 59, 99))).count(_.endsWith("|null")) == 1)
      assert(check("duplicates", probe(Seq(3, 3, 7, 3, 99))).length == 5)
      assert(check("empty", probe(Nil)).isEmpty)
      assert(check("overflow", probe(0 until 30), maxInline = 10).length == 30)
      check("non-local", probe(Seq(0, 3, 7, 59, 99)).repartition(2))
      check("non-local overflow", probe(0 until 30).repartition(2), maxInline = 10)
      // a probe typed unlike the store: the bucket ids hash the cast probe
      // and the key filter keeps isin's coercion
      if (stored != StringType)
        check("type-coerced", probe(Seq(4, 8, 99)).withColumn("id", col("id").cast(ShortType)))
    }

  test("the cast guard: a store whose key type differs from the declared type " +
      "declines pruning and equals the full-scan path, for local and overflow probes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_online9").toString
    val lsm = graft.sources.BucketedLogUpsertSource(s"$dir/lsm", Seq("id"), 16)
    lsm.upsert(Seq(("01", 10.0), ("2", 20.0), ("003", 30.0)).toDF("id", "score"), Seq("id"))
    val v = FeatureView("typed2", lsm, entities = Seq(Feature("id", FInt64)),
      features = Seq(Feature("score", FFloat64)))
    val store = new graft.store.ContractStore().addView(v)
    val full = store.view("typed2").baseWithDerived(spark).select("id", "score")
    for ((probe, maxInline) <- Seq(local(Seq(1L, 2L, 3L, 4L)) -> 1024,
        local(Seq(1L, 2L, 3L, 4L, 1L)) -> 2, spark.range(1L, 5L).toDF("id") -> 1024)) {
      val got = store.onlineFeaturesFor(spark, probe, Seq("typed2:score"), maxInline)
        .collect().map(r => r.getLong(0) -> Option(r.get(1))).sortBy(_._1).toSeq
      val want = probe.join(full, Seq("id"), "left")
        .collect().map(r => r.getLong(0) -> Option(r.get(1))).sortBy(_._1).toSeq
      assert(got == want)
      assert(got.toMap.apply(1L).contains(10.0) && got.toMap.apply(3L).contains(30.0))
    }
  }
}

/** Kafka integration smoke: runs only when the spark-sql-kafka connector is
  * on the classpath (deploy builds — see the build.sbt DEPLOY NOTE); in the
  * zero-egress build it cancels cleanly instead of failing. The pipeline
  * itself (JSON decode → worker transforms → watermarked aggs) is
  * jar-independent and fully covered by StreamingSpec over file streams. */
class KafkaSmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def kafkaOnClasspath: Boolean =
    try { Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider"); true }
    catch { case _: ClassNotFoundException => false }

  test("kafka json stream builds a typed streaming plan (skips without the jar)") {
    assume(kafkaOnClasspath, "spark-sql-kafka not on classpath (offline build) — skipping")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
    // plan construction only — no broker round-trip until a query starts
    val df = graft.streaming.Streaming.kafkaJsonStream(spark,
      graft.streaming.Streaming.KafkaTopic("localhost:9092", "t"), schema)
    assert(df.isStreaming)
    assert(df.schema.fieldNames.toSeq == Seq("id", "v"))
  }
}

/** Round-5 regression gates for the round-4 ADVICE lows. */
class AdviceRegressionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("temperatureResample applies rates to non-string group columns") {
    // timestamp-typed groups: the old String.valueOf round-trip relied on
    // implicit casts that are not guaranteed for every dtype; rates must
    // bind by the NATIVE group value
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val df = ((1L to 900L).map(i => (i, t1)) ++ (901L to 1000L).map(i => (i, t2)))
      .toDF("id", "g")
    val kept = graft.ml.MLOps.temperatureResample(df, "id", "g")
      .groupBy("g").count().collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    // sqrt temperature flattens: the minority group keeps (nearly) all its
    // rows (rate ≈ min(1, √100/(√900+√100)·1000/100) = 1) while the
    // majority downsamples to ≈ √900/(√900+√100)·1000 = 750
    assert(kept(t2) > 90L, s"minority group lost rows: ${kept(t2)}")
    assert(kept(t1) < 820L && kept(t1) > 680L, s"majority rate off: ${kept(t1)}")
    // double-typed groups bind too
    val dd = ((1L to 400L).map(i => (i, 0.5)) ++ (401L to 500L).map(i => (i, 2.5)))
      .toDF("id", "g")
    val keptD = graft.ml.MLOps.temperatureResample(dd, "id", "g")
    assert(keptD.filter(col("g") === 2.5).count() > 80L)
    assert(keptD.filter(col("g") === 0.5).count() < 390L)
  }

  test("tokenShards survives a bucket whose token counts are all null") {
    val df = (1L to 50L).map(i => (i, Option.empty[Long])).toDF("id", "n")
    // every bucket's sum(n) is NULL — must treat as 0, not NPE
    val out = graft.ml.MLOps.tokenShards(df, "id", col("n"), targetTokens = 100, buckets = 4)
    assert(out.count() == 50)
    assert(out.select("shard").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
    // mixed: null-count docs occupy no token mass but still get shards
    val mixed = ((1L to 20L).map(i => (i, Some(60L))) ++ (21L to 25L).map(i => (i, Option.empty[Long])))
      .toDF("id", "n")
    val shards = graft.ml.MLOps.tokenShards(mixed, "id", col("n"), targetTokens = 300, buckets = 2)
    assert(shards.count() == 25)
    assert(shards.agg(max(col("shard"))).collect().head.getLong(0) == (20 * 60 - 1) / 300)
  }

  test("upsert with a trailing-slash path stages as a SIBLING, not inside dest") {
    // ADVICE r13 — the old `path + "__tmp_upsert"` string concat nested the
    // staging dir INSIDE dest when the path had a trailing slash, so the
    // swap's recursive delete destroyed both the old table AND the staged
    // merge. Path(parent, name+suffix) construction makes this safe.
    val base = java.nio.file.Files.createTempDirectory("graft_slash").toString
    val src = graft.sources.ParquetSource(s"$base/t.parquet/") // trailing slash
    src.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    src.upsert(Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))
    val out = src.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "c"),
      "trailing-slash upsert must merge, not destroy")
  }

  test("a re-read after upsert sees the post-swap files (catalog refreshed)") {
    // ADVICE r13 — the rename-swap bypasses Spark's write path (the old
    // second write went through InsertIntoHadoopFsRelationCommand, which
    // refreshed for us), so without refreshByPath a CACHED frame over the
    // path holds a stale file index and hits FILE_NOT_EXIST on re-read.
    // Scope matches Spark's own contract: refreshByPath recaches cached
    // plans and drops shared file-status state; an UNcached pre-swap frame
    // keeps its resolved file list ("recreate the Dataset" semantics).
    val base = java.nio.file.Files.createTempDirectory("graft_refresh").toString
    val src = graft.sources.ParquetSource(s"$base/t.parquet")
    src.overwrite(Seq((1L, "a")).toDF("id", "v"))
    val before = src.read(spark).cache()
    assert(before.count() == 1) // materialize the cache over the old files
    try {
      src.upsert(Seq((1L, "A"), (2L, "b")).toDF("id", "v"), Seq("id"))
      // a fresh read sees the post-swap listing…
      assert(src.read(spark).count() == 2)
      // …and the CACHED frame was recached against it, not left stale
      val re = before.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(re == Map(1L -> "A", 2L -> "b"))
    } finally { before.unpersist(); () }
  }

  test("gate width env parses strictly: positive int or a loud failure") {
    import graft.streaming.Streaming.parseGateWidth
    assert(parseGateWidth(None) == 1)
    assert(parseGateWidth(Some("8")) == 8)
    assert(parseGateWidth(Some(" 32 ")) == 32)
    intercept[IllegalArgumentException](parseGateWidth(Some("abc")))
    intercept[IllegalArgumentException](parseGateWidth(Some("0")))
    intercept[IllegalArgumentException](parseGateWidth(Some("-4")))
    // the session width parses the same way; unset means every core
    assert(Session.parseCpus(None) == Runtime.getRuntime.availableProcessors)
    assert(Session.parseCpus(Some("4")) == 4)
    intercept[IllegalArgumentException](Session.parseCpus(Some("abc")))
    intercept[IllegalArgumentException](Session.parseCpus(Some("0")))
  }
}

/** Collect FileSourceScanExec nodes, descending through the AQE wrapper
  * (executedPlan is AdaptiveSparkPlanExec before finalization and its
  * collect() does not traverse into the wrapped plan). */
private[graft] object PlanScans {
  def fileScans(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    root.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
  }
}

/** The log-structured upsert store (VERDICT r13 #1, second iteration): a
  * micro-batch sink whose per-batch cost is O(batch) — append under a new
  * generation, resolve latest-wins on read. */
class LogUpsertSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.sources.LogUpsertSource

  test("latest generation wins per key; older emissions resolve away") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log").toString + "/s"
    val src = LogUpsertSource(dir, Seq("id"))
    src.upsert(Seq((1L, "a1"), (2L, "b1")).toDF("id", "v"), Seq("id"))
    src.upsert(Seq((2L, "b2"), (3L, "c1")).toDF("id", "v"), Seq("id"))
    src.upsert(Seq((1L, "a3")).toDF("id", "v"), Seq("id"))
    val out = src.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a3", 2L -> "b2", 3L -> "c1"))
    assert(src.read(spark).columns.toSeq == Seq("id", "v"), "no __gen in the read schema")
  }

  test("appends never touch earlier generations' files (O(batch) per batch, physically)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log2").toString + "/s"
    val src = LogUpsertSource(dir, Seq("id"))
    src.upsert((0L until 100L).map(i => (i, i * 2)).toDF("id", "v"), Seq("id"))
    def files() = {
      val root = java.nio.file.Paths.get(dir)
      val out = scala.collection.mutable.Map[String, Long]()
      java.nio.file.Files.walk(root).forEach { p =>
        if (java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          out(root.relativize(p).toString) = java.nio.file.Files.getLastModifiedTime(p).toMillis
      }
      out.toMap
    }
    val before = files()
    src.upsert(Seq((7L, -1L)).toDF("id", "v"), Seq("id"))
    val after = files()
    before.foreach { case (f, mtime) =>
      assert(after.get(f).contains(mtime), s"existing log file rewritten: $f") }
    assert(after.size > before.size, "the batch must land as NEW files")
    assert(src.read(spark).filter(col("id") === 7L).head().getLong(1) == -1L)
  }

  test("redelivered (at-least-once) batches resolve to one copy") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log3").toString + "/s"
    val src = LogUpsertSource(dir, Seq("id"))
    val batch = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    src.upsert(batch, Seq("id"))
    src.upsert(batch, Seq("id")) // redelivery
    assert(src.read(spark).count() == 2)
  }

  test("generation counter seeds above persisted generations (restart shape)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log4").toString + "/s"
    LogUpsertSource(dir, Seq("id")).upsert(Seq((1L, "old")).toDF("id", "v"), Seq("id"))
    // a 'restarted process': drop the cached counter so the next source
    // must re-seed from the directory listing
    graft.sources.GenLog.resetCountersForTest()
    val src2 = LogUpsertSource(dir, Seq("id"))
    src2.upsert(Seq((1L, "new")).toDF("id", "v"), Seq("id"))
    assert(src2.read(spark).head().getString(1) == "new",
      "post-restart generation must sort above every persisted one")
  }

  test("compact folds the log to one generation; content identical, appends continue") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log6").toString + "/s"
    val src = LogUpsertSource(dir, Seq("id"))
    src.upsert((0L until 50L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    src.upsert(Seq((7L, "u1"), (99L, "new")).toDF("id", "v"), Seq("id"))
    src.upsert(Seq((7L, "u2")).toDF("id", "v"), Seq("id"))
    val before = src.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    src.compact(spark)
    // one generation dir remains (no stale staging dir in or beside the store)
    val gens = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString.split("/").last).filter(_.startsWith("__gen="))
    assert(gens.length == 1, s"expected one generation after compact, got ${gens.toSeq}")
    assert(!java.nio.file.Files.list(java.nio.file.Paths.get(dir).getParent).toArray
      .map(_.toString).exists(_.contains("__graft_compact")), "staging dir leaked")
    val after = src.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == before, "compact changed the resolved content")
    assert(after(7L) == "u2" && after(99L) == "new" && after.size == 51)
    // the log keeps absorbing upserts above the compacted generation
    src.upsert(Seq((7L, "u3")).toDF("id", "v"), Seq("id"))
    assert(src.read(spark).filter(col("id") === 7L).head().getString(1) == "u3")
  }

  test("empty overwrite materializes schema; mismatched upsert keys refused") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log5").toString + "/s"
    val src = LogUpsertSource(dir, Seq("id"))
    src.overwrite(Seq((1L, "a")).toDF("id", "v").limit(0))
    assert(src.exists(spark) && src.read(spark).count() == 0)
    assert(src.read(spark).columns.toSeq == Seq("id", "v"))
    intercept[IllegalArgumentException](
      src.upsert(Seq((1L, "a")).toDF("id", "v"), Seq("v")))
    // overwrite resets content: later upsert beats the gen=0 snapshot
    src.overwrite(Seq((9L, "base")).toDF("id", "v"))
    src.upsert(Seq((9L, "upd")).toDF("id", "v"), Seq("id"))
    assert(src.read(spark).head().getString(1) == "upd")
  }

  private def genCount(dir: String): Int =
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString.split("/").last).count(_.startsWith("__gen="))

  test("ENGINE-enforced auto-compaction bounds generations under many appends " +
      "(VERDICT r14 #1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log7").toString + "/s"
    val src = LogUpsertSource(dir, Seq("id"), autoCompactEvery = 4)
    for (i <- 0 until 12) {
      src.upsert(Seq((i.toLong % 5, s"v$i")).toDF("id", "v"), Seq("id"))
      assert(genCount(dir) <= 4,
        s"generation count ${genCount(dir)} exceeded the policy bound after append $i")
    }
    // 12 appends >> 4-generation bound, latest-wins intact throughout
    val out = src.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(0L -> "v10", 1L -> "v11", 2L -> "v7", 3L -> "v8", 4L -> "v9"))
    // the threshold knob parses strictly and the constructor refuses the
    // degenerate every-append fold
    intercept[IllegalArgumentException](LogUpsertSource(dir, Seq("id"), 1))
    intercept[IllegalArgumentException](
      graft.streaming.Streaming.parsePositiveInt(
        "SPARK_GRAFT_LOG_COMPACT_EVERY", Some("nope"), 32))
  }

  test("insert fails loudly: append semantics cannot hold on a latest-wins store " +
      "(ADVICE r14)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log8").toString + "/s"
    val src = LogUpsertSource(dir, Seq("id"))
    src.upsert(Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    val ex = intercept[UnsupportedOperationException](
      src.insert(Seq((1L, "b"), (1L, "c")).toDF("id", "v")))
    assert(ex.getMessage.contains("upsert"))
    assert(src.read(spark).count() == 1, "failed insert must not have written")
  }

  test("null-key divergence is pinned: the resolve window collapses null keys, " +
      "anti-join stores accumulate them (ADVICE r14, documented not guarded)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log9").toString
    val rows = Seq((Some(1L), "a"), (None, "n1")).toDF("id", "v")
    val rows2 = Seq((None: Option[Long], "n2")).toDF("id", "v")
    val log = LogUpsertSource(s"$dir/log", Seq("id"))
    log.upsert(rows, Seq("id")); log.upsert(rows2, Seq("id"))
    // window groups NULLs: one surviving null-keyed row, the LATEST
    val lv = log.read(spark).filter(col("id").isNull).collect().map(_.getString(1)).toSeq
    assert(lv == Seq("n2"))
    val pq = graft.sources.ParquetSource(s"$dir/pq")
    pq.upsert(rows, Seq("id")); pq.upsert(rows2, Seq("id"))
    // the anti-join never matches NULL = NULL: both null-keyed rows survive
    val pv = pq.read(spark).filter(col("id").isNull).collect().map(_.getString(1)).toSet
    assert(pv == Set("n1", "n2"))
  }

  test("a second writer's nonce in one generation fails reads LOUDLY " +
      "(single-writer contract detection, VERDICT r14 #5)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log10").toString + "/s"
    val src = LogUpsertSource(dir, Seq("id"))
    src.upsert(Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    src.upsert(Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    assert(src.read(spark).count() == 2, "single-writer store reads fine")
    // simulate a foreign process having appended into OUR latest generation
    val gen = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).filter(_.contains("__gen=")).max
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(gen, "_writer_deadbeefcafe"))
    val ex = intercept[IllegalStateException](src.read(spark).count())
    assert(ex.getMessage.contains("two processes appended the same generation"))
  }

  test("TIERED schedule: routine folds are MINOR (tail merged, base generation's " +
      "files untouched — O(tail) physically); the MAJOR rewrite waits until the " +
      "tail reaches the base's size") {
    val dir = java.nio.file.Files.createTempDirectory("graft_log11").toString + "/s"
    val src = LogUpsertSource(dir, Seq("id"), autoCompactEvery = 3)
    src.overwrite((0L until 20000L).map(i => (i, i)).toDF("id", "v")) // big base, gen 0
    def gens() = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString.split("/").last).filter(_.startsWith("__gen=")).sorted.toSeq
    def baseFiles() = {
      val b = java.nio.file.Paths.get(dir, "__gen=0")
      java.nio.file.Files.list(b).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
    }
    val base0 = baseFiles()
    src.upsert(Seq((1L, -1L)).toDF("id", "v"), Seq("id"))
    src.upsert(Seq((2L, -2L)).toDF("id", "v"), Seq("id")) // count 3 -> trigger
    assert(gens().length == 2, s"minor fold should leave base + merged tail: ${gens()}")
    assert(gens().contains("__gen=0"), "minor fold must not renumber the base")
    assert(baseFiles() == base0, "minor fold rewrote the base generation's files")
    val out = src.read(spark)
    assert(out.count() == 20000)
    assert(out.filter(col("id") === 1L).head().getLong(1) == -1L)
    assert(out.filter(col("id") === 2L).head().getLong(1) == -2L)
    assert(out.filter(col("id") === 3L).head().getLong(1) == 3L)
    // another small round: still minor, base still untouched
    src.upsert(Seq((4L, -4L)).toDF("id", "v"), Seq("id"))
    src.upsert(Seq((5L, -5L)).toDF("id", "v"), Seq("id"))
    assert(gens().length <= 3 && gens().contains("__gen=0") && baseFiles() == base0)
    // a tail-sized batch tips the size ratio: the trigger now pays the MAJOR fold
    src.upsert((0L until 25000L).map(i => (i, -i)).toDF("id", "v"), Seq("id"))
    assert(gens().length == 1, s"major fold should rewrite to one generation: ${gens()}")
    val fin = src.read(spark).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fin.size == 25000 && fin(0L) == 0L && fin(1L) == -1L && fin(24999L) == -24999L)
  }
}

/** The LSM-composed store (VERDICT r14 #3): generation-log appends under a
  * hash-bucket layout, so upserts stay O(batch) while point lookups prune
  * to the probed keys' buckets. */
class BucketedLogUpsertSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.sources.BucketedLogUpsertSource

  test("latest generation wins per key; read schema carries no layout columns") {
    val dir = java.nio.file.Files.createTempDirectory("graft_blog1").toString + "/s"
    val src = BucketedLogUpsertSource(dir, Seq("id"), numBuckets = 8)
    src.upsert((0L until 100L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    src.upsert(Seq((7L, "u1"), (200L, "new")).toDF("id", "v"), Seq("id"))
    src.upsert(Seq((7L, "u2")).toDF("id", "v"), Seq("id"))
    val out = src.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 101 && out(7L) == "u2" && out(200L) == "new" && out(3L) == "v3")
    assert(src.read(spark).columns.toSeq == Seq("id", "v"))
  }

  test("appends are O(batch) physically: earlier generations' files untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft_blog2").toString + "/s"
    val src = BucketedLogUpsertSource(dir, Seq("id"), numBuckets = 8)
    src.upsert((0L until 100L).map(i => (i, i * 2)).toDF("id", "v"), Seq("id"))
    def files() = {
      val root = java.nio.file.Paths.get(dir)
      val out = scala.collection.mutable.Map[String, Long]()
      java.nio.file.Files.walk(root).forEach { p =>
        if (java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          out(root.relativize(p).toString) = java.nio.file.Files.getLastModifiedTime(p).toMillis
      }
      out.toMap
    }
    val before = files()
    src.upsert(Seq((7L, -1L)).toDF("id", "v"), Seq("id"))
    val after = files()
    before.foreach { case (f, mtime) =>
      assert(after.get(f).contains(mtime), s"existing file rewritten: $f") }
    assert(after.size > before.size)
  }

  test("point lookups PRUNE to the probed keys' buckets (static partition " +
      "pruning) and return exactly the full-read rows for those keys") {
    val dir = java.nio.file.Files.createTempDirectory("graft_blog3").toString + "/s"
    val src = BucketedLogUpsertSource(dir, Seq("id"), numBuckets = 16)
    // a non-local write lands in the hash buckets; the driver rows of the
    // second write land in the tail bucket, which every lookup also reads
    src.upsert((0L until 400L).map(i => (i, s"v$i")).toDF("id", "v").repartition(2), Seq("id"))
    src.upsert(Seq((7L, "u1")).toDF("id", "v"), Seq("id"))
    val probe = Seq(7L, 31L).toDF("id")
    val pruned = src.readForEntities(spark, probe)
    // semantics: per-key resolution over the pruned sliver equals the full read
    val full = src.read(spark).join(probe, Seq("id"), "left_semi")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = pruned.join(probe, Seq("id"), "left_semi")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == full && got(7L) == "u1" && got(31L) == "v31")
    // physics: the scan's partition filters select ≤2 buckets' partitions
    val scans = PlanScans.fileScans(pruned)
    assert(scans.nonEmpty, "no file scan in the pruned plan")
    val sel = scans.head.selectedPartitions.partitionCount
    val total = PlanScans.fileScans(src.read(spark))
      .head.selectedPartitions.partitionCount
    assert(sel < total, s"lookup scanned $sel of $total partitions — no pruning")
    assert(sel <= 2 + 1, s"two probed keys must touch ≤2 buckets of the bucketed " +
      s"generation plus the tail of the other, got $sel")
  }

  test("auto-compaction folds to ONE generation, preserves the bucket layout, " +
      "and lookups stay pruned after the fold") {
    val dir = java.nio.file.Files.createTempDirectory("graft_blog4").toString + "/s"
    val src = BucketedLogUpsertSource(dir, Seq("id"), numBuckets = 8, autoCompactEvery = 3)
    for (i <- 0 until 7)
      src.upsert(Seq((i.toLong % 4, s"v$i")).toDF("id", "v"), Seq("id"))
    val gens = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString.split("/").last).filter(_.startsWith("__gen="))
    assert(gens.length <= 3, s"auto-compact did not bound generations: ${gens.toSeq}")
    val out = src.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(0L -> "v4", 1L -> "v5", 2L -> "v6", 3L -> "v3"))
    // bucket dirs survive the fold under the newest generation
    val latest = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).filter(_.contains("__gen=")).max
    val buckets = java.nio.file.Files.list(java.nio.file.Paths.get(latest)).toArray
      .map(_.toString.split("/").last).filter(_.startsWith("__bucket="))
    assert(buckets.nonEmpty, "compaction lost the bucket layout")
    val pruned = src.readForEntities(spark, Seq(1L).toDF("id"))
    assert(pruned.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
      .contains(1L -> "v5"))
  }

  test("empty overwrite materializes schema; insert fails loudly; empty probe " +
      "frame returns empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft_blog5").toString + "/s"
    val src = BucketedLogUpsertSource(dir, Seq("id"), numBuckets = 4)
    src.overwrite(Seq((1L, "a")).toDF("id", "v").limit(0))
    assert(src.exists(spark) && src.read(spark).count() == 0)
    assert(src.read(spark).columns.toSeq == Seq("id", "v"))
    intercept[UnsupportedOperationException](src.insert(Seq((1L, "a")).toDF("id", "v")))
    src.upsert(Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    assert(src.readForEntities(spark, Seq.empty[Long].toDF("id")).count() == 0)
    assert(src.readForEntities(spark, Seq(1L).toDF("id")).count() == 1)
    // xxhash64 is type-sensitive: an INT probe against the LONG-keyed store
    // must still land in the right bucket (probes cast to the stored types)
    assert(src.readForEntities(spark, Seq(1).toDF("id")).count() == 1)
  }

  test("TIERED schedule on the LSM store: minor folds keep the base generation's " +
      "bucket files untouched and lookups stay pruned; the major fold still " +
      "preserves the bucket layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_blog6").toString + "/s"
    val src = BucketedLogUpsertSource(dir, Seq("id"), numBuckets = 4, autoCompactEvery = 3)
    src.overwrite((0L until 20000L).map(i => (i, i)).toDF("id", "v"))
    def gens() = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString.split("/").last).filter(_.startsWith("__gen=")).sorted.toSeq
    def baseFiles() = {
      val out = scala.collection.mutable.Map[String, Long]()
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "__gen=0")).forEach { p =>
        if (java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          out(p.toString) = java.nio.file.Files.getLastModifiedTime(p).toMillis
      }
      out.toMap
    }
    val base0 = baseFiles()
    src.upsert(Seq((1L, -1L)).toDF("id", "v"), Seq("id"))
    src.upsert(Seq((2L, -2L)).toDF("id", "v"), Seq("id")) // count 3 -> minor
    assert(gens().length == 2 && gens().contains("__gen=0"))
    assert(baseFiles() == base0, "minor fold rewrote base bucket files")
    // merged tail keeps the bucket layout, so lookups prune across both tiers
    val latest = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).filter(_.contains("__gen=")).max
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(latest)).toArray
      .map(_.toString.split("/").last).exists(_.startsWith("__bucket=")),
      "minor fold lost the bucket layout")
    val got = src.readForEntities(spark, Seq(1L, 3L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == -1L && got(3L) == 3L)
    // size-tipping batch: major fold to one generation, layout preserved
    src.upsert((0L until 25000L).map(i => (i, -i)).toDF("id", "v"), Seq("id"))
    assert(gens().length == 1)
    val latest2 = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).filter(_.contains("__gen=")).max
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(latest2)).toArray
      .map(_.toString.split("/").last).exists(_.startsWith("__bucket=")))
    assert(src.read(spark).count() == 25000)
    assert(src.readForEntities(spark, Seq(24999L).toDF("id"))
      .filter(col("id") === 24999L).head().getLong(1) == -24999L)
  }

  test("a NON-empty upsert writes each batch row exactly once (the empty-" +
      "generation guard must not misread hive partition dirs, which start " +
      "with an underscore, as an empty write and re-emit the batch into one leaf)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_blog9").toString + "/s"
    val src = BucketedLogUpsertSource(dir, Seq("id"), numBuckets = 4, autoCompactEvery = 100)
    src.upsert((0L until 100L).map(i => (i, i * 2)).toDF("id", "v"), Seq("id"))
    // a non-local batch: hash buckets
    src.upsert(spark.range(100, 200).repartition(3).select(col("id"), (col("id") * 2L).as("v")),
      Seq("id"))
    def bucketDirs(gen: String) = java.nio.file.Files.list(java.nio.file.Paths.get(gen)).toArray
      .map(_.toString.split("/").last).filter(_.startsWith("__bucket=")).toSeq
    // raw generation contents: exactly one copy of each batch; the driver
    // rows in the tail bucket only
    for (gen <- Seq(s"$dir/__gen=0", s"$dir/__gen=1"))
      assert(spark.read.parquet(gen).count() == 100,
        s"spurious duplicate rows in $gen - the empty guard misfired")
    assert(bucketDirs(s"$dir/__gen=0") == Seq("__bucket=-1"))
    val gen1 = s"$dir/__gen=1"
    assert(bucketDirs(gen1).length == 4)
    // and every bucketed row sits in the bucket its key hashes to (lookups rely on it)
    val misplaced = spark.read.option("basePath", gen1).parquet(gen1)
      .withColumn("__expect", pmod(xxhash64(col("id")), lit(4L)).cast("int"))
      .filter(col("__bucket") =!= col("__expect")).count()
    assert(misplaced == 0, s"$misplaced rows in the wrong bucket dir")
  }

  test("EMPTY upserts are no-ops — the generation is dropped and its claim " +
      "released (a store's FIRST generation is kept as the schema donor) — " +
      "and reads stay correct through the sequence") {
    val dir = java.nio.file.Files.createTempDirectory("graft_blog7").toString + "/s"
    val src = BucketedLogUpsertSource(dir, Seq("id"), numBuckets = 4, autoCompactEvery = 3)
    src.upsert(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    val empty = Seq((1L, "x")).toDF("id", "v").limit(0)
    // two empty batches reach the threshold: the trigger folds a tail that
    // is entirely empty generations — must not throw 'unable to infer schema'
    src.upsert(empty, Seq("id"))
    src.upsert(empty, Seq("id"))
    val out = src.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "b"))
    src.upsert(Seq((1L, "a2")).toDF("id", "v"), Seq("id"))
    assert(src.read(spark).collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap == Map(1L -> "a2", 2L -> "b"))
  }

  test("the minimum cadence autoCompactEvery=2 holds its generation bound: the " +
      "single-run tail the minor fold cannot shrink escalates to the major") {
    val dir = java.nio.file.Files.createTempDirectory("graft_blog8").toString + "/s"
    import graft.sources.LogUpsertSource
    val src = LogUpsertSource(dir, Seq("id"), autoCompactEvery = 2)
    for (i <- 0 until 8) {
      src.upsert(Seq((i.toLong % 3, s"v$i")).toDF("id", "v"), Seq("id"))
      val n = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
        .map(_.toString.split("/").last).count(_.startsWith("__gen="))
      assert(n <= 2, s"generation count $n exceeded the every=2 bound after append $i")
    }
    assert(src.read(spark).collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap == Map(0L -> "v6", 1L -> "v7", 2L -> "v5"))
  }

  test("a small upsert from a fanned multi-partition frame lands ONE data file " +
      "per generation (file count follows batch bytes, not writer parallelism)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_genfiles").toString + "/s"
    import graft.sources.LogUpsertSource
    val src = LogUpsertSource(dir, Seq("id"), autoCompactEvery = 100)
    src.upsert(spark.range(0, 500).repartition(16)
      .select(col("id"), (col("id") * 2L).as("v")), Seq("id"))
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/__gen=0"))
      .toArray.map(_.toString.split("/").last)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(files.length == 1, s"expected 1 data file in the generation, got ${files.length}")
    assert(src.read(spark).count() == 500)
  }

  private def partFiles(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    java.nio.file.Files.walk(root).forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("part-") && n.endsWith(".parquet")) out += root.relativize(p).toString
    }
    out.toSeq
  }

  test("a small batch of driver rows upserts in ONE job as one tail-bucket file; " +
      "other batches keep ≤ numBuckets files per generation; folds keep " +
      "the bucket layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_blog10").toString + "/s"
    val src = BucketedLogUpsertSource(dir, Seq("id"), numBuckets = 8, autoCompactEvery = 4)
    // a non-local, fanned batch: the bucket exchange bounds its files
    src.upsert(spark.range(0, 400).repartition(6)
      .select(col("id"), (col("id") * 2L).as("v")), Seq("id"))
    val gen0 = partFiles(s"$dir/__gen=0")
    assert(gen0.nonEmpty && gen0.length <= 8, s"gen 0 wrote ${gen0.length} files")
    // driver rows: one job, one file in the tail bucket
    val batch = Seq((3L, -3L), (5L, -5L), (11L, -11L), (1000L, 7L))
    val (_, jobs) = JobCount(spark)(src.upsert(batch.toDF("id", "v"), Seq("id")))
    assert(jobs == 1, s"a local-batch upsert ran $jobs jobs")
    val gen1 = partFiles(s"$dir/__gen=1")
    assert(gen1.length == 1 && gen1.head.startsWith("__bucket=-1/"),
      s"expected one file in the tail bucket, got $gen1")
    // two more appends reach the fold threshold: the fold rewrites through
    // the same layout
    src.upsert(Seq((3L, 33L)).toDF("id", "v"), Seq("id"))
    src.upsert(Seq((4L, 44L)).toDF("id", "v"), Seq("id"))
    val gens = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).filter(_.contains("__gen="))
    assert(gens.length < 4, s"no fold ran: ${gens.toSeq}")
    assert(partFiles(gens.max).forall(f => f.startsWith("__bucket=") &&
      !f.startsWith("__bucket=-1/")), "the fold lost the bucket layout")
    val out = src.read(spark).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 401 && out(3L) == 33L && out(4L) == 44L && out(5L) == -5L &&
      out(1000L) == 7L && out(399L) == 798L)
    assert(src.readForEntities(spark, Seq(3L, 1000L).toDF("id"))
      .filter(col("id").isin(3L, 1000L)).count() == 2)
  }
}

/** Cross-process generation claims: a writer atomically claims its
  * generation number (create-exclusive `_claim_<N>`) before writing, so
  * two processes seeding their counters from the same listing can never
  * interleave files in one generation — concurrent appends land UNIQUE
  * generations, totally ordered by claim order. */
class LogStoreClaimSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.sources.{GenLog, LogUpsertSource}

  for (l <- LogLayouts.both)
    test(LogLayouts.named("a foreign in-flight claim forces the next writer PAST it; the foreign " +
        "write then lands in its own generation and latest-wins spans both", l)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_claim1").toString + "/s"
      val src = l.open(dir, GenLog.defaultAutoCompactEvery)
      src.upsert(Seq((1L, "a")).toDF("id", "v"), Seq("id")) // gen 0
      // another process has CLAIMED generation 1 but not yet written its data
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.create(new org.apache.hadoop.fs.Path(dir, "_claim_1"), false).close()
      // this process 'restarts': its counter re-seeds from the dir listing
      // (max __gen = 0), so WITHOUT the claim protocol it would mint 1 too
      GenLog.resetCountersForTest()
      src.upsert(Seq((2L, "b")).toDF("id", "v"), Seq("id"))
      def gens() = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
        .map(_.toString.split("/").last).filter(_.startsWith("__gen="))
        .map(_.stripPrefix("__gen=").toLong).sorted.toSeq
      assert(gens() == Seq(0L, 2L), s"the claimed generation must be skipped, got ${gens()}")
      // the other process completes its write into its claimed generation
      l.writeGen(Seq((1L, "x")).toDF("id", "v"), s"$dir/__gen=1")
      assert(src.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
        Map(1L -> "x", 2L -> "b"), "latest-wins must span both writers' generations")
      // folds GC the claims of the generations they subsume
      src.compact(spark)
      val claims = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
        .map(_.toString.split("/").last).filter(_.startsWith("_claim_")).sorted.toSeq
      assert(claims == Seq("_claim_3"), s"stale claims must be GC'd with their dirs: $claims")
      assert(src.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
        Map(1L -> "x", 2L -> "b"))
    }

  for (l <- LogLayouts.both)
    test(LogLayouts.named("a fold dest never out-orders a newer foreign append: the resolve orders " +
        "by EFFECTIVE generation (the folded range's upper bound), not dir number", l)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_claim2").toString + "/s"
      // the fold-vs-append race's end state, crafted directly: gen 0 is the
      // base; a foreign append landed as gen 2 AFTER a fold pinned its input
      // (gen 1) but BEFORE the fold's dest (gen 3, claimed above 2) renamed
      // in — dest's marker says it holds history only up to gen 1
      l.writeGen(Seq((1L, "a0")).toDF("id", "v"), s"$dir/__gen=0")
      l.writeGen(Seq((1L, "fresh")).toDF("id", "v"), s"$dir/__gen=2")
      l.writeGen(Seq((1L, "stale")).toDF("id", "v"), s"$dir/__gen=3")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.create(new org.apache.hadoop.fs.Path(s"$dir/__gen=3", "_folded_1_1"), true).close()
      val src = l.open(dir, GenLog.defaultAutoCompactEvery)
      assert(src.read(spark).head().getString(1) == "fresh",
        "dir-number ordering resurrected folded history over a newer foreign append")
      // time travel agrees: state-at-1 is the folded value, state-at-2 the fresh one
      assert(src.readAt(spark, 1L).head().getString(1) == "stale")
      assert(src.readAt(spark, 2L).head().getString(1) == "fresh")
    }

  for (l <- LogLayouts.both)
    test(LogLayouts.named("the MINOR fold splits base/tail by EFFECTIVE order, so after a " +
        "fold-vs-append race it neither excludes the foreign append as 'base' " +
        "nor overclaims its range", l)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_claim3").toString + "/s"
      // race end state: the fold dest (dir 3, effective 1) sits ABOVE the
      // foreign append (dir 2, effective 2) by dir number but BELOW it
      // effectively — a dir-number base/tail split would keep dir 2 as
      // "base" and fold dir 3 into a dest marked up to the newest append,
      // silently resurrecting the stale folded value over "fresh"
      l.writeGen(Seq((1L, "fresh")).toDF("id", "v"), s"$dir/__gen=2")
      l.writeGen(Seq((1L, "stale")).toDF("id", "v"), s"$dir/__gen=3")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.create(new org.apache.hadoop.fs.Path(s"$dir/__gen=3", "_folded_0_1"), true).close()
      val src = l.open(dir, GenLog.defaultAutoCompactEvery)
      src.upsert(Seq((2L, "x1")).toDF("id", "v"), Seq("id"))
      src.upsert(Seq((2L, "x2")).toDF("id", "v"), Seq("id"))
      src.compactTail(spark)
      val out = src.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out == Map(1L -> "fresh", 2L -> "x2"),
        s"the minor fold resurrected folded history over the foreign append: $out")
      // the true base (the fold dest at effective 1) stayed unfolded, so its
      // snapshot point is still exactly readable
      assert(src.readAt(spark, 1L).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap == Map(1L -> "stale"))
    }
}

/** Time travel on the generation log (the Delta `versionAsOf` idea with no
  * jar): every append is a snapshot point, folds subsume their inputs'
  * history, and a readAt strictly inside a folded range fails loudly
  * instead of silently returning the post-fold state. */
class LogStoreTimeTravelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.sources.{LogUpsertSource, BucketedLogUpsertSource}

  test("readAt reconstructs every retained snapshot exactly; snapshots() lists them") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tt1").toString + "/s"
    val src = LogUpsertSource(dir, Seq("id"), autoCompactEvery = 100)
    src.upsert(Seq((1L, "a1"), (2L, "b1")).toDF("id", "v"), Seq("id"))
    src.upsert(Seq((2L, "b2"), (3L, "c1")).toDF("id", "v"), Seq("id"))
    src.upsert(Seq((1L, "a3")).toDF("id", "v"), Seq("id"))
    def at(g: Long) = src.readAt(spark, g).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(src.snapshots(spark) == Seq(0L, 1L, 2L))
    assert(at(0) == Map(1L -> "a1", 2L -> "b1"))
    assert(at(1) == Map(1L -> "a1", 2L -> "b2", 3L -> "c1"))
    assert(at(2) == Map(1L -> "a3", 2L -> "b2", 3L -> "c1"))
    // a future generation reads as latest; pre-history fails loudly
    assert(at(99) == at(2))
    val e = intercept[IllegalArgumentException] { src.readAt(spark, -1L) }
    assert(e.getMessage.contains("no snapshot at or before"))
  }

  test("a fold subsumes its inputs' history: readAt inside the folded range fails " +
      "LOUDLY, points at-or-past its upper bound stay exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tt2").toString + "/s"
    val src = LogUpsertSource(dir, Seq("id"), autoCompactEvery = 100)
    src.upsert(Seq((1L, "a1"), (2L, "b1")).toDF("id", "v"), Seq("id")) // g0
    src.upsert(Seq((2L, "b2")).toDF("id", "v"), Seq("id"))             // g1
    src.upsert(Seq((3L, "c1")).toDF("id", "v"), Seq("id"))             // g2
    src.upsert(Seq((1L, "a4")).toDF("id", "v"), Seq("id"))             // g3
    src.compactTail(spark) // folds g1..g3 into a marked top generation
    def at(g: Long) = src.readAt(spark, g).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(src.snapshots(spark) == Seq(0L, 3L), "base point + the fold's upper bound")
    assert(at(0) == Map(1L -> "a1", 2L -> "b1"), "the untouched base is still exact")
    assert(at(3) == Map(1L -> "a4", 2L -> "b2", 3L -> "c1"))
    val e = intercept[IllegalArgumentException] { src.readAt(spark, 2L) }
    assert(e.getMessage.contains("folded away"), e.getMessage)
    // the MAJOR fold subsumes everything: only its own range survives, and
    // the fold-of-a-fold takes the MIN lo across marked inputs
    src.compact(spark)
    assert(src.snapshots(spark) == Seq(3L))
    assert(at(3) == Map(1L -> "a4", 2L -> "b2", 3L -> "c1"))
    val e2 = intercept[IllegalArgumentException] { src.readAt(spark, 0L) }
    assert(e2.getMessage.contains("folded away"), e2.getMessage)
  }

  for (l <- LogLayouts.both)
    test(LogLayouts.named("a CRASHED fold's leftovers (marked dest + surviving inputs) stay fully " +
        "consistent: reads resolve identically, straddled readAt points are " +
        "TOLERATED while the inputs still cover them, and compact() recovers", l)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_tt4").toString + "/s"
      val src = l.open(dir, 100)
      for (i <- 0 until 4)
        src.upsert(Seq((i.toLong % 2, s"v$i")).toDF("id", "v"), Seq("id"))
      val atTwo = src.readAt(spark, 2L).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // simulate a compact that crashed AFTER rename+marker, BEFORE deleting
      // its inputs: the resolved fold lands as gen 9 marked _folded_0_3 with
      // gens 0..3 still alive
      l.writeGen(src.read(spark), s"$dir/__gen=9")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.create(new org.apache.hadoop.fs.Path(s"$dir/__gen=9", "_folded_0_3"), true).close()
      val expect = Map(0L -> "v2", 1L -> "v3")
      assert(src.read(spark).collect().map(r => r.getLong(0) -> r.getString(1))
        .toMap == expect, "duplicate coverage must resolve to identical values")
      // gen 2 sits strictly inside the dest's folded range, but the surviving
      // inputs still cover [0,2] — the read is exact and must be served
      assert(src.readAt(spark, 2L).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap == atTwo)
      src.compact(spark) // recovery: fold everything, leftovers included
      assert(src.read(spark).collect().map(r => r.getLong(0) -> r.getString(1))
        .toMap == expect)
      // now the inputs are gone: the straddled point fails loudly, as designed
      val e = intercept[IllegalArgumentException] { src.readAt(spark, 2L) }
      assert(e.getMessage.contains("folded away"), e.getMessage)
    }

  test("bucketed log: readAt stays exact across the ENGINE-triggered folds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tt3").toString + "/s"
    val src = BucketedLogUpsertSource(dir, Seq("id"), numBuckets = 4, autoCompactEvery = 3)
    // fold dests consume generation numbers too, so append i's generation
    // is NOT i — record each append's snapshot point (snapshots().last is
    // the just-appended generation, fold or no fold) with the state then
    val expected = scala.collection.mutable.Map[Long, Map[Long, String]]()
    for (i <- 0 until 7) {
      src.upsert(Seq((i.toLong % 3, s"v$i")).toDF("id", "v"), Seq("id"))
      expected(src.snapshots(spark).last) = src.read(spark).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val snaps = src.snapshots(spark)
    assert(snaps.length < 7, s"autoCompactEvery=3 over 7 appends must have folded, got $snaps")
    for (g <- snaps) {
      assert(expected.contains(g), s"retained snapshot $g is not an append point: $snaps")
      val got = src.readAt(spark, g).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == expected(g), s"snapshot $g diverged: $got vs ${expected(g)}")
    }
  }
}

/** The hash-bucketed store (VERDICT r13 #1): per-batch upsert cost must be
  * O(touched buckets), not O(store) — proven here physically (untouched
  * buckets' files byte-identical across an upsert), not just semantically. */
class BucketedStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.sources.BucketedParquetSource

  private def fileBytes(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val out = scala.collection.mutable.Map[String, Seq[Byte]]()
    java.nio.file.Files.walk(root).forEach { p =>
      val name = root.relativize(p).toString
      if (java.nio.file.Files.isRegularFile(p) && !name.endsWith("_SUCCESS")
          && !name.endsWith(".crc"))
        out(name) = java.nio.file.Files.readAllBytes(p).toSeq
    }
    out.toMap
  }

  test("upsert rewrites ONLY touched buckets; others stay byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bstore").toString + "/store"
    val src = BucketedParquetSource(dir, Seq("id"), numBuckets = 16)
    // spread 200 keys over the 16 buckets
    src.upsert((0L until 200L).map(i => (i, s"v$i")).toDF("id", "v"), Seq("id"))
    val before = fileBytes(dir)
    assert(before.nonEmpty)
    // a one-key batch touches exactly one bucket
    src.upsert(Seq((7L, "UPDATED")).toDF("id", "v"), Seq("id"))
    val after = fileBytes(dir)
    val changed = (before.keySet ++ after.keySet).filter(k =>
      before.get(k).map(_ != after.getOrElse(k, Nil)).getOrElse(true) || !after.contains(k))
    // every changed file lives in key 7's bucket dir; all other bucket
    // dirs' files are byte-identical (never opened for write)
    val buckets = changed.map(_.split("/").head).filter(_.startsWith("__bucket="))
    assert(buckets.size == 1, s"upsert touched ${buckets.size} buckets: $buckets")
    val untouched = before.keySet.filter(k => !k.startsWith(buckets.head))
    untouched.foreach(k => assert(after(k) == before(k), s"untouched file rewrote: $k"))
    // and the merge is still exact
    val out = src.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 200)
    assert(out(7L) == "UPDATED"); assert(out(8L) == "v8")
  }

  test("bucketed round trip: read schema has no __bucket; merge semantics exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bstore2").toString + "/s"
    val src = BucketedParquetSource(dir, Seq("k"), numBuckets = 4)
    src.overwrite(Seq(("a", 1), ("b", 2)).toDF("k", "n"))
    src.upsert(Seq(("b", 20), ("c", 3)).toDF("k", "n"), Seq("k"))
    assert(src.read(spark).columns.toSeq == Seq("k", "n"))
    val out = src.read(spark).collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("a" -> 1, "b" -> 20, "c" -> 3))
    // composite upsert keys: bucket key ⊆ keys is accepted…
    src.upsert(Seq(("c", 3)).toDF("k", "n"), Seq("k", "n"))
    // …a bucket key MISSING from the upsert keys is refused loudly
    intercept[IllegalArgumentException](
      src.upsert(Seq(("c", 3)).toDF("k", "n"), Seq("n")))
  }

  test("micro-measure: small-batch upsert cost is flat in store size (opt-in)") {
    // The O(touched)-not-O(store) claim, MEASURED: the same 5-key upsert
    // against a 100k-row and a 1M-row store (64 buckets) must cost about
    // the same — the old whole-store protocol scales it ~10×. Opt-in
    // (SPARK_GRAFT_STORE_MICRO=1): timing-based, so it stays out of the
    // default suite; the byte-identity test above is the deterministic
    // enforcement of the same property. Prints the numbers for SCALE.md.
    assume(sys.env.contains("SPARK_GRAFT_STORE_MICRO"), "opt-in micro-benchmark")
    def timedUpsert(storeRows: Long): Double = {
      val dir = java.nio.file.Files.createTempDirectory("graft_bmicro").toString + "/s"
      val src = BucketedParquetSource(dir, Seq("id"), numBuckets = 64)
      src.overwrite(spark.range(storeRows).select(col("id"),
        (col("id") % 1000).cast("double").as("v")))
      val batch = Seq(1L, 17L, 33L, 49L, 63L).map(i => (i, -1.0)).toDF("id", "v")
      // warm once on a throwaway store-level read so fs caches are hot
      src.read(spark).limit(1).collect()
      val t0 = System.nanoTime()
      src.upsert(batch, Seq("id"))
      (System.nanoTime() - t0) / 1e9
    }
    val small = timedUpsert(100000L)
    val big = timedUpsert(1000000L)
    info(f"5-key upsert: store=100k ${small}%.2fs, store=1M ${big}%.2fs, ratio ${big / small}%.2f")
    println(f"[store-micro] 5-key upsert: 100k=${small}%.2fs 1M=${big}%.2fs ratio=${big / small}%.2f")
    // generous ceiling: a 10x store may cost a LITTLE more (pruned listing,
    // per-bucket row groups grow 10x), but nothing near the 10x an
    // O(store) protocol pays
    assert(big / small < 3.0, f"small-batch upsert scaled with store size: ${big / small}%.2f")
  }

  test("an EMPTY overwrite still materializes a readable schema-bearing store") {
    // the all-empty-input path in runUpsertStream: partitionBy of an empty
    // frame writes no files, so the source must stage the schema itself
    val dir = java.nio.file.Files.createTempDirectory("graft_bstore3").toString + "/s"
    val src = BucketedParquetSource(dir, Seq("k"), numBuckets = 4)
    src.overwrite(Seq(("a", 1)).toDF("k", "n").limit(0))
    assert(src.exists(spark))
    assert(src.read(spark).count() == 0)
    assert(src.read(spark).columns.toSeq == Seq("k", "n"))
    // and a later upsert into the empty store lands
    src.upsert(Seq(("x", 9)).toDF("k", "n"), Seq("k"))
    val out = src.read(spark).collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out == Map("x" -> 9))
  }
}

/** SQL VALUES short-circuit parity (reference sql.py:85-101): a VALUES-only
  * statement must run without touching any contract source. */
class SqlValuesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("VALUES-only statements bypass view registration entirely") {
    val poisoned = FeatureView("boom",
      graft.sources.CustomSource(_ => throw new RuntimeException("source must not be read")),
      entities = Seq(Feature("id", FInt64)))
    val store = new graft.store.ContractStore().addView(poisoned)
    val out = store.executeSql(spark, "VALUES (1, 'x'), (2, 'y')").collect()
    assert(out.length == 2)
    // leading whitespace / case do not defeat the short-circuit
    assert(store.executeSql(spark, "  values (3)").collect().length == 1)
    // a table-referencing statement still registers (and thus throws here)
    assertThrows[RuntimeException](
      store.executeSql(spark, "SELECT * FROM boom").collect())
  }
}

/** Portable HLL: raw-estimator accuracy envelope + the exact union
  * property (register merge = registers of the union). */
class PortableHllSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("estimate lands within the HLL error envelope") {
    // 8000 distinct values, duplicated unevenly — cardinality must not see
    // the duplication
    val vals = (1 to 8000).flatMap(i => Seq.fill(1 + i % 3)(s"tok_$i"))
    val df = vals.map(("g", _)).toDF("g", "v")
    val regs = Aggregations.hllPortableRegisters(df, Seq("g"), "v", lgK = 8)
    val est = Aggregations.hllPortableEstimate(regs, Seq("g"), lgK = 8)
      .collect().head.getAs[Double]("est_distinct")
    // σ ≈ 1.04/√256 ≈ 6.5%; 3σ gate
    assert(math.abs(est - 8000) / 8000 < 0.20, s"est=$est for true 8000")
  }

  test("register rollup equals the registers of the unioned data (exact)") {
    val a = (1 to 3000).map(i => ("a", s"x_$i")).toDF("g", "v")
    val b = (2000 to 5000).map(i => ("b", s"x_$i")).toDF("g", "v")
    val perGroup = Aggregations.hllPortableRegisters(a.union(b), Seq("g"), "v", lgK = 6)
    val merged = Aggregations.hllPortableRollup(perGroup, Nil)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val direct = Aggregations.hllPortableRegisters(
        a.union(b).select(col("v")), Nil, "v", lgK = 6)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(merged == direct)
    // and the merged estimate tracks the true union cardinality (5000)
    val est = Aggregations.hllPortableEstimate(
        Aggregations.hllPortableRollup(perGroup, Nil).withColumn("g", lit("ALL")),
        Seq("g"), lgK = 6)
      .collect().head.getAs[Double]("est_distinct")
    assert(math.abs(est - 5000) / 5000 < 0.40, s"est=$est for true 5000") // σ≈13% at lgK=6
  }

  test("null values do not mint a phantom register") {
    val withNulls = (Seq.fill(5)(Option.empty[String]) ++ (1 to 100).map(i => Some(s"v_$i")))
      .map(("g", _)).toDF("g", "v")
    val clean = (1 to 100).map(i => ("g", s"v_$i")).toDF("g", "v")
    def regs(df: org.apache.spark.sql.DataFrame) =
      Aggregations.hllPortableRegisters(df, Seq("g"), "v", lgK = 6)
        .collect().map(r => (r.getLong(1), r.getInt(2))).toSet
    assert(regs(withNulls) == regs(clean))
  }
}

/** Typed cloud source wrappers (SURVEY §2.1 cloud rows): URI construction,
  * env-indirected credential conf, and delegation to the shared file-source
  * algebra — everything provable without the cloud connectors' jars. */
class CloudSourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import graft.sources._

  test("S3 config builds canonical s3a URIs and per-bucket credential conf") {
    // PATH always exists in the test env — the config carries env-var
    // NAMES (the reference's secret indirection), never secret values
    val cfg = AwsS3Config("my-bucket", region = Some("eu-west-1"),
      accessKeyEnv = Some("PATH"), secretKeyEnv = Some("__GRAFT_ABSENT__"))
    assert(cfg.url("a/b.parquet") == "s3a://my-bucket/a/b.parquet")
    assert(cfg.url("/a/b.parquet") == "s3a://my-bucket/a/b.parquet")
    assert(cfg.parquetAt("x").path == "s3a://my-bucket/x")
    cfg.configure(spark)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(conf.get("fs.s3a.bucket.my-bucket.access.key") == sys.env("PATH"))
    // absent env var: key NOT set → cluster default provider chain wins
    assert(conf.get("fs.s3a.bucket.my-bucket.secret.key") == null)
    assert(conf.get("fs.s3a.bucket.my-bucket.endpoint.region") == "eu-west-1")
  }

  test("Azure config builds abfss URIs and account-scoped key conf") {
    val cfg = AzureBlobConfig("acct", "data", accountKeyEnv = Some("PATH"))
    assert(cfg.url("raw/d.parquet")
      == "abfss://data@acct.dfs.core.windows.net/raw/d.parquet")
    cfg.configure(spark)
    assert(spark.sparkContext.hadoopConfiguration
      .get("fs.azure.account.key.acct.dfs.core.windows.net") == sys.env("PATH"))
  }

  test("cloud delegate shares the file-source write algebra end to end") {
    // delegation proof on a local URI: the S3/Azure wrappers are this
    // exact class pointed at an s3a://-or-abfss:// path
    val dir = java.nio.file.Files.createTempDirectory("graft_cloud").toString + "/t"
    var configured = 0
    val src = CloudDelegateSource(_ => configured += 1, ParquetSource(dir))
    import spark.implicits._
    src.insert(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    src.upsert(Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"))
    val out = src.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "c"))
    assert(configured >= 3, "credentials must be applied before every cloud IO")
  }

  test("delta-through-delegate: credentials apply BEFORE every write, MERGE on the s3a URI") {
    // VERDICT r9 #7 — the newest composition (cfg.deltaAt → CloudDelegateSource
    // wrapping DeltaSource) had no ordering spec. The failure mode this
    // pins: an upsert that touches the object store before configure() ran
    // would authenticate with stale/absent credentials.
    val cfg = AwsS3Config("lake", accessKeyEnv = Some("PATH"))
    val delta = cfg.deltaAt("tables/features")
    assert(delta.inner == DeltaSource("s3a://lake/tables/features"))
    assert(delta.inner.asInstanceOf[DeltaSource]
      .mergeSql("src", Seq("id"))
      .startsWith("MERGE INTO delta.`s3a://lake/tables/features` t USING src s ON "))
    // ordering proof with a recording delegate on a local stand-in path:
    // every write verb must see configure() FIRST
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    val probe = new WritableSource {
      def read(s: org.apache.spark.sql.SparkSession) = { calls += "read"; s.emptyDataFrame }
      override def exists(s: org.apache.spark.sql.SparkSession) = { calls += "exists"; false }
      def insert(df: org.apache.spark.sql.DataFrame): Unit = calls += "insert"
      def overwrite(df: org.apache.spark.sql.DataFrame): Unit = calls += "overwrite"
      def upsert(df: org.apache.spark.sql.DataFrame, keys: Seq[String]): Unit = calls += "upsert"
    }
    val src = CloudDelegateSource(_ => calls += "configure", probe)
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "v")
    src.upsert(df, Seq("id")); src.insert(df); src.overwrite(df)
    src.read(spark); src.exists(spark)
    assert(calls.toSeq == Seq("configure", "upsert", "configure", "insert",
      "configure", "overwrite", "configure", "read", "configure", "exists"))
  }

  test("UC table chain builds the quoted three-part name and MERGE upsert") {
    val tbl = DatabricksConfig().catalog("main").schema("ml").table("feat-v1")
    assert(tbl.fullName == "`main`.`ml`.`feat-v1`")
    assert(!tbl.exists(spark)) // unbound catalog offline → false, not throw
    val sql = tbl.mergeSql("src_view", Seq("id", "ts"))
    assert(sql.startsWith("MERGE INTO `main`.`ml`.`feat-v1` t USING src_view s ON "))
    assert(sql.contains("t.`id` = s.`id` AND t.`ts` = s.`ts`"))
    assert(sql.contains("WHEN MATCHED THEN UPDATE SET *"))
    assert(sql.contains("WHEN NOT MATCHED THEN INSERT *"))
  }
}

/** Store-level model wiring check (reference checks.py). */
class ModelChecksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import graft.core.FeatureType._

  test("checkModelFeatures resolves view schemas, prediction views, and flags the rest") {
    val v = FeatureView("signals", graft.sources.CustomSource(_.emptyDataFrame),
      entities = Seq(Feature("id", FInt64)),
      features = Seq(Feature("clicks", FInt64)),
      derived = Seq(graft.contract.DerivedFeature("ctr", FFloat64,
        graft.expr.Ref("clicks"), Seq("clicks"))))
    val scorer = graft.contract.ModelContract("scorer",
      inputFeatures = Seq("signals:clicks", "signals:ctr"),
      predictionView = Some(FeatureView("scorer_out",
        graft.sources.CustomSource(_.emptyDataFrame),
        entities = Seq(Feature("id", FInt64)),
        features = Seq(Feature("score", FFloat64)))))
    val ranker = graft.contract.ModelContract("ranker",
      inputFeatures = Seq(
        "signals:clicks",      // plain feature — ok
        "signals:ctr",         // derived feature — ok
        "scorer:score",        // another model's prediction view — ok
        "signals:ghost",       // missing feature
        "nosuch:feat",         // missing view
        "malformed"))          // unparseable ref
    val store = new graft.store.ContractStore()
      .addView(v).addModel(scorer).addModel(ranker)
    val report = store.checkModelFeatures()
    assert(report.keySet == Set("ranker"))
    assert(report("ranker") == Seq("signals:ghost", "nosuch:feat", "malformed"))
  }

  test("diffModel classifies input-set, prediction-view and scorer changes") {
    import graft.contract.ContractDiff._
    val pv = FeatureView("out", graft.sources.CustomSource(_.emptyDataFrame),
      entities = Seq(Feature("id", FInt64)),
      features = Seq(Feature("score", FFloat64)))
    val m1 = graft.contract.ModelContract("m",
      inputFeatures = Seq("signals:clicks", "signals:ctr"), predictionView = Some(pv))
    val m2 = m1.copy(inputFeatures = Seq("signals:clicks", "signals:dwell"),
      predictionView = Some(pv.copy(
        features = Seq(Feature("score", FInt64)))))
    val changes = diffModel(m1, m2)
    assert(changes.exists(c => c.severity == Warning &&
      c.what.contains("'signals:ctr' removed")))
    assert(changes.exists(c => c.severity == Warning &&
      c.what.contains("'signals:dwell' added")))
    assert(changes.exists(c => c.severity == Breaking &&
      c.what.contains("prediction view: feature 'score' dtype")))
    assert(diffModel(m1, m1).isEmpty)
    assert(diffModel(m1, m1.copy(predictionView = None))
      .exists(_.severity == Breaking))
  }
}

/** VERDICT r9 #6: the end-to-end curation recipe as a REGISTERED contract —
  * serializable like views/models, executable from the store, and sane on
  * real testdata. */
class CurationRecipeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val recipe = graft.contract.CurationRecipe(
    name = "pretrain_en",
    gopherMinWords = 10,
    nearDupThreshold = 0.5, nearDupBands = 4, nearDupK = 3,
    dsirTargetCol = Some("lang"), dsirTargetValue = "en", dsirKeepPct = 60,
    trainPct = 80,
    description = Some("gate → near-dup keep-best → DSIR(en) → leakage-safe split"))

  test("recipe JSON round trip is total (Some and None fields)") {
    for (r <- Seq(recipe,
        graft.contract.CurationRecipe(name = "defaults"),
        recipe.copy(qualityScoreCol = Some("n_chars"), dsirTargetCol = None,
          description = None),
        recipe.copy(ccnetRefCol = Some("lang"), ccnetRefValue = "en"),
        recipe.copy(decontamCol = Some("source"), decontamValue = "src9",
          decontamN = 3),
        recipe.copy(decontamCol = Some("source"), decontamValue = "src9",
          decontamMode = "excise"))) {
      val json = graft.contract.ContractJson.recipeToJson(r)
      val back = graft.contract.ContractJson.recipeFromValue(
        graft.expr.JsonValue.parseObject(json))
      assert(back == r)
    }
  }

  test("pre-CCNet recipe JSON (no ccnet keys) loads as stage-skipped") {
    val json = graft.contract.ContractJson.recipeToJson(recipe)
      .replace(""""ccnet_ref_col":null,"ccnet_ref_value":"",""", "")
    assert(!json.contains("ccnet"))
    val back = graft.contract.ContractJson.recipeFromValue(
      graft.expr.JsonValue.parseObject(json))
    assert(back == recipe)
  }

  test("pre-decontamination recipe JSON (no decontam keys) loads as stage-skipped") {
    val json = graft.contract.ContractJson.recipeToJson(recipe)
      .replace(
        """"decontam_col":null,"decontam_value":"","decontam_n":5,""" +
          """"decontam_mode":"drop",""", "")
    assert(!json.contains("decontam"))
    val back = graft.contract.ContractJson.recipeFromValue(
      graft.expr.JsonValue.parseObject(json))
    assert(back == recipe)
  }

  test("an empty CCNet reference slice fails loudly, not as a silent no-op") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val r = graft.contract.CurationRecipe(name = "typo", gopherRuleMask = 0L,
      ccnetRefCol = Some("lang"), ccnetRefValue = "nope")
    val e = intercept[IllegalArgumentException] { r.run(docs) }
    assert(e.getMessage.contains("produced no tokens"))
  }

  test("diffRecipe grades a CCNet-stage change as corpus-affecting") {
    import graft.contract.ContractDiff._
    val base = recipe
    val staged = recipe.copy(ccnetRefCol = Some("lang"), ccnetRefValue = "en")
    val changes = diffRecipe(base, staged)
    assert(changes.exists(c => c.severity == Warning &&
      c.what.contains("ccnet reference")))
    // downstream of component formation: selection-stage class, never Breaking
    assert(!isBreakingRecipe(base, staged))
    assert(diffRecipe(staged, staged).isEmpty)
  }

  test("CCNet stage drops exactly the canonical corpus's tail tercile") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // identity gate + no DSIR isolates stage 3b (q171's configuration)
    val base = graft.contract.CurationRecipe(name = "lm", gopherRuleMask = 0L)
    val withLm = base.copy(ccnetRefCol = Some("lang"), ccnetRefValue = "en")
    val all = base.run(docs).select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = withLm.run(docs).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.subsetOf(all) && kept.size < all.size)
    // the dropped set IS the tail of lmQualityPartition over the canonical
    // corpus (reference = its en slice)
    val canonical = docs.join(base.run(docs).select("doc_id"), Seq("doc_id"), "left_semi")
    val tail = graft.ops.TextAnalysis.lmQualityPartition(
        canonical.filter(col("lang") === "en"), canonical, "text", "doc_id")
      .filter(col("part") === "tail").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(all -- kept == tail)
  }

  test("store registry save/load carries recipes next to views and models") {
    val store = new graft.store.ContractStore().addRecipe(recipe)
    val path = java.nio.file.Files.createTempDirectory("graft_recipe").toString + "/registry.json"
    store.saveTo(spark, path)
    val loaded = new graft.store.ContractStore().loadFrom(spark, path)
    assert(loaded.recipes == Map("pretrain_en" -> recipe))
    assert(loaded.recipe("pretrain_en") == recipe)
    // legacy registries (no recipes key) still load
    val legacy = new graft.store.ContractStore()
    val p2 = java.nio.file.Files.createTempDirectory("graft_recipe").toString + "/old.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p2),
      """{"views":[],"models":[]}""")
    assert(legacy.loadFrom(spark, p2).recipes.isEmpty)
  }

  test("materializeRecipe publishes the curated corpus through the store, idempotently") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val store = new graft.store.ContractStore().addRecipe(recipe)
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_recipe_mat").toString + "/curated"
    val sink = graft.sources.ParquetSource(sinkDir)
    store.materializeRecipe(spark, "pretrain_en",
      graft.sources.ParquetSource("/root/testdata/sf0.001/documents.parquet"), sink)
    val first = sink.read(spark).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(first.nonEmpty && first.size < docs.count())
    // second run re-derives identical component/split (md5 routers) and
    // the upsert leaves the store byte-identical in content
    store.materializeRecipe(spark, "pretrain_en",
      graft.sources.ParquetSource("/root/testdata/sf0.001/documents.parquet"), sink)
    val second = sink.read(spark).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(second == first)
  }

  test("recipe executes end-to-end on testdata with the pipeline invariants") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = recipe.run(docs).cache()
    try {
      val rows = out.select("doc_id", "component", "split").collect()
      assert(rows.nonEmpty && rows.length < docs.count())
      // one survivor per component (keep-best canonicalization ran)
      assert(rows.map(_.getLong(1)).distinct.length == rows.length)
      // split is total and binary
      assert(rows.map(_.getString(2)).toSet.subsetOf(Set("train", "test")))
      // every survivor passes the recipe's own gate
      val gated = graft.ops.TextAnalysis.gopherFilter(docs, "text", "doc_id",
          minWords = 10, ruleMask = 63L)
        .filter(col("fail_mask") === 0L).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(rows.map(_.getLong(0)).forall(gated.contains))
      // deterministic: a second run reproduces the exact survivor/split map
      val again = recipe.run(docs).select("doc_id", "split")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(again == rows.map(r => r.getLong(0) -> r.getString(2)).toMap)
      // DSIR stage actually selects: keepPct=100 keeps strictly more (or equal)
      val noDsir = recipe.copy(dsirKeepPct = 100).run(docs).count()
      assert(out.count() <= noDsir)
    } finally { out.unpersist(); () }
  }
}

/** Review fixes for the runtime gates: empty inputs must return an empty
  * store (not a path-does-not-exist crash), and a non-numeric tie column
  * must fail fast at construction, not mid-stream in the state function. */
class GateEdgeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("stagedWindowAggRun on an empty frame returns an empty store with the right schema") {
    val empty = Seq.empty[(java.sql.Timestamp, String, Double)]
      .toDF("ts", "event_type", "value")
    val out = graft.streaming.Streaming.stagedWindowAggRun(
      spark, empty, "ts", "event_type", "value")
    assert(out.columns.toSeq ==
      Seq("window_start", "event_type", "n_events", "sum_value"))
    assert(out.count() == 0)
  }

  test("stagedRestartRecoveryRun: state survives the restart; rows arriving in the outage count once") {
    // 24 rows over 4 hours, 2 keys — chunks=4/holdBack=2 puts the restart
    // mid-corpus, with hour windows straddling the boundary
    val rows = (0 until 24).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 ${i / 6}%02d:${(i % 6) * 10}%02d:00"),
        if (i % 2 == 0) "a" else "b", i.toDouble)
    }.toDF("ts", "k", "v")
    val got = graft.streaming.Streaming.stagedRestartRecoveryRun(
        spark, rows, "ts", "k", "v", chunks = 4, holdBack = 2)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val want = rows.groupBy(window(col("ts"), "1 hour"), col("k"))
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => (r.getStruct(0).getTimestamp(0).getTime / 1000, r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got == want, s"restart-recovered store must equal the static aggregate\n$got\n$want")
  }

  test("stagedRestartRecoveryRun rejects a degenerate restart split") {
    val df = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a", 1.0))
      .toDF("ts", "k", "v")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streaming.stagedRestartRecoveryRun(
        spark, df, "ts", "k", "v", chunks = 3, holdBack = 3)
    }
    assert(e.getMessage.contains("holdBack"))
  }

  test("statefulLatest rejects a non-numeric tie column at construction") {
    val df = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "x"))
      .toDF("ts", "user_id", "event_type")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.Streaming.statefulLatest(df, Seq("user_id"), "ts",
        tieCol = Some("event_type"))
    }
    assert(e.getMessage.contains("must be numeric"))
  }
}

/** Shard-manifest integrity card (q168): the checksum must be independent
  * of row order/partitioning and sensitive to any row-level change. */
class ShardManifestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("checksum is partitioning-invariant and change-sensitive") {
    val df = (1L to 500L).map(i => (i, i % 7, s"text $i")).toDF("id", "shard", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      graft.ml.MLOps.shardManifest(d, "shard", Seq("id", "text"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val base = rows(df)
    assert(base.keySet == (0L to 6L).toSet)
    // any repartitioning / ordering yields the identical manifest
    assert(rows(df.repartition(13)) == base)
    assert(rows(df.orderBy(col("text").desc)) == base)
    // one changed row flips exactly its shard's checksum, not its count
    val tweaked = rows(df.withColumn("text",
      when(col("id") === 42L, lit("TEXT 42")).otherwise(col("text"))))
    assert(tweaked(42L % 7)._1 == base(42L % 7)._1)
    assert(tweaked(42L % 7)._2 != base(42L % 7)._2)
    assert((0L to 6L).filter(_ != 42L % 7).forall(k => tweaked(k) == base(k)))
    // null keys don't poison the sum (concat_ws skips them in both engines)
    val withNull = (1L to 10L).map(i =>
      (i, 0L, if (i == 5) null else s"t$i")).toDF("id", "shard", "text")
    assert(rows(withNull)(0L)._1 == 10L)
  }
}

/** Recipe contract-diff: split-boundary-moving changes must grade Breaking;
  * gate tuning Warning; metadata Info. */
class RecipeDiffSpec extends AnyFunSuite {
  private val base = graft.contract.CurationRecipe(name = "r",
    dsirTargetCol = Some("lang"), dsirTargetValue = "en", dsirKeepPct = 50)

  test("severity grading follows corpus/boundary impact") {
    import graft.contract.ContractDiff._
    assert(diffRecipe(base, base).isEmpty)
    // boundary movers are Breaking
    // ...including the Gopher gate: it is upstream of pair generation, so
    // a gate change can re-form a component and re-roll its split coin
    for (changed <- Seq(base.copy(trainPct = 90),
        base.copy(nearDupThreshold = 0.7), base.copy(nearDupBands = 8),
        base.copy(nearDupK = 5), base.copy(idCol = "id2"),
        base.copy(textCol = "body"), base.copy(gopherMinWords = 50),
        base.copy(gopherRuleMask = 127L))) {
      assert(isBreakingRecipe(base, changed), s"$changed must be Breaking")
    }
    // selection/keep-best tuning is Warning, not Breaking (components and
    // labels are fixed before those stages, so no surviving doc moves)
    for (changed <- Seq(base.copy(dsirKeepPct = 25),
        base.copy(qualityScoreCol = Some("n_chars")))) {
      val ds = diffRecipe(base, changed)
      assert(ds.nonEmpty && !isBreakingRecipe(base, changed), s"$changed")
      assert(ds.forall(_.severity == Warning))
    }
    // metadata/robustness only → Info
    val info = diffRecipe(base, base.copy(ccMaxIter = 50,
      description = Some("tuned")))
    assert(info.nonEmpty && info.forall(_.severity == Info))
  }
}

/** Whitespace-tokenization alignment (review findings): boundary tabs and
  * newlines must not mint phantom tokens anywhere, and the SQL shingle path
  * must agree with the native kernels' Java-trim on dirty text. */
class TokenizationAlignmentSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tokenCountWs: boundary whitespace never counts") {
    val df = Seq(
      ("hello world\n", 2), ("\thello", 1), ("\t", 0), ("", 0),
      ("a  b", 2), ("  spaced  ", 1), ("one", 1))
      .toDF("text", "want")
    val got = df.select(col("want"),
      graft.ops.TextAnalysis.tokenCountWs(col("text")).as("got")).collect()
    got.foreach(r => assert(r.getInt(1) == r.getInt(0), r.toString))
  }

  test("SQL shingles agree with the native kernel on boundary-whitespace text") {
    val df = Seq((1L, "\tfoo bar baz\n"), (2L, "plain text here"), (3L, " x "))
      .toDF("id", "text")
    val both = df.select(col("id"),
        size(graft.ops.Dedup.shingles(col("text"), 2)).as("sql_n"),
        size(graft.ops.Dedup.hashedShingles(col("text"), 2)).as("kernel_n"))
      .collect()
    both.foreach(r => assert(r.getInt(1) == r.getInt(2),
      s"id=${r.getLong(0)}: sql=${r.getInt(1)} kernel=${r.getInt(2)}"))
    // the reviewer's exact scenario: inline simhash (SQL shingles) must
    // equal withSimhash (kernel) on text with a leading tab
    val sigs = graft.ops.Dedup.withSimhash(df, "text", "ksig", k = 2)
      .withColumn("ssig", graft.ops.Dedup.simhash(col("text"), k = 2))
      .collect()
    sigs.foreach(r => assert(r.getAs[Long]("ksig") == r.getAs[Long]("ssig")))
  }

  test("fingerprints ignore boundary whitespace (match their clean forms)") {
    val pairs = Seq(("\thello world\n", "hello world"), (" a  b ", "a b"))
    for ((dirty, clean) <- pairs) {
      val r = Seq((dirty, clean)).toDF("d", "c").select(
        graft.ops.TextAnalysis.fingerprintPortable(col("d")),
        graft.ops.TextAnalysis.fingerprintPortable(col("c")),
        graft.ops.TextAnalysis.fingerprint(col("d")),
        graft.ops.TextAnalysis.fingerprint(col("c"))).collect().head
      assert(r.getLong(0) == r.getLong(1), s"portable: $dirty")
      assert(r.getLong(2) == r.getLong(3), s"xxhash: $dirty")
    }
  }
}
