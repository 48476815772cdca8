package graft

import graft.contract._
import graft.core.FeatureType._
import graft.expr.{Lit, Ref}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** One contract chain for every path into a view: a batch read, the
  * bucket-pruned online lookup, a stream micro-batch and a SQL write all
  * conform through `FeatureView.conform`, so the same rows come out with
  * the same column types and values. */
class ConformSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = java.nio.file.Files.createTempDirectory("graft_conform").toString

  /** a mapping-key rename (lbl → label), a missing column with a default
    * (region), a JSON-string array (tags), a castable mismatch
    * (score: string → double) and a derived feature (score2) */
  private def view(name: String, src: graft.sources.BatchSource) = FeatureView(name, src,
    entities = Seq(Feature("id", FInt64)),
    features = Seq(Feature("label", FString), Feature("tags", FArray(FString)),
      Feature("score", FFloat64), Feature("region", FString, defaultValue = Some("eu"))),
    derived = Seq(DerivedFeature("score2", FFloat64, Ref("score") * Lit(2.0), Seq("score"))),
    eventTimestamp = Some(EventTimestamp("ts")),
    mappingKeys = Map("lbl" -> "label"))

  private val rawSchema = StructType(Seq(StructField("id", LongType),
    StructField("lbl", StringType), StructField("tags", StringType),
    StructField("score", StringType), StructField("ts", TimestampType)))
  private def raw(ids: Seq[Long]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(ids.map(i => Row(i, s"l$i", s"""["a$i","b"]""", s"$i.5",
      new java.sql.Timestamp(i * 1000L))): _*), rawSchema)

  private val cols = Seq("id", "label", "tags", "score", "region", "score2")
  private val expectedTypes = Seq(LongType, StringType, ArrayType(StringType), DoubleType,
    StringType, DoubleType)
  private val expected = Set(
    (1L, "l1", Seq("a1", "b"), 1.5, "eu", 3.0),
    (2L, "l2", Seq("a2", "b"), 2.5, "eu", 5.0))

  private def check(path: String, df: DataFrame): Unit = {
    val out = df.select(cols.head, cols.tail: _*)
    assert(out.schema.map(_.dataType) == expectedTypes, s"$path: ${out.schema.simpleString}")
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2),
      r.getDouble(3), r.getString(4), r.getDouble(5))).toSet
    assert(rows == expected, s"$path: $rows")
  }

  test("batch read, bucketed online lookup, stream batch and SQL write conform alike") {
    val dir = tmp()

    val parquet = graft.sources.ParquetSource(s"$dir/batch")
    raw(Seq(1L, 2L)).write.parquet(parquet.path)
    val store = new graft.store.ContractStore().addView(view("batch", parquet))
    check("baseWithDerived", store.view("batch").baseWithDerived(spark))

    // filler rows beside the probed keys, so the key filter is observable
    val lsm = graft.sources.BucketedLogUpsertSource(s"$dir/lsm", Seq("id"), 16)
    lsm.upsert(raw(Seq(1L, 2L) ++ (100L until 140L)), Seq("id"))
    store.addView(view("online", lsm))
    val online = store.onlineFeaturesFor(spark, Seq(1L, 2L).toDF("id"),
      Seq("label", "tags", "score", "region", "score2").map("online:" + _))
    check("onlineFeaturesFor", online)
    // only the bucketed fast path answers driver rows with a local frame
    assert(graft.sources.DriverRows.isLocal(online),
      "the lookup did not take the bucket-pruned path")

    raw(Seq(1L, 2L)).write.parquet(s"$dir/stream")
    val q = graft.streaming.Streaming.contractPipeline(view("stream", parquet))(
        graft.streaming.Streaming.fileStream(spark, s"$dir/stream", rawSchema))
      .writeStream.format("memory").queryName("conform_stream").start()
    try q.processAllAvailable() finally q.stop()
    check("contractPipeline", spark.table("conform_stream"))

    // a SQL write carries contract names (it may not widen the contract),
    // omits the defaulted column and writes tags as a JSON string
    store.addView(view("sqlw", graft.sources.ParquetSource(s"$dir/sqlw")))
    store.executeSqlWrite(spark, """INSERT INTO sqlw
      SELECT 1L AS id, 'l1' AS label, '["a1","b"]' AS tags, '1.5' AS score,
        timestamp_seconds(1) AS ts
      UNION ALL SELECT 2L, 'l2', '["a2","b"]', '2.5', timestamp_seconds(2)""")
    // on disk already contract-typed, in declaration order, without score2
    assert(spark.read.parquet(s"$dir/sqlw").schema.map(f => f.name -> f.dataType) ==
      Seq("id", "label", "tags", "score", "region").zip(expectedTypes) :+ ("ts" -> TimestampType))
    check("executeSqlWrite", store.view("sqlw").baseWithDerived(spark))
  }

  test("a SQL write target shows the same columns before and after its first INSERT") {
    val store = new graft.store.ContractStore().addView(FeatureView("sqlshape",
      graft.sources.ParquetSource(s"${tmp()}/sqlshape"),
      entities = Seq(Feature("id", FInt64)), features = Seq(Feature("x", FFloat64)),
      derived = Seq(DerivedFeature("x2", FFloat64, Ref("x") * Lit(2.0), Seq("x")))))
    def columns = store.executeSql(spark, "SELECT * FROM sqlshape").columns.toSeq
    assert(columns == Seq("id", "x", "x2"), "before the first INSERT")
    store.executeSqlWrite(spark, "INSERT INTO sqlshape SELECT 1L AS id, 1.5D AS x")
    assert(columns == Seq("id", "x", "x2"), "after the first INSERT")
  }
}
