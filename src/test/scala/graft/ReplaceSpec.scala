package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Every file store replaces its contents through one staged swap: the new
  * contents are written beside the store and swapped over it, so an
  * overwrite whose frame reads the table it replaces keeps the table, and
  * no staging dir outlives the call. */
class ReplaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String = java.nio.file.Files.createTempDirectory("graft_replace").toString
  private def rows = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
  private def byId(df: DataFrame): Map[Long, String] =
    df.collect().map(r => r.getAs[Number]("id").longValue -> r.getAs[String]("v")).toMap
  /** Everything beside the store dir: a finished replace leaves nothing. */
  private def siblings(dir: String): Seq[String] = {
    val f = new java.io.File(dir)
    f.getParentFile.list().filter(_ != f.getName).toSeq
  }

  private val stores: Seq[(String, String => WritableSource)] = Seq(
    "ParquetSource" -> ((d: String) => ParquetSource(d)),
    "PartitionedParquetSource" -> ((d: String) => PartitionedParquetSource(d, Seq("v"))),
    "BucketedParquetSource" -> ((d: String) => BucketedParquetSource(d, Seq("id"), 4)),
    "CsvSource" -> ((d: String) => CsvSource(d)),
    "JsonLinesSource" -> ((d: String) => JsonLinesSource(d)),
    "OrcSource" -> ((d: String) => OrcSource(d))) ++
    LogLayouts.both.map(l => s"${l.name} log store" -> ((d: String) => l.open(d, 32)))

  for ((name, open) <- stores)
    test(s"read-modify-overwrite keeps exactly the filtered rows, no staging left: $name") {
      val dir = tmp() + "/t"
      val src = open(dir)
      src.overwrite(rows)
      src.overwrite(src.read(spark).filter(col("id") > 1))
      assert(byId(src.read(spark)) == Map(2L -> "b", 3L -> "c"))
      assert(siblings(dir).isEmpty, s"left beside the store: ${siblings(dir)}")
    }

  test("read-modify-overwrite keeps exactly the filtered rows, no staging left: " +
      "in-place Caching.compact") {
    val dir = tmp() + "/t"
    rows.write.parquet(dir)
    graft.ops.Caching.compact(spark.read.parquet(dir).filter(col("id") > 1), dir,
      targetRecordsPerFile = 10)
    assert(byId(spark.read.parquet(dir)) == Map(2L -> "b", 3L -> "c"))
    assert(siblings(dir).isEmpty, s"left beside the store: ${siblings(dir)}")
  }

  test("read-modify-overwrite keeps exactly the filtered rows, no staging left: " +
      "SQL INSERT OVERWRITE of a ParquetSource view") {
    val dir = tmp() + "/t"
    ParquetSource(dir).overwrite(rows)
    val store = new graft.store.ContractStore()
    store.addView(graft.contract.FeatureView("t", ParquetSource(dir),
      entities = Seq(graft.contract.Feature("id", graft.core.FeatureType.FInt64)),
      features = Seq(graft.contract.Feature("v", graft.core.FeatureType.FString))))
    store.executeSqlWrite(spark, "INSERT OVERWRITE t SELECT id, v FROM t WHERE id > 1")
    assert(byId(ParquetSource(dir).read(spark)) == Map(2L -> "b", 3L -> "c"))
    assert(siblings(dir).isEmpty, s"left beside the store: ${siblings(dir)}")
  }

  test("an empty first bucketed upsert reads back empty with the batch's schema; " +
      "a second upsert lands") {
    val src = BucketedParquetSource(tmp() + "/t", Seq("id"), 4)
    src.upsert(rows.limit(0), Seq("id"))
    val empty = src.read(spark)
    assert(empty.schema.map(f => f.name -> f.dataType) == rows.schema.map(f => f.name -> f.dataType))
    assert(empty.count() == 0)
    src.upsert(rows, Seq("id"))
    assert(byId(src.read(spark)) == Map(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("an empty bucketed overwrite donates its schema without re-running the frame") {
    // an aggregate whose shuffle is its own job. The write runs 3 jobs (the
    // aggregate's and the bucket repartition's shuffle stages, then the
    // write) and the empty-RDD donor 1; a donor that re-ran the frame
    // would cost 2 (its shuffle stage and its write), 5 in all
    val empty = spark.range(0, 1000, 1, 4).groupBy((col("id") % 10).as("id"))
      .agg(max(col("id").cast("string")).as("v")).filter(col("id") < 0)
    val src = BucketedParquetSource(tmp() + "/t", Seq("id"), 4)
    val (_, jobs) = JobCount(spark)(src.overwrite(empty))
    assert(jobs == 4, s"empty bucketed overwrite ran $jobs jobs")
    assert(src.read(spark).count() == 0)
    assert(src.read(spark).columns.toSeq == Seq("id", "v"))
  }

  for (l <- LogLayouts.both)
    test(LogLayouts.named("a replace drops the replaced generations' cached sizes: a " +
        "small store after a big one pays the major fold once its tail reaches the base", l)) {
      val dir = tmp() + "/s"
      val src = l.open(dir, 3)
      def gens() = new java.io.File(dir).list().filter(_.startsWith("__gen=")).sorted.toSeq
      src.overwrite((0L until 20000L).map(i => (i, s"v$i")).toDF("id", "v"))
      src.upsert(Seq((1L, "x")).toDF("id", "v"), Seq("id"))
      src.upsert(Seq((2L, "y")).toDF("id", "v"), Seq("id")) // trigger: the big base stays
      assert(gens().length == 2, s"minor fold expected under the big base: ${gens()}")
      src.overwrite(Seq((1L, "a")).toDF("id", "v"))
      src.upsert(Seq((2L, "b")).toDF("id", "v"), Seq("id"))
      src.upsert(Seq((3L, "c")).toDF("id", "v"), Seq("id")) // tail ≥ the 1-row base
      assert(gens().length == 1, s"major fold expected over the 1-row base: ${gens()}")
      assert(byId(src.read(spark)) == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    }
}
