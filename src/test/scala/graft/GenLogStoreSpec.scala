package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Both log-store layouts, for specs that run one scenario over each: the
  * store, its layout columns, and a raw generation write in that layout
  * (crash and race end states are crafted directly on disk). */
object LogLayouts {
  final case class Layout(name: String, cols: Seq[String],
      open: (String, Int) => graft.sources.GenLogStore, writeGen: (org.apache.spark.sql.DataFrame, String) => Unit)
  val plain = Layout("plain", Seq("__gen"),
    (dir, every) => graft.sources.LogUpsertSource(dir, Seq("id"), every),
    (df, genDir) => df.write.parquet(genDir))
  val bucketed = Layout("bucketed", Seq("__gen", "__bucket"),
    (dir, every) => graft.sources.BucketedLogUpsertSource(dir, Seq("id"), 4, every),
    (df, genDir) => df.withColumn("__bucket", pmod(xxhash64(col("id")), lit(4L)).cast("int"))
      .write.partitionBy("__bucket").parquet(genDir))
  val both = Seq(plain, bucketed)
  /** The plain layout keeps a spec's historical name; others get a suffix. */
  def named(test: String, l: Layout): String =
    if (l == plain) test else s"$test [${l.name} layout]"
}

/** The generation-log core's schema and job contract: every scan takes its
  * data schema from one parquet footer, so reads, lookups and folds run no
  * schema-inference job, and the footer schema is exactly what stock
  * inference derives. */
class GenLogStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val testdata = "/root/testdata" // TESTDATA.md's fixture root

  private def typed = Seq(
    (1L, "a", 1.5, java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456"), "12.3456"),
    (2L, "b", -2.25, java.sql.Timestamp.valueOf("2024-02-03 04:05:06"), "-0.0001"))
    .toDF("id", "s", "d", "ts", "dec").withColumn("dec", col("dec").cast(DecimalType(18, 4)))

  for (l <- LogLayouts.both)
    test(s"the footer schema equals stock inference, ${l.name} layout (long, string, " +
        "double, timestamp, decimal(18,4)), from the empty schema donor on") {
      val dir = java.nio.file.Files.createTempDirectory("graft_footer").toString + "/s"
      val src = l.open(dir, 100)
      def check(stage: String): Unit = {
        val stock = spark.read.parquet(dir).schema
        val data = StructType(stock.filterNot(f => l.cols.contains(f.name)))
        assert(src.read(spark).schema == data, s"$stage: read schema vs stock")
        assert(src.readAt(spark, src.snapshots(spark).last).schema == data, stage)
      }
      src.upsert(typed.limit(0), Seq("id")) // the first generation: schema donor only
      assert(src.read(spark).count() == 0)
      check("empty schema donor")
      src.upsert(typed, Seq("id"))
      check("donor + data")
      src.compactTail(spark); src.compact(spark)
      check("folded")
      assert(src.read(spark).orderBy("id").collect().toSeq == typed.orderBy("id").collect().toSeq)
    }

  test("store opens run no schema-inference job: storedSchema and read launch none, " +
      "readForEntities only its bucket-id collect") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jobs").toString
    val lsm = graft.sources.BucketedLogUpsertSource(s"$dir/lsm", Seq("id"), numBuckets = 16,
      autoCompactEvery = 100)
    val log = graft.sources.LogUpsertSource(s"$dir/log", Seq("id"), autoCompactEvery = 100)
    for (g <- 0 until 3; s <- Seq(lsm, log))
      s.upsert((0L until 50L).map(i => (i, s"v$g")).toDF("id", "v"), Seq("id"))
    // the serving call shape: a local frame of probe keys
    val probe = spark.createDataFrame(java.util.Arrays.asList(Seq(1L, 7L, 31L).map(Row(_)): _*),
      StructType(Seq(StructField("id", LongType))))
    assert(JobCount(spark)(lsm.read(spark))._2 == 0)
    assert(JobCount(spark)(log.read(spark))._2 == 0)
    assert(JobCount(spark)(log.readAt(spark, 1L))._2 == 0)
    val (pruned, jobs) = JobCount(spark)(lsm.readForEntities(spark, probe))
    // the local probe's bucket ids are evaluated while optimizing and
    // deduped on the driver; no schema-inference job runs either
    assert(jobs == 0, s"readForEntities ran $jobs jobs")
    assert(pruned.filter(col("id") === 7L).head().getString(1) == "v2")
  }

  test("SparkEntry.t opens every testdata table with stock inference's schema and no job") {
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.get(nanos)
    try for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"$testdata/$sf"
      val names = new java.io.File(dir).list().filter(_.endsWith(".parquet"))
        .map(_.stripSuffix(".parquet")).sorted
      assert(names.contains("events"), s"$dir: no events table")
      for (name <- names; nanosAsLong <- Seq("true", "false")) {
        spark.conf.set(nanos, nanosAsLong)
        def stock = spark.read.parquet(s"$dir/$name.parquet").schema
        // the cache key carries the nanos conf: a TIMESTAMP(NANOS) column
        // converts (or fails) under each setting exactly as stock does
        scala.util.Try(stock).toOption match {
          case Some(expected) =>
            val (df, jobs) = JobCount(spark)(SparkEntry.t(spark, dir, name))
            assert(df.schema == expected, s"$sf/$name nanosAsLong=$nanosAsLong")
            assert(jobs == 0, s"$sf/$name: $jobs jobs to open")
          case None =>
            assert(scala.util.Try(SparkEntry.t(spark, dir, name)).isFailure,
              s"$sf/$name nanosAsLong=$nanosAsLong: stock fails, t must too")
        }
      }
    } finally spark.conf.set(nanos, before)
    // so a registry query over single-file tables builds its frame jobless
    assert(JobCount(spark)(SparkEntry.queries("q1_pricing_summary")(
      spark, s"$testdata/sf0.001"))._2 == 0)
  }
}
