package graft

import graft.contract._
import graft.core.FeatureType
import graft.core.FeatureType._
import graft.sources.{BucketedLogUpsertSource, DriverRows}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Level 0 of the bucketed log store: small upserts of driver rows land as
  * one file in the tail bucket (`__bucket=-1`), every lookup reads the tail
  * beside its probed buckets, the folds re-bucket the tail, and a lookup of
  * driver rows is answered on the driver. */
class TailBucketSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(): String = java.nio.file.Files.createTempDirectory("graft_tail").toString

  private def rows(schema: StructType, rs: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)

  /** Data files under `dir`, relative to it. */
  private def partFiles(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    java.nio.file.Files.walk(root).forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("part-") && n.endsWith(".parquet")) out += root.relativize(p).toString
    }
    out.toSeq
  }
  private def gens(dir: String): Seq[String] =
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).filter(_.contains("__gen=")).toSeq
      .sortBy(_.split("__gen=").last.toLong)

  /** One key shape: its columns, the declared entity types, a key maker,
    * and the probe cast that makes a type-coerced probe (if any). */
  private final case class Shape(name: String, cols: Seq[(String, DataType, FeatureType)],
      key: Int => Seq[Any], coerce: Option[DataFrame => DataFrame])

  private val shapes = Seq(
    Shape("int", Seq(("id", IntegerType, FInt32)), i => Seq(i),
      Some(_.withColumn("id", col("id").cast(ShortType)))),
    Shape("long", Seq(("id", LongType, FInt64)), i => Seq(i.toLong),
      Some(_.withColumn("id", col("id").cast(ShortType)))),
    Shape("string", Seq(("id", StringType, FString)), i => Seq(s"k$i"), None),
    Shape("date", Seq(("day", DateType, FDate)),
      i => Seq(java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))), None),
    Shape("composite", Seq(("id", LongType, FInt64), ("region", StringType, FString)),
      i => Seq(i.toLong, s"r${i % 3}"), Some(_.withColumn("id", col("id").cast(IntegerType)))))

  private def keyNames(s: Shape) = s.cols.map(_._1)
  private def keySchema(s: Shape) = StructType(s.cols.map { case (n, t, _) => StructField(n, t) })
  private def dataSchema(s: Shape) = StructType(keySchema(s).fields ++ Seq(
    StructField("ts", TimestampType), StructField("score", DoubleType)))
  /** Generation `g`'s rows for keys `is`: a later generation carries a
    * later event time and a distinct score. */
  private def batch(s: Shape, is: Seq[Int], g: Int): Seq[Row] = is.map(i =>
    Row.fromSeq(s.key(i) ++ Seq(new java.sql.Timestamp(g * 1000L), i + g / 10.0)))

  private def view(s: Shape, src: graft.sources.BatchSource) = FeatureView(s"v_${s.name}", src,
    entities = s.cols.map { case (n, _, t) => Feature(n, t) },
    features = Seq(Feature("score", FFloat64)), eventTimestamp = Some(EventTimestamp("ts")))

  for (s <- shapes)
    test(s"${s.name} keys: a tail row is found, and lookups equal the full-scan path over a " +
        "mixed tail and bucketed store, across a minor and a major fold") {
      val dir = tmp()
      val lsm = BucketedLogUpsertSource(s"$dir/lsm", keyNames(s), 8, autoCompactEvery = 100)
      val store = new graft.store.ContractStore().addView(view(s, lsm))
      val ref = Seq(s"v_${s.name}:score")
      val keys = keyNames(s)
      def snap(df: DataFrame) =
        df.select((keys :+ "score").map(col): _*).collect().map(_.toSeq.mkString("|")).sorted.toSeq
      def probe(is: Seq[Int]) = rows(keySchema(s), is.map(i => Row.fromSeq(s.key(i))))
      val nullProbes = rows(keySchema(s), keys.indices.map(n =>
        Row.fromSeq(s.key(1).zipWithIndex.map { case (v, j) => if (j == n) null else v })) ++
        Seq(Row.fromSeq(s.key(3))))
      def check(phase: String): Unit = {
        // the full-scan path: every row conformed, latest per key, joined
        val latest = store.view(s"v_${s.name}").baseWithDerived(spark)
          .withColumn("rn", row_number().over(Window.partitionBy(keys.map(col): _*)
            .orderBy(col("ts").desc)))
          .filter(col("rn") === 1).select((keys :+ "score").map(col): _*)
        def same(name: String, p: DataFrame, maxInline: Int = 1024) = {
          val got = snap(store.onlineFeaturesFor(spark, p, ref, maxInline))
          assert(got == snap(p.join(latest, keys, "left")), s"${s.name}, $phase, $name")
          got
        }
        val found = same("distinct", probe(Seq(0, 3, 7, 59, 200, 999)))
        assert(found.count(_.endsWith("|null")) == 1, s"$phase: only key 999 is absent: $found")
        assert(same("duplicates", probe(Seq(3, 3, 7, 3, 999))).length == 5)
        assert(same("null keys", nullProbes).count(_.endsWith("|null")) == keys.length)
        assert(same("empty", probe(Nil)).isEmpty)
        assert(same("overflow", probe(0 until 30), maxInline = 10).length == 30)
        same("non-local", probe(Seq(0, 3, 7, 59, 200, 999)).repartition(2))
        same("non-local overflow", probe(0 until 30).repartition(2), maxInline = 10)
        s.coerce.foreach(c => same("type-coerced", c(probe(Seq(4, 8, 200, 999)))))
      }
      // generation 0: written non-locally, so into the hash buckets
      lsm.upsert(rows(dataSchema(s), batch(s, 0 until 60, 0)).repartition(2), keys)
      // generation 1: driver rows, so into the tail; key 200 lives only there
      lsm.upsert(rows(dataSchema(s), batch(s, (0 until 60 by 2) :+ 200, 1)), keys)
      assert(partFiles(gens(lsm.path).last).map(_.split("/").head) == Seq("__bucket=-1"))
      val tailRow = store.onlineFeaturesFor(spark, probe(Seq(200)), ref).collect()
      assert(tailRow.length == 1 && tailRow.head.getAs[Double]("score") == 200.1,
        s"the tail row of key 200 was not found: ${tailRow.toSeq}")
      check("bucketed + tail")
      lsm.upsert(rows(dataSchema(s), batch(s, 0 until 60 by 3, 2)), keys)
      lsm.compactTail(spark)
      assert(gens(lsm.path).length == 2)
      check("after a minor fold")
      lsm.upsert(rows(dataSchema(s), batch(s, 0 until 60 by 5, 3)), keys)
      check("minor fold + tail")
      lsm.compact(spark)
      assert(gens(lsm.path).length == 1)
      check("after a major fold")
      lsm.upsert(rows(dataSchema(s), batch(s, 0 until 60 by 7, 4)), keys)
      check("major fold + tail")
    }

  test("a fold leaves no tail bucket: the minor fold's generation and, after the major " +
      "fold, the whole store hold only hash buckets") {
    val dir = tmp()
    val s = shapes.find(_.name == "long").get
    val lsm = BucketedLogUpsertSource(s"$dir/lsm", Seq("id"), 4, autoCompactEvery = 100)
    lsm.upsert(rows(dataSchema(s), batch(s, 0 until 200, 0)), Seq("id"))
    for (g <- 1 to 3) lsm.upsert(rows(dataSchema(s), batch(s, Seq(g, 500 + g), g)), Seq("id"))
    assert(gens(lsm.path).forall(g => partFiles(g).forall(_.startsWith("__bucket=-1/"))),
      "every driver-row upsert should have landed in the tail")
    lsm.compactTail(spark)
    val minor = gens(lsm.path).last
    assert(partFiles(minor).nonEmpty && partFiles(minor).forall(f =>
      f.startsWith("__bucket=") && !f.startsWith("__bucket=-1/")), partFiles(minor))
    lsm.compact(spark)
    assert(gens(lsm.path).length == 1)
    assert(partFiles(lsm.path).forall(f => !f.contains("__bucket=-1")), partFiles(lsm.path))
    // every row now sits in the bucket its key hashes to
    val g = gens(lsm.path).head
    assert(spark.read.option("basePath", g).parquet(g)
      .filter(col("__bucket") =!= pmod(xxhash64(col("id")), lit(4L)).cast("int")).count() == 0)
    val out = lsm.read(spark).collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.size == 203 && out(2L) == 2.2 && out(503L) == 503.3 && out(7L) == 7.0)
  }

  test("a batch of driver rows planned over the tail bound keeps one file per touched bucket") {
    val dir = tmp()
    val lsm = BucketedLogUpsertSource(s"$dir/lsm", Seq("id"), 8, autoCompactEvery = 100)
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", LongType)))
    val perRow = rows(schema, Seq(Row(0L, 0L))).queryExecution.optimizedPlan.stats.sizeInBytes
    val n = (BucketedLogUpsertSource.TailBatchBytes / perRow.toLong + 1).toInt
    val big = rows(schema, (0 until n).map(i => Row(i.toLong, -i.toLong)))
    assert(DriverRows.isLocal(big) &&
      big.queryExecution.optimizedPlan.stats.sizeInBytes >= BucketedLogUpsertSource.TailBatchBytes)
    lsm.upsert(big, Seq("id"))
    val files = partFiles(s"${lsm.path}/__gen=0")
    assert(files.map(_.split("/").head).sorted == (0 until 8).map(b => s"__bucket=$b"),
      s"expected one file in each of the 8 buckets, got $files")
    assert(lsm.read(spark).count() == n)
  }

  test("a driver-row lookup is answered when it is called: its collect runs no job") {
    val dir = tmp()
    val s = shapes.find(_.name == "long").get
    val lsm = BucketedLogUpsertSource(s"$dir/lsm", Seq("id"), 8)
    lsm.upsert(rows(dataSchema(s), batch(s, 0 until 100, 0)).repartition(2), Seq("id"))
    lsm.upsert(rows(dataSchema(s), batch(s, Seq(5, 300), 1)), Seq("id"))
    val store = new graft.store.ContractStore().addView(view(s, lsm))
    val probe = rows(StructType(Seq(StructField("id", LongType), StructField("tag", StringType))),
      Seq(Row(5L, "a"), Row(300L, "b"), Row(9L, "c"), Row(9L, "d"), Row(777L, "e")))
    val df = store.onlineFeaturesFor(spark, probe, Seq("v_long:score"))
    assert(df.columns.toSeq == Seq("id", "tag", "score"))
    val (got, jobs) = JobCount(spark)(df.collect())
    assert(jobs == 0, s"collect ran $jobs jobs")
    assert(got.map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSeq.sortBy(_._2) ==
      Seq((5L, "a", Some(5.1)), (300L, "b", Some(300.1)), (9L, "c", Some(9.0)),
        (9L, "d", Some(9.0)), (777L, "e", None)))
  }

  test("a non-local and an overflowing lookup on the bucketed store each plan one " +
      "row_number window, the generation resolve, and equal the full-scan path") {
    val dir = tmp()
    val s = shapes.find(_.name == "long").get
    val lsm = BucketedLogUpsertSource(s"$dir/lsm", Seq("id"), 8, autoCompactEvery = 100)
    lsm.upsert(rows(dataSchema(s), batch(s, 0 until 100, 0)).repartition(2), Seq("id"))
    lsm.upsert(rows(dataSchema(s), batch(s, Seq(5, 300), 1)), Seq("id"))
    val store = new graft.store.ContractStore().addView(view(s, lsm))
    val latest = store.view("v_long").baseWithDerived(spark)
      .withColumn("rn", row_number().over(Window.partitionBy("id").orderBy(col("ts").desc)))
      .filter(col("rn") === 1).select("id", "score")
    def snap(df: DataFrame) = df.select("id", "score").collect().map(_.toSeq).toSet
    def windows(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.length
    val keys = (0 until 30).map(_.toLong) ++ Seq(300L, 999L)
    val probe = rows(StructType(Seq(StructField("id", LongType))), keys.map(Row(_)))
    for ((name, p, maxInline) <- Seq(("non-local", probe.repartition(2), 1024),
        ("overflowing", probe, 10))) {
      val df = store.onlineFeaturesFor(spark, p, Seq("v_long:score"), maxInline)
      assert(windows(df) == 1, s"$name: ${df.queryExecution.optimizedPlan}")
      assert(snap(df) == snap(p.join(latest, Seq("id"), "left")), name)
    }
  }

  for (name <- Seq("int", "date", "composite", "long"))
    test(s"a new key set compiles no class for $name keys, on the bucketed and a plain store") {
      val s = shapes.find(_.name == name).get
      val dir = tmp()
      val lsm = BucketedLogUpsertSource(s"$dir/lsm", keyNames(s), 8)
      lsm.upsert(rows(dataSchema(s), batch(s, 0 until 100, 0)).repartition(2), keyNames(s))
      val pq = graft.sources.ParquetSource(s"$dir/pq")
      pq.overwrite(rows(dataSchema(s), batch(s, 0 until 100, 0)))
      val store = new graft.store.ContractStore().addView(view(s, lsm))
        .addView(view(s, pq).copy(name = s"p_$name"))
      def lookup(viewName: String, is: Seq[Int]) = store.onlineFeaturesFor(spark,
        rows(keySchema(s), is.map(i => Row.fromSeq(s.key(i)))), Seq(s"$viewName:score")).collect()
      for (v <- Seq(s"v_$name", s"p_$name")) {
        // warm: the first lookup may compile its classes
        lookup(v, Seq(1, 2, 3, 4, 5))
        // new key sets, of the same size and of a smaller one
        for (is <- Seq(Seq(7, 11, 13, 17, 19), Seq(23, 29, 31))) {
          val (got, compiled) = CompileCount(spark)(lookup(v, is))
          assert(got.length == is.length && got.forall(r => !r.isNullAt(r.fieldIndex("score"))))
          assert(compiled == 0, s"$v: the key set $is compiled $compiled classes")
        }
      }
    }
}
