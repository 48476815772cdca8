package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Micro-measurement main for the log-structured stores (BENCH_NOTES
  * discipline, VERDICT r14 #1/#3): drives many more micro-batch appends
  * than any oracle gate does (the gates run 3-8) and prints per-step JSON
  * so the round notes can show, with numbers:
  *   1. WITHOUT auto-compaction, log-store read cost grows with total
  *      emissions (every generation flows through the resolve window);
  *   2. WITH the engine-enforced policy, read cost stays flat across a
  *      10× append range while generations stay bounded;
  *   3. on the LSM-composed store, POINT-LOOKUP cost stays flat in store
  *      size (bucket pruning), while the full resolve grows linearly.
  *
  * Usage: runMain graft.StoreMicro [appends] [rowsPerBatch]
  * Output: one JSON line per step: {"scenario":…,"appends":N,"gens":G,
  * "read_sec":…,"lookup_sec":…} — driven manually, not by the driver. */
object StoreMicro {
  private def time[T](body: => T): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val appends = args.lift(0).map(_.toInt).getOrElse(40)
    val rows = args.lift(1).map(_.toInt).getOrElse(20000)
    val spark = Session.local()
    val work = java.nio.file.Files.createTempDirectory("graft_storemicro").toString

    def batch(i: Int) = spark.range(rows.toLong)
      .select((col("id") * 7 + i).as("id"), (col("id") + i).cast("double").as("v"))

    def run(scenario: String, src: graft.sources.WritableSource,
        lookup: Option[SparkSession => Double]): Unit = {
      val storePath = src match {
        case s: graft.sources.LogUpsertSource => s.path
        case s: graft.sources.BucketedLogUpsertSource => s.path
        case s => sys.error(s"StoreMicro drives the log stores only, got $s")
      }
      val every = math.max(1, appends / 10)
      for (i <- 0 until appends) {
        src.upsert(batch(i), Seq("id"))
        if ((i + 1) % every == 0 || i == appends - 1) {
          val readSec = time(src.read(spark).write.format("noop").mode("overwrite").save())
          val gens = graft.sources.GenLog.genDirs(spark, storePath).length
          val lookupSec = lookup.map(f => f(spark))
          println(s"""{"scenario":"$scenario","appends":${i + 1},"gens":$gens,""" +
            s""""read_sec":${f"$readSec%.3f"}""" +
            lookupSec.map(l => s""","lookup_sec":${f"$l%.3f"}""").getOrElse("") + "}")
        }
      }
    }

    // 1. unbounded log (policy effectively off): read cost tracks emissions
    run("log_no_policy",
      graft.sources.LogUpsertSource(s"$work/log_off", Seq("id"), autoCompactEvery = 1000000),
      None)
    // 2. engine-enforced policy at the default-ish width: read cost flat
    run("log_policy_8",
      graft.sources.LogUpsertSource(s"$work/log_on", Seq("id"), autoCompactEvery = 8),
      None)
    // 3. LSM-composed store: point lookup flat in store size
    val lsm = graft.sources.BucketedLogUpsertSource(s"$work/lsm", Seq("id"),
      numBuckets = 32, autoCompactEvery = 8)
    val probe = spark.range(16).select((col("id") * 7).as("id"))
    run("lsm_policy_8", lsm, Some(s =>
      time(lsm.readForEntities(s, probe).write.format("noop").mode("overwrite").save())))
    spark.stop()
  }
}
