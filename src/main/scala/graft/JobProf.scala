package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import scala.util.control.NonFatal

/** Dev tool: run selected queries once (noop sink, same session shape as
  * [[Bench]]) with a listener that prints every Spark JOB's wall time and
  * call site to stderr — the per-stage decomposition for multi-job
  * operators (recipes, CC loops, staged gates) that a single plan dump
  * cannot show. Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... \
  *     sbt "runMain graft.JobProf q178_curation_funnel"
  * Not part of the bench contract; measurement only.
  */
object JobProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // attribution: the job's call site rides the STAGE info, not the
        // local properties (which only carry an explicit description)
        val site = js.stageInfos.sortBy(-_.stageId).headOption
          .map(_.details.linesIterator.filterNot(_.contains("org.apache.spark"))
            .take(2).mkString(" <- ").trim).filter(_.nonEmpty)
          .getOrElse(Option(js.properties.getProperty("spark.job.description"))
            .getOrElse("?"))
        starts.put(js.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (t0, cs) =>
          System.err.println(
            f"[jobprof] job=${je.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3fs  $cs")
        }
    })
    // same warmup as Bench so job times aren't session startup
    for (tbl <- Seq("orders", "lineitem", "events", "documents", "embeddings")) {
      try spark.read.parquet(s"$sfDir/$tbl.parquet")
        .write.format("noop").mode("overwrite").save()
      catch { case NonFatal(_) => () }
    }
    args.foreach { n =>
      System.err.println(s"\n########## $n ##########")
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      System.err.println(f"[jobprof] TOTAL $n ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
