package graft.ml

import graft.expr.JsonValue.quote
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted train/test/validate dataset artifacts (reference:
  * TrainTestJob store/load via schemas/folder.py DatasetStore +
  * InMemorySplitCacheJob, retrieval_job.py:145-707, 1647-1681): each split
  * written once as parquet under a dataset id, with a small JSON manifest so
  * later sessions can reload exactly the same split instead of recomputing.
  */
final class DatasetStore(rootDir: String) {

  private def dir(id: String, split: String) = s"$rootDir/$id/$split"
  private def manifestPath(id: String) = s"$rootDir/$id/manifest.json"

  def save(id: String, splits: Map[String, DataFrame], meta: Map[String, String] = Map.empty): Unit = {
    splits.foreach { case (name, df) => df.write.mode("overwrite").parquet(dir(id, name)) }
    val spark = splits.head._2.sparkSession
    val counts = splits.map { case (name, _) =>
      name -> spark.read.parquet(dir(id, name)).count()
    }
    val json = (
      Seq(s"${quote("id")}: ${quote(id)}", s"${quote("splits")}: {" +
        counts.map { case (n, c) => s"${quote(n)}: $c" }.mkString(",") + "}") ++
        meta.map { case (k, v) => s"${quote(k)}: ${quote(v)}" }
      ).mkString("{", ",", "}")
    val p = new Path(manifestPath(id))
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  def load(spark: SparkSession, id: String, split: String): DataFrame =
    spark.read.parquet(dir(id, split))

  def exists(spark: SparkSession, id: String): Boolean =
    graft.sources.PathProbe.exists(spark, manifestPath(id))

  /** save once, then always reload the SAME split rows (split stability —
    * the reason the reference caches splits instead of recomputing). */
  def saveOrLoad(spark: SparkSession, id: String, split: String)(make: => Map[String, DataFrame]): DataFrame = {
    if (!exists(spark, id)) save(id, make)
    load(spark, id, split)
  }
}

/** Per-query wall-clock/row metrics via a QueryExecutionListener (reference:
  * LogJob / TimeMetricLoggerJob / OnErrorJob, retrieval_job.py:2193-2261,
  * 2843-2862, 1481-1511). */
object Listeners {
  def onQueryDone(spark: SparkSession)(
      f: (String, Double) => Unit,
      onError: (String, Throwable) => Unit = (_, _) => ()): Unit = {
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        f(funcName, durationNs / 1e9)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
        onError(funcName, exception)
    })
  }
}
