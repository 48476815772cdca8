package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.expr.JsonValue.quote
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * SHRINK-PROOFING (round-6 incident): a regenerated testdata set broke the
  * events loader and 27 queries VANISHED from the driver's ledger — they
  * didn't fail, they just produced no output dir, and the checker only
  * iterates dirs that exist. Three guarantees now hold:
  *   1. `manifest.json` (every registered query name) is written BEFORE any
  *      query runs, so even a JVM crash mid-suite leaves the full roll call
  *      on disk for the checker to diff against.
  *   2. A query that throws still writes a one-row parquet whose schema
  *      (`__graft_error`) can never match any oracle — the driver records a
  *      loud failing ROW with the error text instead of a silent gap.
  *   3. `errors.json` maps failed query → message for tooling.
  */
object Verify {
  /** The dump pass, parameterized by the query registry so the
    * shrink-proofing contract itself is spec-gated (VerifyShrinkProofSpec)
    * — returns the failed-query → message map. */
  private[graft] def run(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      oracleSql: Map[String, String]): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val names = queries.keys.toSeq.sorted
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      names.map(quote).mkString("[", ",", "]"))
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    names.foreach { name =>
      val fn = queries(name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        // the poison row: guaranteed-readable parquet, guaranteed-wrong
        // schema — the comparator reports it instead of skipping it
        try {
          import spark.implicits._
          Seq((name, msg)).toDF("__graft_error_query", "__graft_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case NonFatal(e2) =>
          System.err.println(s"[verify] $name error-marker write failed: ${e2.getMessage}")
        }
      }
    }
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}"))
    val json = oracleSql
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size}/${names.size} queries FAILED: " +
        errors.keys.mkString(", "))
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(s"usage: graft.Verify <sfDir> <outDir> [queryName...] — got ${args.length} args")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing names: LOCAL-ONLY subset runs (the driver always
    // passes exactly two args, so the full-suite contract is untouched);
    // an unknown name is fatal so a typo can't silently verify nothing
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] unknown query names: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val spark = Session.local()
    val qs = if (only.isEmpty) SparkEntry.queries
             else SparkEntry.queries.filter { case (k, _) => only(k) }
    val os = if (only.isEmpty) SparkEntry.oracleSql
             else SparkEntry.oracleSql.filter { case (k, _) => only(k) }
    run(spark, sfDir, outDir, qs, os)
    spark.stop()
  }
}
