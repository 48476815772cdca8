package graft

/** Dev tool: dump formatted physical plans of selected queries so plan shape
  * (pushdown, broadcast, shuffle count, codegen spans) can be reviewed.
  * Usage: runMain graft.PlanAudit [queryName ...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q1_pricing_summary", "q3_revenue_by_nation", "q9_asof_last_click",
      "q11_pit_click_aggs", "q24_jaccard_pairs", "q30_knn_bruteforce")
    names.foreach { n =>
      println(s"\n########## $n ##########")
      val df = SparkEntry.queries(n)(spark, dir)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
