package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession shape every graft main and the test suite
  * run on: UTC session time, nanosecond parquet timestamps readable as
  * longs (`SparkEntry.events` dispatches on them), no UI, and as many
  * shuffle partitions as local cores. */
object Session {

  /** Local width: SPARK_GRAFT_CPUS when set (strict: a typo fails here,
    * not as an opaque error at first shuffle), else the host's cores. */
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCpus(raw: Option[String]): Int =
    graft.streaming.Streaming.parsePositiveInt("SPARK_GRAFT_CPUS", raw,
      default = Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = Session.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
