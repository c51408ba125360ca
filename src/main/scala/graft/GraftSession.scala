package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of every entry point (Verify, Bench,
  * ScaleBench, TimeQuery, the ETL apps): every setting cluster-sane —
  * AQE on (runtime re-plan, skew-join handling), shuffle partitions
  * sized to cores (not the 200 default), UTC, and auto-broadcast
  * enabled so small dimensions never shuffle.
  *
  * On a real cluster the same builder applies — only `master` and the
  * partition count change (set `spark.sql.shuffle.partitions` ~ 2-3x
  * total executor cores there).
  */
object GraftSession {
  /** Local cores: `SPARK_GRAFT_CPUS` when set, else every processor
    * this JVM may use. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int = defaultCores, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
