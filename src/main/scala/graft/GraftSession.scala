package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of every entry point (Verify, Bench,
  * ScaleBench, TimeQuery, the ETL apps) and of the test suites: every
  * setting cluster-sane — AQE on (runtime re-plan, skew-join handling),
  * shuffle partitions sized to cores (not the 200 default), UTC, and
  * auto-broadcast enabled so small dimensions never shuffle.
  *
  * Generated code is compiled once per process, not once per plan:
  *  - `spark.sql.codegen.useIdInClassName=false` drops the codegen
  *    stage id from generated class names. Spark caches compiled
  *    classes by their source text, so with the id in the name a stage
  *    that is otherwise identical misses the cache whenever its
  *    position in the plan moves — and an index verb's plans move it
  *    every day (the composition, the tombstones and the batch differ).
  *  - `spark.sql.codegen.cache.maxEntries` ([[CodegenCacheEntries]])
  *    lifts the cache above Spark's 100 entries, which is smaller than
  *    one index day: serve, append and delete on both index families
  *    compiled about 150 classes a day, so the LRU evicted each day's
  *    classes before the next day could reuse them.
  * Measured on perfbench's index_daily (seed 1, 4 cores), they cut a
  * day's compiled classes from 148–149 to 31 on day 1 and 12 on day 2
  * (the MinHash serve's from 76–77 to 19 and 4), with no change to any
  * plan, job or result; each setting alone leaves 47 and 30 (cache
  * only) or 111 and 115 (class names only).
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

  /** Compiled classes the codegen cache holds: an index day's ~150
    * with more than tenfold headroom, so the verbs, the queries and the
    * month reports of one process all stay resident. A static setting,
    * read once by the first session of the JVM. */
  val CodegenCacheEntries = 2000

  def local(cores: Int = defaultCores, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
