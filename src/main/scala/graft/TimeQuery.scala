package graft

/** Focused single-query timer for plan/scale investigation:
  * `runMain graft.TimeQuery <sfDir> <queryName> [reps]`.
  * Cores as every entry point: [[GraftSession.defaultCores]].
  * Hot-cache like Bench: every base table is marked for caching, but
  * only the tables the query reads are filled — by the one untimed
  * warmup — so the timed reps run hot without paying to load tables
  * the row never touches. Prints per-rep seconds, plus the time
  * outside them: `session_s` from JVM start until the session is up,
  * `start_s` from JVM start until the tables are marked too, and
  * `warmup_s` for the untimed warmup; `codegen_compiles` and
  * `codegen_ms` count the classes compiled, and the milliseconds spent
  * compiling them, and `jobs` the Spark jobs submitted, in the warmup
  * and in all timed reps together. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 5
    val cores = GraftSession.defaultCores
    val spark = GraftSession.local(cores, "graft-timequery")
    val sessionS = sinceJvmStart()
    import org.apache.spark.storage.StorageLevel
    graft.sources.Tables.all.foreach { t =>
      // an input directory may lack a table: it stays uncached
      try graft.sources.Tables(spark, sfDir, t)
        .persist(StorageLevel.MEMORY_AND_DISK)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    def once(): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val startS = sinceJvmStart()
    val jobs = new JobCounter(spark.sparkContext)
    val c0 = compiled()
    val warmupS = once()
    val (c1, j1) = (compiled(), jobs.drained())
    val times = Seq.fill(reps)(once())
    val (c2, j2) = (compiled(), jobs.drained())
    println(f"""{"query":"$name","sf":"$sfDir","cores":$cores,""" +
      f""""session_s":$sessionS%.3f,"start_s":$startS%.3f,""" +
      f""""warmup_s":$warmupS%.3f,""" +
      s""""codegen_compiles":{"warmup":${c1._1 - c0._1},"reps":${c2._1 - c1._1}},""" +
      f""""codegen_ms":{"warmup":${(c1._2 - c0._2) / 1e6}%.1f,""" +
      f""""reps":${(c2._2 - c1._2) / 1e6}%.1f},""" +
      s""""jobs":{"warmup":$j1,"reps":${j2 - j1}},""" +
      s""""reps":[${times.map(t => f"$t%.3f").mkString(",")}]}""")
    spark.stop()
  }

  /** (classes compiled, summed compile nanoseconds) in this JVM so far:
    * Spark's codegen counters, which count cache misses only. */
  private def compiled(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** Counts the Spark jobs started since it was registered. The
    * listener bus is asynchronous, so [[drained]] first runs a marker
    * job and waits until the listener has seen it: jobs reach the
    * listener in submission order, so by then it has seen every job
    * submitted before the marker. Marker jobs are not counted. */
  private class JobCounter(sc: org.apache.spark.SparkContext)
      extends org.apache.spark.scheduler.SparkListener {
    private val Marker = "timequery-jobs-marker"
    private val started = new java.util.concurrent.atomic.AtomicLong()
    private val markers = new java.util.concurrent.atomic.AtomicLong()
    sc.addSparkListener(this)

    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      if (Option(e.properties).map(_.getProperty("spark.job.description"))
          .contains(Marker)) markers.incrementAndGet()
      else started.incrementAndGet()

    /** Jobs started so far, after every earlier job reached the bus. */
    def drained(): Long = {
      val want = markers.get() + 1
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (markers.get() < want && System.nanoTime() < deadline)
        Thread.sleep(10)
      if (markers.get() < want)
        throw new IllegalStateException("the listener never saw the marker job")
      started.get()
    }
  }

  private def sinceJvmStart(): Double = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}
