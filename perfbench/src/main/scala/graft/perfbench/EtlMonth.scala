package graft.perfbench

import org.apache.spark.storage.StorageLevel
import graft.ops.ReferenceEtl
import graft.sources.{CsvSink, LogSource}

/** etl_month: the reference's own workload. 30 daily ES-envelope JSONL
  * files; the client runs daily jobs (`readDay → oneDayPipeline →
  * CsvSink`, the EtlOneDay shape) in a seeded day order and, after every
  * `dailyPerMonth` of them, the month report (`runFull → CsvSink`, the
  * EtlFull shape). The loop runs at least `minCycles` cycles, so the
  * daily jobs reach the 11 samples a tail needs. A traced run also
  * calls the sources and ops layers in isolation and, on generated
  * star-schema tables, the analytics layer ([[OlapHot]]). */
object EtlMonth {
  val dailyPerMonth = 3
  val minCycles = 3
  val warmDaily = 9

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val t = c.tracer
    val base = s"${c.data}/logs"
    val rows: Map[String, Long] = scala.io.Source.fromFile(s"$base/rows.txt")
      .getLines().map(_.split(' ')).map(a => a(0) -> a(1).toLong).toMap
    val days = new scala.util.Random(c.seed).shuffle(rows.keys.toSeq.sorted)
    val (first, last) = (rows.keys.min, rows.keys.max)
    val monthRows = rows.values.sum
    def iso(d: String) = s"${d.take(4)}-${d.slice(4, 6)}-${d.drop(6)}"

    def dailyJob(d: String, dest: String): Unit = t.span("etl.daily_job") {
      val flat = t.span("sources.read_day")(
        LogSource.flattenSource(LogSource.readDay(spark, s"$base/$d.json")))
      val res = t.span("ops.one_day_pipeline")(ReferenceEtl.oneDayPipeline(flat, iso(d)))
      t.span("sources.csv_sink")(CsvSink.writeSingle(res, dest))
    }
    def monthReport(dest: String): Unit = t.span("etl.month_report") {
      val res = t.span("ops.run_full")(ReferenceEtl.runFull(spark, base, first, last))
      t.span("sources.csv_sink")(CsvSink.writeSingle(res, dest))
    }

    // set-up: nothing is cached; a repetition is one daily job, which
    // warms the scan, the pivot and the sink. The warm-up then runs
    // `warmDaily` daily jobs and a month report until the JIT has
    // compiled the planner paths: after a warm-up of 3 daily jobs and a
    // month report, daily jobs still sped up from 0.64 s to 0.44 s over
    // the loop's first 7
    c.setup(rep => dailyJob(days(rep % days.size), s"${c.work}/warm/day"))
    c.warmup {
      (0 until warmDaily).foreach(k =>
        dailyJob(days(days.size - 1 - k % days.size), s"${c.work}/warm/day"))
      monthReport(s"${c.work}/warm/month")
    }

    var nDaily = 0
    // a traced run alternates whole cycles of daily jobs and a report
    c.loop(minUnits = minCycles * (dailyPerMonth + 1), traceBlock = dailyPerMonth + 1) { i =>
      if (i % (dailyPerMonth + 1) == dailyPerMonth) {
        val ok = c.attempt("month report") {
          val s = c.timed(monthReport(s"${c.work}/out/month"))._2
          c.record("month_s", s)
          c.record("rows_per_s", monthRows / s)
        }
        if (ok) c.info("month_checked") = true
      } else {
        val d = days(nDaily % days.size)
        nDaily += 1
        c.attempt(s"daily job $d") {
          c.record("daily_job_s",
            c.timed(dailyJob(d, s"${c.work}/out/daily/$d"))._2)
        }
      }
    }
    c.phase("loop")
    c.info("days_run") = days.take(math.min(nDaily, days.size)).sorted
    c.info("month_rows") = monthRows

    if (c.trace) {
      val paths = LogSource.datePaths(base, first, last)
      val d0 = days.head
      c.probe("sources.month_scan")(Main.runNoop(
        LogSource.flattenSource(LogSource.readDays(spark, paths))))
      c.countsPer("sources.month_scan", "sources", Set("tasks", "input_bytes"))
      c.layers.remove("sources.tasks").foreach(v => c.layer("sources.scan_tasks", v))
      c.probe("sources.day_scan")(Main.runNoop(
        LogSource.flattenSource(LogSource.readDay(spark, s"$base/$d0.json"))))
      val monthIn = LogSource.flattenSource(LogSource.readDays(spark, paths))
        .persist(StorageLevel.MEMORY_ONLY)
      monthIn.count()
      val dayIn = LogSource.flattenSource(LogSource.readDay(spark, s"$base/$d0.json"))
        .persist(StorageLevel.MEMORY_ONLY)
      dayIn.count()
      c.probe("ops.month_pipeline")(Main.runNoop(ReferenceEtl.fullPipeline(monthIn)))
      c.countsPer("ops.month_pipeline", "ops", Set("shuffle_write_bytes"))
      c.layers.remove("ops.shuffle_write_bytes")
        .foreach(v => c.layer("ops.shuffle_bytes", v))
      c.probe("ops.day_pipeline")(Main.runNoop(ReferenceEtl.oneDayPipeline(dayIn, iso(d0))))
      val report = ReferenceEtl.fullPipeline(monthIn).persist(StorageLevel.MEMORY_ONLY)
      report.count()
      c.probe("sources.csv_sink")(CsvSink.writeSingle(report, s"${c.work}/probe/sink"))
      Seq(report, dayIn, monthIn).foreach(_.unpersist(blocking = true))
      c.countsPer("etl.daily_job", "ops", Set("jobs"))
      c.layers.remove("ops.jobs").foreach(v => c.layer("ops.jobs_per_day", v))
      c.countsPer("etl.daily_job", "spark")
      OlapHot.run(c, s"${c.data}/olap", passes = 2)
    }
  }
}
