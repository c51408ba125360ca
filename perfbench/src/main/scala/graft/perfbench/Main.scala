package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.GraftSession

/** State shared by one benchmark run: the session, the tracer, the
  * arguments and everything measured so far. Workloads record raw
  * samples here; `run.py` turns them into medians and tails. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    args: Map[String, String]) {
  val workload: String = args("workload")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val trace: Boolean = args("trace") == "1"
  val data: String = args("data")
  val work: String = args("work")
  val setupReps = 3

  val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L

  private var inLoop = false

  /** Add a sample. Inside a traced run's loop the sample is also filed
    * under `<name>@traced` or `<name>@untraced`, by the unit it came
    * from, which is what the tracing overhead is computed from. */
  def record(name: String, v: Double): Unit = {
    series.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v
    if (trace && inLoop) {
      val tag = if (tracer.active) "@traced" else "@untraced"
      series.getOrElseUpdate(name + tag, mutable.ArrayBuffer.empty[Double]) += v
    }
  }

  def layer(name: String, v: Double): Unit = layers(name) = v

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Seconds since the session was ready at the end of each named phase
    * of the run, for the runner's log. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  private val t0 = System.nanoTime()
  def phase(name: String): Unit = phases(name) = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One attempted operation; a throw counts as failed and is logged. */
  def attempt(name: String)(body: => Unit): Boolean = {
    attempted += 1
    try { body; true }
    catch { case e: Throwable =>
      failed += 1
      System.err.println(s"[perfbench] $name failed: $e")
      e.printStackTrace()
      false
    }
  }

  /** Repeat the workload's set-up step `setupReps` times (fresh state
    * each time), recording each duration under `setup_rep_s`. */
  def setup(step: Int => Unit): Unit =
    { (0 until setupReps).foreach { rep =>
        record("setup_rep_s", timed(step(rep))._2)
      }
      phase("setup")
    }

  /** One-time work before the measured loop that is not repeatable
    * set-up (a first pass that compiles and caches); it counts towards
    * set-up time as `warmup_s`. */
  def warmup(step: => Unit): Unit = {
    record("warmup_s", timed(step)._2)
    phase("warmup")
  }

  /** Closed loop with one client: run units until `seconds` have passed
    * (at least `minUnits`). In a traced run units alternate, in blocks
    * of `traceBlock`, between traced and untraced, so the tracing
    * overhead comes from one process. */
  def loop(minUnits: Int, traceBlock: Int)(unit: Int => Unit): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    inLoop = true
    while (i < minUnits || System.nanoTime() < end) {
      tracer.setActive(trace && (i / traceBlock) % 2 == 0)
      unit(i)
      i += 1
    }
    inLoop = false
    tracer.setActive(false)
  }

  /** A layer called in isolation (traced runs only): `reps` traced
    * calls under one span name, the median recorded as `<name>_s`. */
  def probe(name: String, reps: Int = 3)(body: => Unit): Unit = {
    tracer.setActive(true)
    val ts = (0 until reps).map(_ => timed(tracer.span(name)(body))._2).sorted
    tracer.setActive(false)
    layer(s"${name}_s", median(ts))
  }

  /** Mean Spark counts per span of `name` (inclusive of children),
    * recorded as `<prefix>.<counter>`. */
  def countsPer(name: String, prefix: String,
      keep: Set[String] = Set.empty): Unit = {
    val spans = tracer.named(name)
    if (spans.nonEmpty) {
      val counts = tracer.countsBySpan()
      val total = new SparkCounts
      spans.foreach(s => total.add(tracer.inclusiveCounts(counts, s)))
      total.toMap.foreach { case (k, v) =>
        if (keep.isEmpty || keep(k)) layer(s"$prefix.$k", v / spans.size)
      }
    }
  }
}

/** Entry point of the benchmark's JVM. `run.py` generates the inputs,
  * starts this with `--workload --seed --seconds --trace --data --work
  * --result`, then checks the outputs it leaves under `--work`.
  * Everything it measured is written to `--result` as one JSON object. */
object Main {
  def runNoop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val cores = args("cores").toInt
    val spark = GraftSession.local(cores, appName = "perfbench")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val readyMs = System.currentTimeMillis()
    val tracer = new Tracer(spark.sparkContext,
      s"${args("workload")}-${args("seed")}-${args("trace")}")
    val c = new Ctx(spark, tracer, args)
    var error: Option[String] = None
    try c.workload match {
      case "etl_month" => EtlMonth.run(c)
      case "index_daily" => IndexDaily.run(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch { case e: Throwable =>
      e.printStackTrace()
      error = Some(e.toString)
    }
    if (c.trace) tracer.writeJsonl(s"${c.work}/spans.jsonl")
    val result = mutable.LinkedHashMap[String, Any](
      "jvm_start_ms" -> jvmStartMs, "session_ready_ms" -> readyMs,
      "attempted" -> c.attempted, "failed" -> c.failed,
      "error" -> error.getOrElse(""),
      "series" -> c.series, "layers" -> c.layers, "info" -> c.info,
      "phases" -> c.phases)
    java.nio.file.Files.write(java.nio.file.Paths.get(args("result")),
      Json.value(result).getBytes("UTF-8"))
    spark.stop()
    if (error.nonEmpty) sys.exit(1)
  }
}
