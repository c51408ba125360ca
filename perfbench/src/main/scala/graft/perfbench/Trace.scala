package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.perfbenchaccess.ListenerBusAccess

/** One recorded span: a call into a layer, made from the benchmark. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, startMs: Long, endMs: Long)

/** Spark work done by the jobs attributed to one span. */
final class SparkCounts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var cpuNs = 0L; var gcMs = 0L; var shuffleWrite = 0L; var spill = 0L
  var input = 0L; var output = 0L

  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; spill += o.spill
    input += o.input; output += o.output
  }

  def toMap: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
    "tasks" -> tasks.toDouble, "executor_cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "shuffle_write_bytes" -> shuffleWrite.toDouble,
    "spill_bytes" -> spill.toDouble, "input_bytes" -> input.toDouble,
    "output_bytes" -> output.toDouble)
}

/** Records, per job, its start time and the metrics of its stages.
  * Jobs are attributed to spans afterwards by start time: load comes
  * from one client thread, so the innermost span open when a job
  * started is the call that caused it, including jobs submitted from
  * the program's own worker threads. */
final class JobRecorder extends SparkListener {
  private final case class Job(startMs: Long, stages: Seq[Int])
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageCounts = mutable.Map.empty[Int, SparkCounts]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.time, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val m = info.taskMetrics
      val c = stageCounts.getOrElseUpdate(info.stageId, new SparkCounts)
      c.stages += 1
      c.tasks += info.numTasks
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
      }
    }

  /** (job start ms, counts of the job's completed stages). */
  def snapshot(): Seq[(Long, SparkCounts)] = synchronized {
    jobs.toSeq.map { j =>
      val c = new SparkCounts
      c.jobs = 1
      j.stages.flatMap(stageCounts.get).foreach(c.add)
      (j.startMs, c)
    }
  }
}

/** In-memory span recorder. Off (the default for end-to-end runs) it
  * runs the body and records nothing; `active` is switched per block of
  * units so a traced run can interleave traced and untraced units and
  * report the tracing overhead from one process. */
final class Tracer(sc: SparkContext, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val recorder = new JobRecorder
  private var attached = false
  var active = false

  def setActive(on: Boolean): Unit = {
    if (on && !attached) { sc.addSparkListener(recorder); attached = true }
    if (!on && attached) {
      ListenerBusAccess.drain(sc)
      sc.removeSparkListener(recorder); attached = false
    }
    active = on
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s0 = System.nanoTime(); val m0 = System.currentTimeMillis()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, s0, System.nanoTime(), m0,
          System.currentTimeMillis())
      }
    }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Spark counts per span id, each job credited to the innermost span
    * whose wall-clock interval holds the job's start. */
  def countsBySpan(): Map[Int, SparkCounts] = {
    if (attached) ListenerBusAccess.drain(sc)
    val byId = mutable.Map.empty[Int, SparkCounts]
    val sorted = spans.sortBy(s => (s.startMs, -s.endMs)).toSeq
    recorder.snapshot().foreach { case (t, c) =>
      val holders = sorted.filter(s => s.startMs <= t && t <= s.endMs)
      // innermost = latest-starting holder (ties: the shortest)
      holders.sortBy(s => (s.startNs, -s.endNs)).lastOption.foreach { s =>
        byId.getOrElseUpdate(s.id, new SparkCounts).add(c)
      }
    }
    byId.toMap
  }

  /** Counts of a span plus all its descendants. */
  def inclusiveCounts(counts: Map[Int, SparkCounts], root: Span): SparkCounts = {
    val kids = spans.groupBy(_.parent)
    val total = new SparkCounts
    def walk(s: Span): Unit = {
      counts.get(s.id).foreach(total.add)
      kids.getOrElse(s.id, Nil).foreach(walk)
    }
    walk(root)
    total
  }

  /** Self time: duration minus the part of it covered by child spans. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var reach = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, reach); val hi = math.min(b, s.endNs)
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Spans and their attributed counts as JSON lines. */
  def writeJsonl(path: String): Unit = {
    val counts = countsBySpan()
    val lines = spans.sortBy(_.id).map { s =>
      val c = counts.getOrElse(s.id, new SparkCounts).toMap
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"self_s":${Json.num(selfSeconds(s))},""" +
        s""""counts":{$c}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }
}

/** Minimal JSON emitter for the result file (numbers, strings, lists
  * and maps only). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }
}
