package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.streaming.Trigger
import graft.analytics.ExtPipelines
import graft.ext.Dedup
import graft.streaming.Streaming

/** The streaming layer, called from outside: `nearDupIngestStream` on a
  * ProcessingTime trigger against a standing MinHash index, fed by one
  * generator thread that drops one staged parquet file of docs every
  * `periodMs` into the stream's source directory (an open loop: files
  * arrive on schedule whether or not the stream keeps up). Doc ids rise
  * with arrival, so the admitted set does not depend on where the
  * micro-batches cut. */
object StreamProbe {
  val periodMs = 1000L
  val triggerMs = 2000L
  val drainTimeoutMs = 60000L

  def run(c: Ctx, indexPath: String, staged: String): Unit = {
    val spark = c.spark
    val files = Files.list(Paths.get(staged)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    val schema = spark.read.parquet(files.head).schema
    val docsPerFile = files.map(f => spark.read.parquet(f).count()).distinct
    require(docsPerFile.size == 1, "staged stream files must hold equal doc counts")
    val perFile = docsPerFile.head
    val root = s"${c.work}/stream"
    val src = s"$root/src"
    Files.createDirectories(Paths.get(src))

    c.tracer.setActive(true)
    val query = c.tracer.span("stream.start")(Streaming.nearDupIngestStream(
      spark.readStream.schema(schema).parquet(src), indexPath,
      s"$root/out", s"$root/delta", s"$root/checkpoint",
      trigger = Trigger.ProcessingTime(triggerMs)))
    val t0 = System.currentTimeMillis() + periodMs
    val late = new Array[Long](files.size)
    val generator = new Thread(() => files.zipWithIndex.foreach { case (f, k) =>
      val due = t0 + k * periodMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      // written under a hidden name, then renamed: the source never
      // sees a partial file
      val tmp = Paths.get(src, s".f$k.tmp")
      Files.copy(Paths.get(f), tmp)
      Files.move(tmp, Paths.get(src, f"f$k%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      late(k) = System.currentTimeMillis() - due
    }, "perfbench-generator")
    generator.start()
    generator.join()
    // drained once every file is in the source log and the last logged
    // micro-batch has committed
    val deadline = System.currentTimeMillis() + drainTimeoutMs
    def drained = {
      val log = sourceLog(s"$root/checkpoint/sources/0")
      log.size == files.size && query.recentProgress
        .exists(p => p.batchId == log.values.max && p.numInputRows > 0)
    }
    while (!drained && System.currentTimeMillis() < deadline && query.isActive)
      Thread.sleep(100)
    val ok = drained
    val batchOf = sourceLog(s"$root/checkpoint/sources/0")
    val progress = query.recentProgress.filter(_.numInputRows > 0)
      .groupBy(_.batchId).map { case (b, ps) => b -> ps.last }
    query.stop()
    c.tracer.setActive(false)
    if (!ok) throw new IllegalStateException(
      s"stream read ${batchOf.size} of ${files.size} files in ${drainTimeoutMs / 1000}s")

    // each file's lag: from its scheduled drop to the commit of the
    // micro-batch that read it
    def commitMs(b: Long) = {
      val p = progress(b)
      java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").longValue
    }
    (0 until files.size).foreach { k =>
      c.record("stream.lag_s",
        (commitMs(batchOf(f"f$k%05d.parquet")) - (t0 + k * periodMs)) / 1e3)
    }
    val batches = batchOf.values.toSeq.distinct.sorted
    batches.foreach { b =>
      c.record("stream.trigger_s", progress(b).durationMs.get("triggerExecution") / 1e3)
      c.record("stream.add_batch_s", progress(b).durationMs.get("addBatch") / 1e3)
    }
    def med(k: String) = c.median(c.series(k).toSeq)
    c.layer("stream.trigger_p50_s", med("stream.trigger_s"))
    c.layer("stream.add_batch_p50_s", med("stream.add_batch_s"))
    c.layer("stream.rows_per_batch", perFile * files.size.toDouble / batches.size)
    c.layer("stream.delta_roots", Files.list(Paths.get(s"$root/delta/bands"))
      .iterator().asScala.count(_.getFileName.toString.startsWith("batch=")).toDouble)
    c.layer("generator.late_max_s", late.max / 1e3)
    c.info("stream_rate_docs_per_s") = perFile * 1000.0 / periodMs

    // the admitted ids equal one batch serve over all files in arrival
    // order, against the same standing index
    val all = spark.read.parquet(files: _*).select("doc_id", "text")
    c.info("check_stream_batch_serve") = ExtPipelines.multisetEq(
      spark.read.parquet(s"$root/out").select("doc_id"),
      Dedup.nearDupIngestFromPath(spark, indexPath, all).select("doc_id"))
  }

  /** File name -> micro-batch id, from the file source's metadata log
    * (`v1` header, then one JSON entry per file; compacted logs keep
    * the same entries). */
  def sourceLog(dir: String): Map[String, Long] = {
    val d = Paths.get(dir)
    if (!Files.exists(d)) return Map.empty
    val entry = """"path":"[^"]*/([^"/]+)".*"batchId":(\d+)""".r.unanchored
    Files.list(d).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala.drop(1))
      .collect { case entry(name, b) => name -> b.toLong }.toMap
  }
}
