package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.analytics.ExtPipelines
import graft.ext.{Dedup, IndexLayout, Similarity}

/** Bytes and files on disk under a directory tree. */
object DiskTree {
  def files(root: String): Map[String, (Long, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { f: Path =>
        f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)
      }.toMap
      finally s.close()
    }
  }

  def bytes(root: String): Long = files(root).values.map(_._1).sum

  /** (bytes, files) that are new or rewritten in `after`. */
  def written(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): (Long, Long) = {
    val fresh = after.filter { case (k, v) => !before.get(k).contains(v) }
    (fresh.values.map(_._1).sum, fresh.size.toLong)
  }
}

/** index_daily: a standing document corpus and embedding set indexed by
  * both families, then daily batches: serve the batch
  * (`nearDupIngestFromPath`, `ivfTopKFromIndex`), append the admitted
  * docs and their vectors, delete the day's list. Days run in order,
  * so a batch's copies of earlier days' docs meet them in the index,
  * and each day serves over one more appended delta root. A traced run
  * then folds both compositions once. */
object IndexDaily {
  // the loop runs at least this many days, whatever `--seconds` says,
  // so that the day median has that many samples
  val minDays = 3
  // the program's sizing rule (Dedup.MinhashIndexBuckets): about one bucket
  // per few thousand docs
  val idBuckets = 1
  val nList = 8

  def run(c: Ctx): Unit = {
    val spark = c.spark
    import spark.implicits._
    val t = c.tracer
    val corpusDocs = spark.read.parquet(s"${c.data}/corpus_docs.parquet")
    val corpusVecs = spark.read.parquet(s"${c.data}/corpus_vecs.parquet").drop("day")
    val batchDocs = spark.read.parquet(s"${c.data}/batch_docs.parquet")
    val batchVecs = spark.read.parquet(s"${c.data}/batch_vecs.parquet")
    val deletes: Map[Int, Seq[Long]] =
      scala.io.Source.fromFile(s"${c.data}/deletes.txt").getLines()
        .map(_.split(' ')).toSeq.groupMap(_(0).toInt)(_(1).toLong)
    // sizes from the generator; reading them with Spark would cost a
    // few cold jobs before set-up
    val meta: Map[String, Int] = scala.io.Source.fromFile(s"${c.data}/meta.txt").getLines()
      .map(_.split(' ')).map(a => a(0) -> a(1).toInt).toMap
    val dim = meta("dim")
    val batchSize = meta("batch_docs")
    def dayDocs(d: Int) = batchDocs.filter(col("day") === d).select("doc_id", "text")
    c.phase("inputs")

    var root = ""
    def mh = s"$root/minhash"
    def ivf = s"$root/ivf"
    def build(dir: String): Unit = {
      root = dir
      t.span("minhash.build")(Dedup.saveMinhashIndex(corpusDocs, mh, idBuckets = idBuckets))
      t.span("ivf.build")(Similarity.saveIvfIndex(corpusVecs, ivf, nList = nList))
    }
    def drop(dir: String): Unit =
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

    val written = mutable.Map.empty[String, (Long, Long, Int)].withDefaultValue((0L, 0L, 0))
    /** Time one verb; outside the timing, count what it wrote. */
    def verb(family: String, name: String)(body: => Unit): Double = {
      val dir = if (family == "minhash") mh else ivf
      val before = DiskTree.files(dir)
      val s = c.timed(t.span(s"$family.$name")(body))._2
      val (b, f) = DiskTree.written(before, DiskTree.files(dir))
      val (b0, f0, n0) = written(s"$family.$name")
      written(s"$family.$name") = (b0 + b, f0 + f, n0 + 1)
      c.record(s"$family.${name}_s", s)
      s
    }

    // the ids each day's serve saw as live and what it admitted, for
    // the rebuild check after the loop; each day's IVF top-k rows
    // (query, neighbor, rank), for the oracle
    var live: Set[Long] = (0L until meta("corpus_docs")).toSet
    val served = mutable.LinkedHashMap.empty[Int, (Set[Long], Seq[Long])]
    val ivfServed = mutable.LinkedHashMap.empty[Int, Seq[Seq[Long]]]
    /** One day on batch `d`: seconds. */
    def indexDay(d: Int): Double = {
      val docs = dayDocs(d)
      val vecs = batchVecs.filter(col("day") === d).drop("day")
      val gone = deletes.getOrElse(d, Nil)
      var admitted = Seq.empty[Long]
      var top = Array.empty[org.apache.spark.sql.Row]
      val s = t.span("index.day") {
        verb("minhash", "serve") {
          admitted = Dedup.nearDupIngestFromPath(spark, mh, docs)
            .select("doc_id").as[Long].collect().toSeq.sorted
        } + verb("ivf", "serve") {
          // every list is probed, so the serve is the exact cosine top-k
          // over the live vectors, which the oracle recomputes
          top = Similarity.ivfTopKFromIndex(spark, ivf, vecs, k = 5, nProbe = nList)
            .select("query_id", "neighbor_id", "rk").collect()
        } + verb("minhash", "append") {
          Dedup.appendToMinhashIndex(docs.filter(col("doc_id").isin(admitted: _*)), mh)
        } + verb("ivf", "append") {
          Similarity.appendToIvfIndex(spark, ivf, vecs.filter(col("vec_id").isin(admitted: _*)))
        } + verb("minhash", "delete") {
          Dedup.deleteFromMinhashIndex(gone.toDF("doc_id"), mh)
        } + verb("ivf", "delete") {
          Similarity.deleteFromIvfIndex(gone.toDF("vec_id"), ivf)
        }
      }
      served(d) = (live, admitted)
      ivfServed(d) = top.toSeq.map(r =>
        Seq(r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue))
      live = live ++ admitted -- gone
      s
    }

    // set-up: build both indexes (one set on disk at a time)
    c.setup { rep =>
      if (root.nonEmpty) drop(root)
      build(s"${c.work}/index$rep")
    }
    // no warm-up: a day costs as much as the 3 builds. Day 0 runs the
    // verbs' code for the first time but serves over no delta root, so
    // it comes out close to the later days
    var day = 0
    // a traced run alternates traced and untraced days
    c.loop(minUnits = minDays, traceBlock = 1) { _ =>
      val d = day
      day += 1
      c.attempt(s"index day $d") {
        val s = indexDay(d)
        c.record("day_s", s)
        c.record("rows_per_s", (batchSize + deletes.getOrElse(d, Nil).size) / s)
      }
    }
    c.phase("loop")
    c.info("admitted") = served.map { case (d, (_, ids)) => d.toString -> ids }
    c.info("ivf_served") = ivfServed.map { case (d, rows) => d.toString -> rows }
    c.info("day_order") = served.keys.toSeq
    c.info("measured_days") = (0 until day)
    if (c.trace) {
      // maintenance, once: fold both compositions (the run's first fold)
      // and account the disk for write and space amplification (run.py
      // divides by the user bytes it computes from the inputs). The
      // checks below then run on the folded indexes.
      t.setActive(true)
      c.attempt("fold") {
        c.record("fold_s", t.span("index.fold") {
          verb("minhash", "fold")(Dedup.foldMinhashComposition(spark, mh)) +
            verb("ivf", "fold")(Similarity.foldIvfComposition(spark, ivf))
        })
      }
      t.setActive(false)
      c.info("index_bytes_written") = written.values.map(_._1).sum
      c.info("index_bytes_on_disk") = DiskTree.bytes(mh) + DiskTree.bytes(ivf)
      c.info("dim") = dim
    }
    val liveDocs = LiveIds.liveIds(spark, mh, "sizes", "doc_id")
    val liveVecs = LiveIds.liveIds(spark, ivf, "lists", "vec_id")
    c.info("live_doc_ids") = liveDocs.as[Long].collect().toSeq.sorted
    c.info("live_vec_ids") = liveVecs.as[Long].collect().toSeq.sorted
    c.phase("live_ids")

    // identity checks (untimed). MinHash: the served sets of the first
    // day (on the built index) and the last (over the most delta roots)
    // equal what the same batches get from in-memory index frames over
    // the docs that were live just before each serve (the oracle checks
    // every day's set on its own). Frames are per doc, so the frames of
    // all docs, restricted to a live set, are the frames a rebuild over
    // that set would make.
    val allDocs = corpusDocs.unionByName(batchDocs
      .filter(col("day").isin(served.keys.toSeq: _*)).select("doc_id", "text"))
    val (b, sh, sz) = Dedup.minhashIndexFrames(allDocs)
    Seq(b, sz).foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    def rebuiltServe(ids: Set[Long], docs: DataFrame): DataFrame = {
      val keep = broadcast(ids.toSeq.toDF("doc_id"))
      def only(f: DataFrame) = f.join(keep, Seq("doc_id"), "left_semi")
      Dedup.nearDupIngest(only(b), only(sh), only(sz), docs).select("doc_id")
    }
    val checked = Seq(served.head, served.last).distinct
    c.info("minhash_rebuild_days") = checked.map(_._1)
    c.info("minhash_rebuild_mismatch_days") = checked.collect {
      case (d, (ids, admitted)) if !ExtPipelines.multisetEq(
        admitted.toDF("doc_id"), rebuiltServe(ids, dayDocs(d))) => d
    }
    Seq(b, sh, sz).foreach(_.unpersist())
    c.phase("checks")

    if (c.trace) {
      written.foreach { case (k, (bytes, files, n)) =>
        if (!k.endsWith(".serve")) {
          c.layer(s"index.bytes_written.$k", bytes.toDouble / n)
          c.layer(s"index.files_written.$k", files.toDouble / n)
        }
      }
      c.layer("index.live_files", (DiskTree.files(mh) ++ DiskTree.files(ivf))
        .keys.count(_.endsWith(".parquet")).toDouble)
      c.layer("index.batch_roots", Seq(mh, ivf).map { p =>
        IndexLayout.describeIndex(spark, p)._2.map(_.nEntries).sum }.sum.toDouble)
      // the batch signing alone, on a day's batch
      val docs = dayDocs(0).cache()
      docs.count()
      c.probe("dedup.batch_sign") {
        val (bb, bsh, bsz) = Dedup.minhashIndexFrames(docs)
        Main.runNoop(bb); Main.runNoop(bsz); bsh.unpersist()
      }
      docs.unpersist()
      c.countsPer("index.day", "spark")
      StreamProbe.run(c, mh, s"${c.data}/stream")
      Seq("minhash", "ivf").foreach { f =>
        Seq("serve", "append", "delete", "fold").foreach { v =>
          c.series.get(s"$f.${v}_s").foreach { xs =>
            c.layer(s"$f.${v}_s", c.median(xs.toSeq))
          }
        }
      }
    }
  }
}

/** Live ids of a persisted index: a frame's ids minus its tombstones. */
object LiveIds {
  def liveIds(spark: org.apache.spark.sql.SparkSession, path: String,
      frame: String, idCol: String): DataFrame = {
    val m = IndexLayout.requireManifest(spark, path,
      if (frame == "sizes") Dedup.MinhashIndexFormat else Similarity.IvfIndexFormat)
    val ids = IndexLayout.readFrame(spark, path, m, frame).select(col(idCol)).distinct()
    IndexLayout.loadTombstones(spark, path, m, idCol) match {
      case Some(tomb) => ids.join(tomb.select(col(idCol)), Seq(idCol), "left_anti")
      case None => ids
    }
  }
}
