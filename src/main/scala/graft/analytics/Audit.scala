package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel
import graft.ext.{Checkpoints, DataSplit, Dedup, IndexLayout, Similarity,
  SketchStore}
import graft.sources.Tables

/** The audit harness of the index rows (x26–x35, v12–v27, s15–s19, and
  * the sketch-store rows t37, g38–g40, s23). Every audit runs the same
  * regime:
  *  - it works in ONE scratch root ([[withScratch]]) that holds every
  *    index, stream sink and checkpoint it writes, and the root is
  *    deleted when the row returns or fails;
  *  - its result leaves the scope as a driver-local relation, so nothing
  *    lazy ever reads a deleted file — rows need no per-row guard;
  *  - its corpus splits by fixed md5-bucket ranges ([[Md5Split]]), so
  *    every count it emits is oracle-recomputable;
  *  - its identity pins compare a treatment index (built, then mutated
  *    by the verb under audit) with a control that reaches the same
  *    state another way, by [[ExtPipelines.multisetEq]] over the serves
  *    or the stored frames. A serve compared after a later mutation is
  *    pinned first ([[graft.ext.Checkpoints.ckptLocal]]);
  *  - everything that differs between the two index families lives in
  *    one [[AuditFamily]] value ([[MinhashAudit]], [[IvfAudit]]), so the
  *    twin rows share one body: [[removal]], [[asOf]] and [[fold]]. */
private[graft] object Audit {

  /** Run `body` in a fresh scratch root (`prefix` + a random suffix
    * under `java.io.tmpdir`) and return its result as a driver-local
    * relation, collected BEFORE the root is deleted. The root is deleted
    * on failure too. Every result an audit emits is a small fact table,
    * so the collect is bounded. */
  def withScratch(prefix: String)(body: String => DataFrame): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    try {
      val out = body(root.toString)
      out.sparkSession.createDataFrame(
        java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  }

  /** The sketch-store rows' scope (t37, g38–g40): `daily`, one sketch
    * row per segment and `day`, lands in a store in a scratch root —
    * every day but the last in one save (seq 0), the last as its own
    * manifest-committed append (seq 1), the nightly-job shape — and
    * `body` gets the sorted days and the store path. `daily` stays
    * pinned for the scope: its ONE build scan feeds the store and any
    * in-query audit side. */
  def withDailyStore(prefix: String, daily: DataFrame, kind: String)(
      body: (Seq[String], String) => DataFrame): DataFrame = {
    daily.persist(StorageLevel.MEMORY_AND_DISK)
    try withScratch(prefix) { root =>
      val days = daily.select("day").distinct()
        .collect().map(_.getString(0)).sorted.toSeq // O(days) driver rows
      val store = s"$root/store"
      SketchStore.save(daily.filter(col("day") < days.last), store, kind)
      SketchStore.appendDays(daily.filter(col("day") === days.last), store,
        kind)
      body(days, store)
    } finally daily.unpersist(blocking = false)
  }

  /** The md5-bucket ranges ([[graft.ext.DataSplit.bucket]], 65,536
    * buckets) every audit splits its corpus by. */
  final class Md5Split(idCol: String) {
    private val bk = DataSplit.bucket(col(idCol))
    /** Buckets in [lo, hi). */
    def range(lo: Int, hi: Int = 65536): Column =
      if (lo <= 0) bk < hi
      else if (hi >= 65536) bk >= lo else bk >= lo && bk < hi
    /** The standing index: 80%. */
    val standing: Column = range(0, 52428)
    /** The arriving batch: the other 20%. */
    val batch: Column = range(52428)
    /** The upper quarter of standing that a takedown deletes. */
    val doomed: Column = range(39321, 52428)
    /** Standing minus doomed. */
    val survivors: Column = range(0, 39321)
    /** The fold audits' base half and four equal append slices. */
    val foldBase: Column = range(0, 32768)
    val foldSlices: Seq[Column] = Seq(range(32768, 40960),
      range(40960, 49152), range(49152, 57344), range(57344))
  }

  /** One arriving batch as an audit serves and lands it: `probes` are
    * the rows each serve answers for (counted into the family's count
    * column); `land(path, served)` lands the batch in the index at
    * `path` after `served`, the head serve's result, decided what is
    * admitted. */
  final class Arrival(val probes: DataFrame,
      serveAt: (String, Option[Int]) => DataFrame,
      val land: (String, DataFrame) => Unit) {
    /** Serve the probes at `path`, as of a retained commit if given. */
    def serve(path: String, asOf: Option[Int] = None): DataFrame =
      serveAt(path, asOf)
  }

  /** A corpus prepared once for a fold audit: `build(keep, path)` and
    * `append(keep, path)` write the rows `keep` selects. */
  final class Slices(val build: (Column, String) => Unit,
      val append: (Column, String) => Unit)

  /** Everything the audits need that differs between the two index
    * families. `otherVerb` names the autopilot's second verb in the
    * fold audit's output. */
  sealed abstract class AuditFamily(val idCol: String, val countCol: String,
      val format: String, val otherVerb: String) {
    val split = new Md5Split(idCol)
    def corpus(spark: SparkSession, dir: String): DataFrame
    /** Open an [[Arrival]] over `batch`, a slice of `corpus`. */
    def arriving[A](corpus: DataFrame, batch: DataFrame)(body: Arrival => A): A
    /** Build the index over `standing` at `path`. */
    def build(standing: DataFrame, path: String): Unit
    /** Build the treatment index over `standing` at `path` and the
      * control over `standing.filter(keep)` at `controlPath`. A control
      * that can only be built after the treatment exists comes back as
      * a closure, which a removal audit overlaps with its last step. */
    def buildWithControl(standing: DataFrame, keep: Column, path: String,
        controlPath: String): Option[() => Unit]
    def slicing[A](corpus: DataFrame)(body: Slices => A): A
    def delete(ids: DataFrame, path: String): Unit
    def compact(spark: SparkSession, path: String): Unit
    def deleteStream(ids: DataFrame, path: String, ck: String): StreamingQuery
    /** The fold audit's autopilot: (compacted, the other verb fired).
      * Backlog is cold (nothing is deleted) and so is the other verb;
      * only the composition-length bound of 3 batch roots can fire. */
    def autopilot(spark: SparkSession, path: String): (Boolean, Boolean)
  }

  /** The MinHash family. Every build uses the non-default bucket count
    * [[Buckets]], so a verb that fell back to the compile-time default
    * would mis-prune and fail the identity pins. A batch is signed once
    * per arrival and a standing corpus once per build, whatever the
    * number of serves, appends and controls that use its frames. */
  object MinhashAudit extends AuditFamily("doc_id", "n_batch",
      Dedup.MinhashIndexFormat, "rebucketed") {
    val Buckets = 48
    /** The autopilot's sizing target; the fold builds at the sizing
      * rule's own count over the full corpus, so the rebucket stays
      * cold after every append. */
    private val Target = 50L

    def corpus(spark: SparkSession, dir: String): DataFrame =
      Tables.documents(spark, dir).select("doc_id", "text")

    def arriving[A](corpus: DataFrame, batch: DataFrame)(
        body: Arrival => A): A = {
      val spark = batch.sparkSession
      val bf = Dedup.minhashIndexFrames(batch)
      try body(new Arrival(batch,
        (path, asOf) => Dedup.nearDupIngestFromPath(spark, path, batch,
          asOfSeq = asOf, batchFrames = Some(bf)),
        // the admitted slice of the batch's frames IS frames(admitted)
        (path, served) => {
          def adm(df: DataFrame) = df.join(served, Seq(idCol), "left_semi")
          Dedup.appendToMinhashIndexFromFrames(spark, path,
            adm(bf._1), adm(bf._2), adm(bf._3))
        })) finally bf._2.unpersist()
    }

    def build(standing: DataFrame, path: String): Unit =
      Dedup.saveMinhashIndex(standing, path, idBuckets = Buckets)

    // the control is a per-doc filter of the treatment's frames:
    // frames(corpus.filter(p)) = frames(corpus).filter(p) exactly
    def buildWithControl(standing: DataFrame, keep: Column, path: String,
        controlPath: String): Option[() => Unit] = {
      val (sb, ssh, ssz) = Dedup.minhashIndexFrames(standing)
      try {
        Dedup.saveMinhashIndexFromFrames(sb, ssh, ssz, path,
          idBuckets = Buckets)
        Dedup.saveMinhashIndexFromFrames(sb.filter(keep), ssh.filter(keep),
          ssz.filter(keep), controlPath, idBuckets = Buckets)
      } finally ssh.unpersist()
      None
    }

    def slicing[A](corpus: DataFrame)(body: Slices => A): A = {
      val spark = corpus.sparkSession
      val buckets = ((corpus.count() + Target - 1) / Target).toInt
      val (fb0, fsh, fsz0) = Dedup.minhashIndexFrames(corpus)
      val fb = fb0.persist(StorageLevel.MEMORY_AND_DISK)
      val fsz = fsz0.persist(StorageLevel.MEMORY_AND_DISK)
      try body(new Slices(
        (keep, path) => Dedup.saveMinhashIndexFromFrames(fb.filter(keep),
          fsh.filter(keep), fsz.filter(keep), path, idBuckets = buckets),
        (keep, path) => Dedup.appendToMinhashIndexFromFrames(spark, path,
          fb.filter(keep), fsh.filter(keep), fsz.filter(keep))))
      finally Seq(fb, fsh, fsz).foreach(_.unpersist())
    }

    def delete(ids: DataFrame, path: String): Unit =
      Dedup.deleteFromMinhashIndex(ids, path)
    def compact(spark: SparkSession, path: String): Unit =
      Dedup.compactMinhashTombstones(spark, path)
    def deleteStream(ids: DataFrame, path: String, ck: String): StreamingQuery =
      graft.streaming.Streaming.minhashDeleteStream(ids, path, ck)
    def autopilot(spark: SparkSession, path: String): (Boolean, Boolean) =
      Dedup.maintainMinhashIndex(spark, path, maxTombstonePct = 10,
        targetDocsPerBucket = Target, maxAppendBatches = 3)
  }

  /** The IVF family: nList 8 and one k-means iteration at build, top-5
    * at nProbe 4 over the fixed query set `vec_id < 10` at serve. A
    * control reuses the treatment's stored quantizer (the coarse
    * quantizer is immutable across maintenance, so only a same-quantizer
    * rebuild makes the identity meaningful). */
  object IvfAudit extends AuditFamily("vec_id", "n_queries",
      Similarity.IvfIndexFormat, "retrained") {

    def corpus(spark: SparkSession, dir: String): DataFrame =
      Tables.embeddings(spark, dir)
    def queries(corpus: DataFrame): DataFrame =
      corpus.filter(col("vec_id") < 10)
    def topK(path: String, queries: DataFrame, overFetch: Int = 4,
        asOf: Option[Int] = None): DataFrame =
      Similarity.ivfTopKFromIndex(queries.sparkSession, path, queries,
        k = 5, nProbe = 4, overFetch = overFetch, asOfSeq = asOf)

    def arriving[A](corpus: DataFrame, batch: DataFrame)(
        body: Arrival => A): A = {
      val q = queries(corpus)
      body(new Arrival(q, (path, asOf) => topK(path, q, asOf = asOf),
        (path, _) => Similarity.appendToIvfIndex(batch.sparkSession, path,
          batch)))
    }

    def build(standing: DataFrame, path: String): Unit =
      Similarity.saveIvfIndex(standing, path, nList = 8, nIters = 1)

    def buildWithControl(standing: DataFrame, keep: Column, path: String,
        controlPath: String): Option[() => Unit] = {
      build(standing, path)
      // the stored centroids are carried untouched through every flip,
      // so the control may read them while a later step mutates `path`
      Some(() => Similarity.saveIvfIndexWithCentroids(standing.filter(keep),
        Similarity.loadIvfCentroids(standing.sparkSession, path),
        controlPath))
    }

    def slicing[A](corpus: DataFrame)(body: Slices => A): A =
      body(new Slices((keep, path) => build(corpus.filter(keep), path),
        (keep, path) => Similarity.appendToIvfIndex(corpus.sparkSession,
          path, corpus.filter(keep))))

    def delete(ids: DataFrame, path: String): Unit =
      Similarity.deleteFromIvfIndex(ids, path)
    def compact(spark: SparkSession, path: String): Unit =
      Similarity.compactIvfTombstones(spark, path)
    def deleteStream(ids: DataFrame, path: String, ck: String): StreamingQuery =
      graft.streaming.Streaming.ivfDeleteStream(ids, path, ck)
    // a µ-scaled total-variation distance is ≤ 1,000,000 by definition,
    // so the retrain comparison is arithmetic-false
    def autopilot(spark: SparkSession, path: String): (Boolean, Boolean) = {
      val (retrained, compacted) = Similarity.maintainIvfIndex(spark, path,
        maxTombstonePct = 10, imbalanceTvThresholdMu = 1000000L,
        maxAppendBatches = 3)
      (compacted, retrained)
    }
  }

  /** One step of a removal audit's takedown: (index path, doomed ids,
    * scratch root). */
  type Step = (String, DataFrame, String) => Unit

  /** The batch takedown: one tombstone append, then the compaction. */
  def batchDelete(fam: AuditFamily): Seq[Step] = Seq(
    (path, ids, _) => fam.delete(ids, path),
    (path, ids, _) => fam.compact(ids.sparkSession, path))

  /** The streamed takedown: the doomed ids as three files, so three
    * micro-batches of tombstones. */
  def streamDelete(fam: AuditFamily): Seq[Step] = Seq { (path, ids, root) =>
    val spark = ids.sparkSession
    ids.repartition(3).write.parquet(s"$root/in")
    fam.deleteStream(spark.readStream
      .schema(spark.read.parquet(s"$root/in").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in"),
      path, s"$root/ck").awaitTermination()
  }

  /** REMOVAL audit (x26d, v19, s18, s19): build the index on the
    * standing split, take the doomed range down step by step, and serve
    * the batch after every step. Pin: every serve equals the serve of a
    * control built over the survivors alone. Emits the family's count
    * column and `identical`. */
  def removal(spark: SparkSession, dir: String, fam: AuditFamily,
      row: String)(steps: AuditFamily => Seq[Step]): DataFrame =
    withScratch(s"graft_$row") { root =>
      import spark.implicits._
      val (s, corpus) = (fam.split, fam.corpus(spark, dir))
      val (path, controlPath) = (s"$root/idx", s"$root/control")
      val control = fam.buildWithControl(corpus.filter(s.standing),
        s.survivors, path, controlPath)
      val doomed = corpus.filter(s.doomed).select(fam.idCol)
      fam.arriving(corpus, corpus.filter(s.batch)) { a =>
        val todo = steps(fam)
        val served = todo.zipWithIndex.map { case (step, i) =>
          val last = i == todo.size - 1
          IndexLayout.inParallel[Unit]((() => step(path, doomed, root)) +:
            (if (last) control.toSeq else Nil))
          if (last) a.serve(path) else Checkpoints.ckptLocal(a.serve(path))
        }
        val fromControl = a.serve(controlPath)
        Seq((a.probes.count(),
          served.forall(ExtPipelines.multisetEq(_, fromControl))))
          .toDF(fam.countCol, "identical")
      }
    }

  /** AS-OF audit (x33, v26): build on the standing split (seq 0), widen
    * the index's own retention (seq 1), serve (R0), land the batch
    * (seq 2), serve (R1), delete the doomed range (seq 3). Pins:
    * serve@1 ≡ R0 and serve@2 ≡ R1. Emits the family's count column,
    * `pinned_pre_append` and `future_delete_invisible`. */
  def asOf(spark: SparkSession, dir: String, fam: AuditFamily,
      row: String): DataFrame =
    withScratch(s"graft_$row") { root =>
      import spark.implicits._
      val (s, corpus) = (fam.split, fam.corpus(spark, dir))
      val path = s"$root/idx"
      fam.build(corpus.filter(s.standing), path) // seq 0
      // a stored layout parameter (one leased commit), not the
      // session-global conf, which would leak into concurrent commits
      IndexLayout.setManifestKeep(spark, path, 8) // seq 1
      fam.arriving(corpus, corpus.filter(s.batch)) { a =>
        val r0 = Checkpoints.ckptLocal(a.serve(path))
        a.land(path, r0) // seq 2
        val r1 = Checkpoints.ckptLocal(a.serve(path))
        val pinnedPreAppend =
          ExtPipelines.multisetEq(a.serve(path, Some(1)), r0)
        fam.delete(corpus.filter(s.doomed).select(fam.idCol), path) // seq 3
        val futureDeleteInvisible =
          ExtPipelines.multisetEq(a.serve(path, Some(2)), r1)
        Seq((a.probes.count(), pinnedPreAppend, futureDeleteInvisible))
          .toDF(fam.countCol, "pinned_pre_append", "future_delete_invisible")
      }
    }

  /** FOLD audit (x35, v27): the autopilot's composition-length trigger
    * on an append-only index, over two legs. `under` builds the base and
    * appends 2 slices (bound 3: nothing fires); `over` resumes from a
    * copy of that directory and appends the other 2 (the fold fires, in
    * one flip, to 0 batch roots). `serve_identical` pins the fold's
    * read-side no-op: on `over` the serve of `batch` before and after;
    * on `under` manifest equality, the stronger pin where no verb
    * fires. Emits (leg, compacted, the other verb, batches_before,
    * batches_after, gen_after, n_tombstones_after, serve_identical). */
  def fold(spark: SparkSession, dir: String, fam: AuditFamily, row: String,
      batch: DataFrame): DataFrame =
    withScratch(s"graft_$row") { root =>
      import spark.implicits._
      val (s, corpus) = (fam.split, fam.corpus(spark, dir))
      fam.arriving(corpus, batch) { a =>
        def leg(path: String, name: String, observe: Boolean) = {
          def mNow() = IndexLayout.requireManifest(spark, path, fam.format)
          val mBefore = mNow()
          val served0 =
            if (observe) Some(Checkpoints.ckptLocal(a.serve(path))) else None
          val (compacted, other) = fam.autopilot(spark, path)
          val serveIdentical = served0 match {
            case Some(s0) => ExtPipelines.multisetEq(s0, a.serve(path))
            case None => mNow() == mBefore
          }
          val (m, _, nTombAfter, _, _) = IndexLayout.describeIndex(spark, path)
          (name, compacted, other,
            IndexLayout.maxBatchRootCount(mBefore).toLong,
            IndexLayout.maxBatchRootCount(m).toLong, m("gen").toLong,
            nTombAfter, serveIdentical)
        }
        val (underPath, overPath) = (s"$root/under", s"$root/over")
        val under = fam.slicing(corpus) { sl =>
          sl.build(s.foldBase, underPath)
          s.foldSlices.take(2).foreach(sl.append(_, underPath))
          val under = leg(underPath, "under", observe = false)
          require(!under._2 && !under._3 && under._6 == 0L,
            s"$row under-leg autopilot must be a no-op (got $under): the " +
              "over leg resumes from this directory")
          org.apache.commons.io.FileUtils.copyDirectory(
            new java.io.File(underPath), new java.io.File(overPath))
          s.foldSlices.drop(2).foreach(sl.append(_, overPath))
          under
        }
        val over = leg(overPath, "over", observe = true)
        Seq(under, over).toDF("leg", "compacted", fam.otherVerb,
          "batches_before", "batches_after", "gen_after",
          "n_tombstones_after", "serve_identical")
      }
    }
}
