package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}
import graft.ops.Viewing

/** Structured Streaming surface: the daily-file batch loop the reference
  * runs (SURVEY.md §2.1 S4) is really a daily stream — these operators
  * are its streaming-native form.
  *
  * Local verification runs the streams to completion against the static
  * parquet via the memory sink; in production the same plans run
  * unbounded with `readStream` on an arriving directory.
  */
object Streaming {

  private val nameCounter = new AtomicInteger()

  /** Run a streaming frame to completion against static input and hand
    * back the materialized result (memory sink, unique table name). */
  def runToBatch(spark: SparkSession, df: DataFrame,
      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  /** Events stream from the testdata parquet. The read schema is taken
    * from the actual file footer (via the batch loader's confs) rather
    * than hardcoded, and `ts` goes through the SAME schema-driven
    * normalization as the batch `Tables` loader — the driver has
    * regenerated this data in at least two physical timestamp layouts
    * (nanos; NTZ-micros), and a stream hard-wired to one of them reads
    * garbage on the other. */
  def eventsStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = graft.sources.Tables.fileSchema(spark, dir, "events")
    val reader = spark.readStream.schema(schema)
      .option("basePath", dir)          // file-stream source needs a dir base
    val withTrigger = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
    graft.sources.Tables.normalizeTs(
      withTrigger.parquet(s"$dir/events.*"), Seq("ts"))
  }

  /** Documents stream from the testdata parquet — the streaming ingest
    * path of the corpus pipeline (new corpus files land, the gate
    * filters them as they arrive). Read schema from the actual file
    * footer, same rule as [[eventsStream]] — a hard-wired StructType
    * here would silently read nulls/garbage after the next physical
    * layout regeneration (the round-9 failure class). */
  def documentsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(graft.sources.Tables.fileSchema(spark, dir, "documents"))
      .option("basePath", dir)
      .parquet(s"$dir/documents.*")

  /** Embeddings stream from the testdata parquet — the streaming
    * arrival path of the vector corpus. Read schema from the actual
    * file footer, same rule as [[eventsStream]]/[[documentsStream]]. */
  def embeddingsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(graft.sources.Tables.fileSchema(spark, dir, "embeddings"))
      .option("basePath", dir)
      .parquet(s"$dir/embeddings.*")

  /** The shared frame of every per-batch-overwrite streaming sink here
    * (s15/s16/s17): `foreachBatch` + per-batch `batch_id=N` overwrite
    * directories, which turn at-least-once batch replays into
    * exactly-once folded output (a replay rewrites its own directory
    * byte-for-byte instead of duplicating rows).
    *
    * LIFECYCLE CONTRACT — the checkpoint and every output/delta dir
    * fed by `f` live and die TOGETHER: batch ids restart at 0 under a
    * fresh checkpoint, so re-pointing a new checkpoint at retained
    * output dirs both folds STALE higher-numbered `batch_id=` dirs
    * from the old run into every later read and (for the near-dup
    * deltas) excludes them from the `batch < batchId` replay guard —
    * silently re-admitting near-dups of previously-admitted docs. To
    * restart from scratch, clear checkpoint AND outputs; to resume,
    * keep both. */
  private def perBatchSink(src: DataFrame, checkpoint: String,
      trigger: Trigger)(
      f: (Dataset[org.apache.spark.sql.Row], Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    src.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        f(batch, batchId); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** s16 — streaming IVF index ingest: the v9/v18 maintenance path as
    * a real stream. Arriving vectors are assigned to the standing
    * index's lists by the PRE-MATERIALIZED quantizer (`seeds` — pass
    * [[graft.ext.Similarity.ivfSeedCentroids]] pinned with an eager
    * localCheckpoint, or a loaded `centroids` frame renamed to
    * (seed_id, cvec); the standing corpus is scanned ZERO times per
    * micro-batch), and each batch's (vec_id, list_id) delta lands in
    * `outPath/batch_id=N` with overwrite — the s15 idempotence
    * discipline, so a replay after a kill rewrites its own directory
    * and nothing is assigned twice. Assignment is per-row independent,
    * so the union over micro-batches equals the one-shot batch
    * assignment bit-for-bit: v9's oracle covers the streaming run
    * verbatim (the s9 ≡ x16 pattern). Appending the accumulated
    * deltas into a persisted index is
    * [[graft.ext.Similarity.appendToIvfIndex]]'s job at epoch close. */
  def ivfIngestStream(vecs: DataFrame, seeds: DataFrame, outPath: String,
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    perBatchSink(vecs, checkpoint, trigger) { (batch, batchId) =>
      graft.ext.Similarity.ivfAssignExact(batch, seeds)
        .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
    }

  /** s17 — STREAMING vector SERVE: query vectors arrive as a stream
    * and each micro-batch is answered from the persisted
    * [[graft.ext.Similarity.saveIvfIndex]] layout
    * ([[graft.ext.Similarity.ivfTopKFromIndex]] — the probed lists are
    * a dynamic-partition-pruned scan per batch, and STANDING TOMBSTONES
    * are honored, so a vector deleted mid-stream can never be served
    * by any later micro-batch). Per-batch top-k results land in
    * `outPath/batch_id=N` with overwrite — the s15/s16 idempotence
    * discipline: a replay after a kill rewrites its own directory, so
    * no query is answered twice in the folded output.
    *
    * Serving is per-QUERY independent — a row's top-k is a function of
    * the index alone, never of other queries — so the union over
    * micro-batches equals the one-shot batch serve bit-for-bit and
    * v12's oracle form covers the streaming run verbatim (the s16
    * discipline, applied to the read side; defaults — k, nProbe —
    * match [[graft.ext.Similarity.ivfTopKFromIndex]]'s exactly, so the
    * default stream really is the default batch serve). This closes
    * the streaming symmetry for the vector index: ingest went
    * streaming in s16, retrieval goes streaming here. Checkpoint and
    * outPath follow [[perBatchSink]]'s coupled-lifecycle contract. */
  def ivfServeStream(queries: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, k: Int = 5, nProbe: Int = 8,
      vecCol: String = "embedding", idCol: String = "vec_id",
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    perBatchSink(queries, checkpoint, trigger) { (batch, batchId) =>
      graft.ext.Similarity.ivfTopKFromIndex(batch.sparkSession, indexPath,
        batch, k = k, nProbe = nProbe, vecCol = vecCol, idCol = idCol)
        .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
    }

  /** s23 (delta leg) — STREAMING DAY-CLOSE into the persisted sketch
    * store, step 1: micro-batches of events drain into per-batch DELTA
    * sketch rows — each batch's (week, day) bottom-k user sketches
    * land in `deltaPath/batch_id=N` with per-batch-directory overwrite
    * (the s15/s16/s17 exactly-once discipline: a replayed batch
    * rewrites its own directory byte-for-byte). Per-batch work is
    * O(batch) with k-bounded map-side partials; the standing store is
    * touched ZERO times per micro-batch — day close
    * ([[closeDaysIntoStore]]) is the only writer of the store itself.
    * Bottom-k sketches are EXACTLY merge-order independent (bottomK(S)
    * is a pure function of the set), so however the stream slices a
    * day across micro-batches, the day-close merge of these deltas is
    * bit-identical to a batch build over the same events — which is
    * what lets the batch twin's oracle cover the streamed store
    * verbatim. `checkpoint` and `deltaPath` are one coupled lifecycle
    * ([[perBatchSink]]'s contract). */
  def sketchDeltaStream(events: DataFrame, deltaPath: String,
      checkpoint: String, k: Int,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val th = udaf(new graft.functions.ThetaSketchAggregator(k))
    perBatchSink(events, checkpoint, trigger) { (batch, batchId) =>
      batch.select(
        date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"),
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("user_id"))
        .groupBy("week", "day")
        .agg(th(xxhash64(col("user_id"))).as("sk"))
        .write.mode("overwrite").parquet(s"$deltaPath/batch_id=$batchId")
    }
  }

  /** s23 (close leg) — DAY CLOSE: merge the drained deltas per
    * (week, day) ([[graft.functions.ThetaMergeAggregator]] — a pure
    * set merge, so the stored sketch cannot depend on how the stream
    * batched the day) and land every closed day (`day <= closedDay`)
    * not yet stored via ONE manifest-committed
    * [[graft.ext.SketchStore.appendDays]] batch — atomic-visible,
    * kill-safe, leased like every maintenance verb of the layout.
    *
    * REPLAY-IDEMPOTENT end to end, which is exactly the at-least-once
    * scheduler contract a nightly close job runs under: the
    * already-stored day set (an O(days) manifest-frame read) filters
    * the candidate days, so a re-run after a crash — before, between,
    * or after the manifest splice — lands each day exactly once (a
    * close that died pre-commit left only an unreferenced batch root,
    * swept at the next fold; one that died post-commit finds its days
    * stored and appends nothing — an empty append commits nothing by
    * [[graft.ext.IndexLayout.stageAppendBatch]]'s contract). */
  def closeDaysIntoStore(spark: SparkSession, deltaPath: String,
      storePath: String, kind: String, k: Int,
      closedDay: String): Unit = {
    val tm = udaf(new graft.functions.ThetaMergeAggregator(k))
    val stored = graft.ext.SketchStore.readAll(spark, storePath, kind)
      .select("day").distinct()
      .collect().map(_.getString(0)).toSet // O(days) driver rows
    val newDaily = spark.read.parquet(deltaPath)
      .filter(col("day") <= closedDay &&
        !col("day").isin(stored.toSeq: _*))
      .groupBy("week", "day").agg(tm(col("sk")).as("sk"))
      .select("week", "day", "sk")
    graft.ext.SketchStore.appendDays(newDaily, storePath, kind)
  }

  /** Streaming corpus quality gate: the stateless per-row quality
    * filter applied at INGEST, so low-quality docs never land in the
    * corpus at all. Pure codegen'd expressions — no state, no
    * watermark, Append mode; identical semantics to the batch filter
    * (same oracle). */
  def qualityGate(docs: DataFrame): DataFrame =
    graft.ext.TextAnalysis.qualityScore(
      graft.ext.TextAnalysis.qualitySignals(docs))
      .filter(col("quality") >= 0.5)
      .select("doc_id", "source", "n_tokens", "quality")

  /** Streaming ingest dedup: the stream-static form of
    * [[graft.ext.Dedup.incrementalIngest]]'s exact stage — each
    * arriving document is admitted only if its content digest matches
    * nothing in the standing corpus. A stream-static LEFT ANTI join on
    * the sha2 digest: stateless on the stream side (the static corpus
    * IS the state), Append mode, no watermark needed. At scale the
    * static side is the corpus digest index (narrow: one 64-char column,
    * maintained incrementally by the batch ingest job); each micro-batch
    * hash-joins against it exactly like the batch operator, so batch and
    * stream admit identical sets (one oracle covers both). */
  def ingestDedup(docs: DataFrame, corpus: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val corpusDigests = corpus
      .select(sha2(col(textCol), 256).as("_sha")).distinct()
    docs.withColumn("_sha", sha2(col(textCol), 256))
      .join(corpusDigests, Seq("_sha"), "left_anti")
      .select(col(idCol))
  }

  /** The rows of the delta frame at `dir` (one `batch=N` directory per
    * micro-batch) that micro-batches before `batchId` committed, read
    * with a DECLARED schema — the standing frame's `schema` plus the
    * `batch` partition column — so no footer is opened to infer one and
    * the read submits no Spark job. */
  private[graft] def deltaRows(spark: SparkSession, dir: String,
      schema: StructType, batchId: Long): DataFrame =
    spark.read.schema(schema.add("batch", LongType)).parquet(dir)
      .filter(col("batch") < batchId).drop("batch")

  /** s15 — streaming MinHash NEAR-dup ingest: the persisted-index
    * serving path (x26b) composed into `foreachBatch`, so a streaming
    * corpus gets the SAME LSH near-dup admission as the batch pipeline
    * — previously [[ingestDedup]] (s9) gave streams only digest-EXACT
    * dedup, a strictly weaker gate than the batch side's.
    *
    * Per micro-batch:
    *  1. the standing index frames ([[graft.ext.Dedup.loadMinhashIndex]])
    *     are unioned with the DELTA frames of previously COMMITTED
    *     batches (`batch < batchId` — a partition-pruned filter, so a
    *     replayed batch never dedups against its own killed attempt's
    *     partial delta);
    *  2. [[graft.ext.Dedup.nearDupIngest]] admits the batch docs that
    *     are not Jaccard-near-dups of standing ∪ previously-admitted —
    *     cross-micro-batch near-dups are caught, which a stateless
    *     per-batch probe would miss;
    *  3. the admitted ids land in `outPath/batch_id=N` and the admitted
    *     docs' index frames in `deltaPath/{bands,shingles,sizes}/batch=N`
    *     — BOTH with per-batch-directory overwrite, so a replay after a
    *     kill rewrites its own directories byte-for-byte instead of
    *     duplicating rows: exactly-once output from an at-least-once
    *     `foreachBatch`, with no torn-append window (this is why the
    *     stream writes per-batch deltas rather than
    *     [[graft.ext.Dedup.appendToMinhashIndex]]'s in-place appends,
    *     whose job commit is not kill-atomic).
    *
    * Scale shape: each batch's work is O(batch) plus candidate-pruned
    * index reads (the delta dirs carry the same `band=`/`bucket=`
    * partitioning as the standing index, so the literal bucket filter
    * prunes them identically); the standing corpus is never
    * re-shingled. A scheduled compaction folds accumulated deltas into
    * the main index via [[graft.ext.Dedup.appendToMinhashIndex]] and
    * clears them — the standard streaming-lake small-file discipline.
    *
    * `checkpoint`, `outPath` AND `deltaPath` are one coupled lifecycle
    * ([[perBatchSink]]'s contract): a fresh checkpoint restarts batch
    * ids at 0, so retained deltas from an old run would both escape
    * the `batch < batchId` replay guard (silently re-admitting
    * near-dups of previously-admitted docs) and poison the eventual
    * delta compaction. Restart from scratch = clear all three. */
  def nearDupIngestStream(docs: DataFrame, indexPath: String,
      outPath: String, deltaPath: String, checkpoint: String,
      threshold: Double = 0.5,
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.ext.{Checkpoints, Dedup, IndexLayout}
    // shingle width, hash family, bucket count come FROM the standing
    // index's manifest, read once at stream start: a stream started by
    // a binary with different compile-time constants would otherwise
    // sign batches with one family and probe rows stored under another
    // — silently, with near-zero candidate recall. `threshold` stays a
    // caller choice (it gates the exact-Jaccard verify, not the
    // layout). The per-micro-batch manifest is re-read inside the loop
    // for frame composition (so a compaction between batches is picked
    // up atomically), but the FAMILY parameters are fixed for the
    // index's lifetime by the save verb.
    val m0 = IndexLayout.requireManifest(docs.sparkSession, indexPath,
      Dedup.MinhashIndexFormat)
    val n = IndexLayout.intParam(m0, indexPath, "n")
    val numHashes = IndexLayout.intParam(m0, indexPath, "numHashes")
    val bands = IndexLayout.intParam(m0, indexPath, "bands")
    val rows = IndexLayout.intParam(m0, indexPath, "rows")
    val idBuckets = IndexLayout.intParam(m0, indexPath, "buckets")
    // REBUCKET GUARD, restart half: the delta dirs carry `bucket=`
    // values computed under ONE count, and the candidate prune's
    // literal filter runs over standing ∪ deltas — old-count delta
    // rows under a new-count filter are silently mis-pruned (missed
    // duplicates admitted). The count the epoch's first write used is
    // recorded in a marker next to the delta dirs; a later epoch whose
    // index was rebucketed in between fails HERE, loudly, instead:
    // fold the deltas (compactMinhashDeltas clears the marker) before
    // rebucketing, or clear checkpoint+deltas+out and restart fresh.
    Dedup.requireDeltaBuckets(docs.sparkSession, deltaPath, idBuckets)
    // once a delta sub-tree holds committed data it never empties
    // within this stream's lifetime (compaction requires a stopped,
    // drained stream), so a per-query memo spares the recursive
    // remote listing on every later micro-batch — on s3a:/hdfs: the
    // ingest path's LIST traffic stops growing with accumulated deltas
    val knownNonEmpty = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    perBatchSink(docs, checkpoint, trigger) { (batch, batchId) =>
        val spark = batch.sparkSession
        // REBUCKET GUARD, mid-stream half: the ingest stream holds no
        // lease (its deltas live outside the index path), so a
        // rebucket CAN flip the stored count under a live stream —
        // after which this epoch's cached count prunes the NEW
        // composition's directories wrongly. One int compare per
        // micro-batch turns that silent mis-prune into a loud stop.
        // CRITICALLY, the frames and tombstones below are composed
        // from THIS resolution (mB), not re-resolved — a second
        // manifest read could land after a flip the guard's read
        // preceded, serving exactly the new-count-dirs-under-old-
        // count-filter mix the guard exists to prevent.
        val mB = IndexLayout.requireManifest(spark, indexPath,
          Dedup.MinhashIndexFormat)
        if (IndexLayout.intParam(mB, indexPath, "buckets") != idBuckets)
          throw new IllegalStateException(
            s"$indexPath was rebucketed under this live ingest stream " +
              s"(stored buckets ${mB("buckets")} != stream-start " +
              s"$idBuckets): stop the stream, fold the deltas " +
              "(compactMinhashDeltas), and restart the epoch")
        val sb = IndexLayout.readFrame(spark, indexPath, mB, "bands")
        val ssh = IndexLayout.readFrame(spark, indexPath, mB, "shingles")
        val ssz = IndexLayout.readFrame(spark, indexPath, mB, "sizes")
        // delta presence is detected by COMMITTED parquet FILES, not
        // batch= dir names: a batch that admitted nothing leaves a
        // footer-less batch=N directory, a hard-killed write leaves
        // only _temporary task files, and a delta with no data must
        // add no union branch to the plan — the IndexFs rule
        // (resolved on the delta path's own FileSystem, so an
        // hdfs:/s3a: delta layout replays exactly like a local one)
        def withDeltas(standing: DataFrame, sub: String): DataFrame = {
          val dir = s"$deltaPath/$sub"
          val present = knownNonEmpty.contains(sub) ||
            (graft.ext.IndexFs.hasParquetData(spark, dir) && {
              knownNonEmpty.add(sub); true
            })
          if (!present) standing
          else standing.unionByName(
            deltaRows(spark, dir, standing.schema, batchId))
        }
        val batchDocs = batch.select(col("doc_id"), col("text"))
        // the batch's index frames are derived ONCE and reused for the
        // delta write below (filtered to the admitted ids) — the
        // FromFrames variant exists so admission doesn't shingle the
        // batch and the delta write re-shingle the admitted subset
        val (bban, bsh, bsizes) = Dedup.minhashIndexFrames(
          batchDocs, n, numHashes, bands, rows)
        // the frees below must run on the FAILURE path too: a
        // micro-batch that dies mid-write gets replayed, and each
        // replay persists a fresh shingle frame plus 2x-replicated
        // checkpoint blocks — without the finally, repeated transient
        // failures pool exactly the executor-storage leak this sink
        // otherwise avoids
        var admitted: DataFrame = null
        try {
          // pin the delta-sized admitted id set once: the id write and
          // the three delta-frame writes below must agree even though
          // each triggers its own job (ckptLocal = 2-replica blocks, the
          // non-recomputable-checkpoint discipline)
          admitted = Checkpoints.ckptLocal(
            Dedup.nearDupIngestFromFrames(
              withDeltas(sb, "bands"), withDeltas(ssh, "shingles"),
              withDeltas(ssz, "sizes"), batchDocs.select(col("doc_id")),
              bban, bsh, bsizes, threshold,
              // standing tombstones (deleteFromMinhashIndex) strike
              // deleted docs — standing AND previously-admitted delta
              // docs — from the candidate set, so a streaming corpus
              // honors deletions exactly like the batch path; composed
              // from the SAME manifest resolution as the frames above
              tombstones = IndexLayout.loadTombstones(spark, indexPath,
                mB, "doc_id"),
              idBuckets = idBuckets))
          def admittedOnly(frame: DataFrame): DataFrame =
            frame.join(admitted, Seq("doc_id"), "left_semi")
          // the four per-batch writes are independent jobs into
          // disjoint per-batch roots off the one pinned admitted set —
          // overlapped (guide §2.6 / IndexLayout.inParallel): the
          // micro-batch pays ~the slowest write's latency, not the sum
          // of four. Ordering is immaterial to exactly-once: a replay
          // overwrites every one of these directories.
          IndexLayout.inParallel[Unit](Seq(
            () => admitted
              .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId"),
            () => admittedOnly(bban).repartition(col("band"))
              .write.mode("overwrite")
              .partitionBy("band").parquet(s"$deltaPath/bands/batch=$batchId"),
            () => admittedOnly(bsh)
              .withColumn("bucket", Dedup.idBucket(col("doc_id"), idBuckets))
              .repartition(col("bucket")).write.mode("overwrite")
              .partitionBy("bucket")
              .parquet(s"$deltaPath/shingles/batch=$batchId"),
            () => admittedOnly(bsizes)
              .withColumn("bucket", Dedup.idBucket(col("doc_id"), idBuckets))
              .repartition(col("bucket")).write.mode("overwrite")
              .partitionBy("bucket")
              .parquet(s"$deltaPath/sizes/batch=$batchId")))
        } finally {
          bsh.unpersist()
          // the per-batch checkpoint blocks are superseded the moment
          // the four writes above commit (or the batch dies and will
          // replay from source) — free them NOW instead of waiting for
          // driver GC + ContextCleaner, which on a long-running stream
          // would pool 2x-replicated blocks from dozens of batches in
          // executor storage against the hot standing index
          if (admitted != null) Checkpoints.free(admitted)
        }
    }
  }

  /** s18 — STREAMING index TAKEDOWN: delete requests (doc ids) arrive
    * as a stream and each micro-batch lands as tombstones of the
    * persisted MinHash index, completing the streaming CRUD symmetry
    * (ingest s15/s16, serve s17, delete here). Semantically immediate:
    * tombstones are honored merge-on-read by every LATER serve — batch
    * serves, in-flight serving streams' next micro-batches (they load
    * tombstones per batch), everything — while the standing data is
    * never read or rewritten (O(delete-batch) per micro-batch).
    *
    * Effectively-once discipline: each micro-batch's distinct ids are
    * STAGED into their own `tombstones/b<seq>_<batchId>` root and made
    * visible by one manifest commit (the
    * [[graft.ext.IndexLayout.stageAppendBatch]] discipline) — a replay
    * before the commit overwrites the same invisible root
    * (idempotent); a replay after a commit the checkpoint never
    * recorded stages a fresh uniquely-named root whose duplicate ids
    * are harmless by the id-shadowing contract (bounded: one per
    * crash-in-the-window) and cleared at the next compaction. No
    * tombstone is ever lost, and a kill can never leave a
    * reader-visible partial batch.
    *
    * WRITER CONTRACT: this stream IS the index's single maintenance
    * writer while it runs — stop it before compacting (compaction
    * retires the whole tombstone frame; a delete landing mid-window
    * would be silently resolved-away), exactly the s15 delta-
    * compaction discipline. `checkpoint` couples to the index's
    * tombstone state: re-pointing a fresh checkpoint at a served index
    * is safe (replays rewrite their own dirs), but clearing tombstones
    * without the checkpoint resurrects nothing — batch ids restart
    * only with a fresh checkpoint ([[perBatchSink]]'s contract). */
  def minhashDeleteStream(ids: DataFrame, indexPath: String,
      checkpoint: String, idCol: String = "doc_id",
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    indexDeleteStream(ids, indexPath,
      graft.ext.Dedup.MinhashIndexFormat, checkpoint, idCol, trigger)

  /** s18's vector-index twin: streaming takedown of a persisted IVF
    * index — same per-batch idempotent tombstone sink, same writer
    * contract ([[minhashDeleteStream]]); serving streams (s17) honor
    * the tombstones from their next micro-batch on. */
  def ivfDeleteStream(ids: DataFrame, indexPath: String,
      checkpoint: String, idCol: String = "vec_id",
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    indexDeleteStream(ids, indexPath,
      graft.ext.Similarity.IvfIndexFormat, checkpoint, idCol, trigger)

  private def indexDeleteStream(ids: DataFrame, indexPath: String,
      format: String, checkpoint: String, idCol: String, trigger: Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    perBatchSink(ids, checkpoint, trigger) { (batch, batchId) =>
      // one leased tombstone commit per micro-batch: a compaction that
      // starts between micro-batches holds the lease and the next batch
      // FAILS LOUDLY (and replays after the compaction releases) instead
      // of writing a tombstone the flip would silently resolve away.
      // The manifest is re-read per batch, and the root is named
      // `b<seq>_<batchId>`: a replay that found the manifest unchanged
      // overwrites its own root (idempotent); a replay whose first
      // attempt DID commit stages a fresh uniquely-named root, whose
      // duplicate ids are harmless by the id-shadowing contract and
      // cleared at the next compaction. coalesce(1): one file per batch.
      graft.ext.IndexLayout.appendTombstones(batch.sparkSession, indexPath,
        format, batch.coalesce(1), idCol, seq => s"b${seq}_$batchId")
    }
  }

  /** s11 — streaming CDC against a standing snapshot: as re-crawled
    * documents arrive, classify each against the stored corpus —
    * `added` (id never seen) or `changed` (id present with different
    * content); unchanged arrivals emit nothing, so the output is
    * delta-sized. The streaming half of the x19 snapshot diff: `removed`
    * is unobservable from a stream (a doc that never arrives again is
    * indistinguishable from one not yet arrived) — detecting removals
    * is the batch diff's job at snapshot close.
    *
    * Stateless by construction: the standing side is reduced to its
    * (id, digest) index — at 100 TB of corpus that's ~72 bytes/doc,
    * the thing you'd keep bucketed on id next to the corpus — and the
    * stream-static left join holds NO streaming state (no watermark
    * needed); content never shuffles on either side. */
  def cdcStream(newDocs: DataFrame, oldSnap: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val oldIdx = oldSnap.select(col(idCol), sha2(col(textCol), 256).as("_old_sha"))
    newDocs
      .select(col(idCol), sha2(col(textCol), 256).as("_new_sha"))
      .join(oldIdx, Seq(idCol), "left_outer")
      .withColumn("status",
        when(col("_old_sha").isNull, "added")
          .when(col("_old_sha") =!= col("_new_sha"), "changed"))
      .filter(col("status").isNotNull)
      .select(col(idCol), col("status"))
  }

  /** Tumbling 1-day event-time window over the categorized stream —
    * the streaming-native form of the reference's per-day aggregation.
    * Watermark bounds state; UTC day windows align with calendar days. */
  def dailyCategoryTotals(events: DataFrame): DataFrame =
    Viewing.validRows(Viewing.categorize(events))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("Type"))
      .agg(sum(Viewing.cents).as("value_cents"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("Type"), col("value_cents"))

  /** s12 — daily distinct users over the stream, via HLL: exact
    * count-distinct is not expressible in a watermarked streaming
    * aggregation without unbounded per-window key state, so this is
    * THE streaming form of the cardinality question — mergeable
    * sketch partials (commutative, deterministic for fixed data), the
    * same trade g16 makes at rest. rsd=0.005; the wrapper pins the g16b
    * contract (estimate within ±5% = 10 standard errors of the
    * batch-exact count, a band that dominates the configured error on
    * any data), which is what an oracle CAN check — the sketch value
    * itself is engine-specific. */
  def dailyDistinctUsers(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"))
      .agg(approx_count_distinct(col("user_id"), 0.005).as("approx_users"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("approx_users"))

  /** s20 — streaming DISTRIBUTION monitor: per-source q-digest of the
    * arriving documents' lengths ([[graft.functions.QDigestAggregator]]
    * as a streaming aggregation) — the quantile leg of the streaming
    * sketch symmetry (s12 streams the HLL). A live corpus-ingest
    * pipeline watches its length/score quantiles per source as docs
    * arrive (truncation cliffs and boilerplate floods move quantiles
    * long before means); the exact answer needs per-group sorted state
    * a stream cannot hold, the digest keeps O(k) state per source.
    * Complete mode (s1's rationale); the digest CONTENTS depend on the
    * micro-batch merge tree, but the ε·n rank-bound contract is
    * order-independent (the whole point of mergeable summaries), so
    * the batch query's oracle covers the streamed run verbatim —
    * s16 = v9's pattern, with a bound instead of bit-equality. */
  def sourceLengthDigests(docs: DataFrame,
      k: Int = graft.functions.QDigest.DefaultK,
      m: Int = graft.functions.QDigest.DefaultM): DataFrame = {
    val qd = udaf(new graft.functions.QDigestAggregator(k, m))
    docs.select(col("source"),
      graft.functions.QDigest.clampToUniverse(col("n_chars"), m).as("v"))
      .groupBy("source").agg(qd(col("v")).as("digest"))
  }

  /** s21 — streaming heavy-hitter tokens: t33's Misra-Gries summary
    * ([[graft.functions.FreqItemsAggregator]]) kept by a streaming
    * aggregation over the arriving documents' tokens — the last leg of
    * the streaming sketch symmetry (HLL s12, q-digest s20, frequent
    * items here). A live ingest pipeline watches its hot tokens as
    * docs arrive (a boilerplate flood or scraper loop shows up as a
    * token shooting into the summary); the exact answer needs
    * unbounded per-token state, the summary k counters. Complete mode;
    * the summary CONTENTS depend on the micro-batch merge tree, but
    * the Misra-Gries guarantees (pure undercount, N/(k+1) bound) are
    * merge-order-independent — Agarwal et al.'s mergeability result —
    * so the batch query's oracle covers the streamed run verbatim. */
  def tokenHeavyHitters(docs: DataFrame,
      k: Int = graft.functions.FreqItems.DefaultK): DataFrame = {
    val mg = udaf(new graft.functions.FreqItemsAggregator(k))
    docs.select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("tok"))
      .agg(mg(col("tok")).as("summary"))
  }

  /** s22 — streaming per-segment DISTINCT-SET sketches: one bottom-k
    * user sketch per event type, kept by a streaming aggregation as
    * events arrive (k-bounded state per segment). A bottom-k sketch is
    * EXACTLY merge-order independent (bottomK(S) is a pure function of
    * the set), so the maintained sketches are bit-identical to a batch
    * build over the same events under ANY micro-batch schedule — the
    * strongest batch≡stream form in the library (s16's bit-equality,
    * for a summary). Complete mode, |event types| rows. */
  def userSegmentSketches(events: DataFrame,
      k: Int = graft.functions.Theta.DefaultK): DataFrame = {
    val th = udaf(new graft.functions.ThetaSketchAggregator(k))
    events.select(col("event_type").as("seg"),
        xxhash64(col("user_id")).as("h"))
      .groupBy("seg").agg(th(col("h")).as("sk"))
  }

  /** Sliding 2-day/1-day event-time windows over the categorized stream
    * — the overlapping-window form of [[dailyCategoryTotals]] (each
    * event lands in exactly two windows), the standard shape for
    * trailing-48h dashboards that refresh daily. Slide divides duration,
    * so Spark assigns windows by pure arithmetic (no window explosion
    * beyond the fixed factor of 2); the watermark bounds state to the
    * two open windows per key. Integer-cents aggregation keeps the
    * batch≡stream oracle exact under any merge order. */
  def slidingCategoryTotals(events: DataFrame): DataFrame =
    Viewing.validRows(Viewing.categorize(events))
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "2 days", "1 day"), col("Type"))
      .agg(sum(Viewing.cents).as("value_cents"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("win_start"),
        date_format(col("window.end"), "yyyy-MM-dd").as("win_end"),
        col("Type"), col("value_cents"))

  /** s13 — daily hot keys, streaming side: watermarked per-(day,
    * event_type) integer-cents totals over the valid rows — s1's state
    * shape keyed by the RAW event type. This is the part that must run
    * incrementally (bounded state: one row per open window × key); the
    * top-k rank over finished windows is a serving query against the
    * continuously-maintained result table
    * ([[graft.analytics.ExtPipelines.streamHotTypes]]), not something
    * streaming state needs to hold — ranking inside the stream would
    * force per-window re-emission on every update, which Append-mode
    * semantics rightly refuse. */
  def dailyTypeTotals(events: DataFrame): DataFrame =
    Viewing.validRows(Viewing.categorize(events))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(sum(Viewing.cents).as("value_cents"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("value_cents"))

  /** s14 — daily event-rate counts, streaming side: the state a
    * volume-anomaly monitor maintains incrementally (one integer per
    * open (day, type) window — s13's shape with count instead of
    * cents). The declared watermark is what bounds that state in the
    * production Append-mode deployment; the local harness
    * ([[runToBatch]]'s default Complete mode, which s14's serving query
    * needs to see every window in one finite run) does NOT evict on it
    * — Complete mode keeps all windows by definition. The spike
    * CLASSIFICATION over finished
    * windows is a serving query on this continuously-maintained table
    * ([[graft.analytics.ExtPipelines.streamSpikes]]): day-over-day
    * comparison needs the PREVIOUS day's final count, which Append-mode
    * state rightly refuses to re-open — the monitor reads the result
    * table, the stream only keeps it fresh. */
  def dailyTypeCounts(events: DataFrame): DataFrame =
    Viewing.validRows(Viewing.categorize(events))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"))

  /** Stream-static enrichment join: the stream side joins a broadcast
    * static dimension — stateless, and the stream never shuffles; the
    * standard pattern for attaching slowly-changing dimensions to a
    * firehose (the dimension re-broadcasts per micro-batch, so an
    * updated dimension table is picked up without restarting). */
  def enrichWithSegment(events: DataFrame, customer: DataFrame): DataFrame =
    events.select(col("event_id"), col("user_id"))
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_mktsegment").as("segment"))

  /** Streaming flagship profile: the SAME mergeable per-user state the
    * batch and incremental forms use (`ViewingCore.profileState`), kept
    * by the engine's state store across micro-batches, finalized per
    * emission.
    * Complete output mode — no watermark, one state row per user, the
    * same state bound as the batch groupBy (and as [[dedupStream]]);
    * enrichment is stateless post-aggregation projection. The third
    * equivalent form of the flagship (batch single-pass, incremental
    * state-merge, streaming) — all three against one oracle. */
  def profileStream(events: DataFrame): DataFrame =
    Viewing.fullPipeline(events)

  /** Streaming exact dedup: emit each (user_id, event_type) key once, on
    * first arrival. Exact global dedup necessarily keeps one state row
    * per distinct key (that IS the problem statement — same state bound
    * as the batch groupBy, kept incrementally). When business rules
    * tolerate re-emission after a quiet period, bound state with
    * [[dedupStreamWithinWatermark]] instead. */
  def dedupStream(events: DataFrame): DataFrame =
    events.select("user_id", "event_type").dropDuplicates("user_id", "event_type")

  /** Bounded-state variant: duplicates are only suppressed while the key
    * is within the watermark horizon; state older than the delay is
    * evicted. The right trade at 100 TB/day when duplicates only arise
    * from short-horizon retries (at-least-once sources), not from
    * genuine key recurrence. */
  def dedupStreamWithinWatermark(events: DataFrame, delay: String = "1 day"): DataFrame =
    events.select(col("user_id"), col("event_type"), col("ts"))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Stream-stream interval join: non-purchase events join purchases by
    * the same user within the preceding day. Both sides carry watermarks
    * and the join condition bounds event-time distance, so the state
    * store evicts rows once they can no longer match — bounded state on
    * an unbounded stream, keyed (and shuffled) only on user_id. The
    * batch twin is `Pipelines.attributionRangeJoin` (same oracle). */
  def attributionStream(spark: SparkSession, dir: String): DataFrame = {
    val points = eventsStream(spark, dir)
      .filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 day")
    val purchases = eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("r_user"), col("event_id").as("purchase_id"),
        col("ts").as("r_ts"))
      .withWatermark("r_ts", "1 day")
    points.join(purchases,
      col("user_id") === col("r_user") &&
        col("p_ts") >= col("r_ts") &&
        col("p_ts") < col("r_ts") + expr("INTERVAL 1 DAY"))
      .select("event_id", "purchase_id")
  }

  // ---- stateful sessionization ----

  final case class SessEvent(user_id: Long, ts_us: Long, cents: Long)
  final case class Session(user_id: Long, session_start_us: Long,
      n_events: Long, total_cents: Long)

  /** Gap-based sessionization via flatMapGroupsWithState: events within
    * `gapUs` of the previous event share a session. Single-batch replay
    * sorts per group; the unbounded form keeps (lastTs, open session) as
    * state and emits on timeout — custom state Spark's built-in windows
    * can't express. */
  def sessionize(events: Dataset[SessEvent], gapUs: Long = 30L * 60 * 1000000)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Session], Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[SessEvent], state: GroupState[List[Session]]) =>
          val evs = it.toArray.sortBy(e => (e.ts_us, e.cents))
          val out = List.newBuilder[Session]
          var start = -1L; var last = -1L; var n = 0L; var cents = 0L
          evs.foreach { e =>
            if (start < 0 || e.ts_us - last > gapUs) {
              if (start >= 0) out += Session(user, start, n, cents)
              start = e.ts_us; n = 0L; cents = 0L
            }
            last = e.ts_us; n += 1; cents += e.cents
          }
          if (start >= 0) out += Session(user, start, n, cents)
          out.result().iterator
      }
  }

  /** Batch-equivalent sessionization via window functions (lag → gap
    * flag → running sum as session id). Same output as [[sessionize]];
    * oracle-expressible, so it anchors the streaming op's correctness. */
  def sessionizeBatch(events: DataFrame, gapUs: Long = 30L * 60 * 1000000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts_us")
    val flagged = events
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        Viewing.cents.as("cents"))
      .withColumn("prev_us", lag("ts_us", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum("new_sess")
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy("user_id", "sess_id")
      .agg(min("ts_us").as("session_start_us"),
        count(lit(1)).as("n_events"),
        sum("cents").as("total_cents"))
      .select("user_id", "session_start_us", "n_events", "total_cents")
  }

  /** Sink-ready enriched event stream: valid categorized rows with
    * integer cents and their event-time day — the layout a daily lake
    * partition wants ([[parquetSink]] partitions on `day`). Works on
    * batch and stream frames alike (stateless, so Append-mode clean). */
  def enrichedForLake(events: DataFrame): DataFrame =
    Viewing.validRows(Viewing.categorize(events))
      .select(col("event_id"), col("user_id"), col("Type"),
        Viewing.cents.as("value_cents"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))

  /** Partitioned-parquet streaming SINK with checkpointed EXACTLY-ONCE
    * restart — the missing write half of the streaming family (the
    * other operators compute; this lands results durably).
    *
    * The exactly-once argument, spelled out because the restart spec
    * relies on each step:
    *  1. the checkpoint's offset log records, per micro-batch id, the
    *     exact source slice (file list) BEFORE the batch runs — a
    *     replayable source re-produces the same slice on re-execution;
    *  2. the parquet sink is IDEMPOTENT per batch id: a batch's output
    *     files are registered in the sink's `_spark_metadata` log in
    *     one atomic commit keyed by that id, and a restart that
    *     re-executes an uncommitted batch commits it exactly once (an
    *     id already present is skipped);
    *  3. files from a KILLED attempt are orphaned on disk but absent
    *     from the metadata log, and metadata-aware readers (any
    *     `spark.read.parquet` on the sink path) list files FROM the
    *     log — so partial output is invisible, not double-counted.
    * Replayable source + deterministic batch slices + idempotent
    * commit = end-to-end exactly-once across kill/restart, verified in
    * StreamingSpec by killing mid-stream and comparing the drained
    * sink against the batch oracle of the same input.
    *
    * Scale notes: `partitionBy(day)` gives the lake layout whose
    * pruned reads the m2/m1 experiment measures; one metadata commit
    * per batch is the driver-side cost, independent of data volume;
    * compaction of many small per-batch files is a downstream concern
    * (the standard daily-compaction job), not a correctness one. */
  def parquetSink(df: DataFrame, path: String, checkpoint: String,
      partitionCols: Seq[String] = Seq("day"),
      trigger: Trigger = Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy(partitionCols: _*)
      .trigger(trigger)
      .start()
}
