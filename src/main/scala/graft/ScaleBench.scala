package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.sources.Tables

/** Empirical scale check: does every headline operator scale ~linearly
  * from sf0.1 to a 10x tier, or does one hide super-linear work that a
  * 1000x step to 100 TB would expose?
  *
  * The 10x tier is materialized ONCE under `target/scale/sf1` by
  * replicating the driver-generated sf0.1 tables with per-replica key
  * offsets — NOT by naive row duplication, which would corrupt the work
  * profile of exactly the operators worth measuring:
  *
  *   - every foreign-key family (orderkey/custkey/partkey/suppkey,
  *     event user_id, doc_id, vec_id) is offset by `replica * STRIDE`,
  *     so join fan-outs and group cardinalities scale with the data the
  *     way a real SF step scales them (10x groups of the same size, not
  *     same groups 10x taller);
  *   - document text is token-salted per replica (`tok` -> `tok_r3`),
  *     so exact/near-dup structure is preserved WITHIN each replica and
  *     absent ACROSS replicas — naive duplication would instead make
  *     every doc a 10-way duplicate group and blow the minhash/simhash
  *     candidate-pair count up quadratically, measuring an artifact of
  *     the copy, not the operator; one SALT-INVARIANT beacon token
  *     ([[HeavyBeacon]]) is appended per salted doc so the heavy-hitter
  *     rows stay non-vacuous at the replica tiers;
  *   - ANN query sets are pinned by `vec_id < k` predicates, so only
  *     replica 0 qualifies: fixed queries against a 10x corpus — the
  *     scaling an ANN index actually faces in production.
  *
  * Fixed dimension tables (region, nation) are copied as-is, mirroring
  * TPC-H SF semantics.
  *
  * Emits one JSON line: per-tier per-query median seconds and the
  * sf1/sf0.1 ratio. Linear-or-better operators land at or below ~10
  * (usually well below — sf0.1 partitions underfill 32 cores); a ratio
  * far above 10 flags super-linear work.
  */
object ScaleBench {

  /** Key stride between replicas — far above any sf0.1 key. */
  private val Stride = 1000000000L

  /** The SALT-INVARIANT heavy token planted once per salted-replica
    * doc: token salting deliberately divides every original token's
    * mass by the replica count (preserving near-dup linearity), which
    * left the heavy-hitter rows (t33/s21) VACUOUS at the replica tiers
    * — no token reached the 1% threshold, so "0 rows = 0 rows" was the
    * only 100× evidence. The beacon escapes the salt (appended AFTER
    * it, identical across replicas), so its share is deterministic at
    * every tier: (R−1)·nDocs beacon tokens over R·nTokens + (R−1)·nDocs
    * total ≈ 1/(avgDocTokens+1) ≈ 1.6–1.8% on this testdata — exactly
    * one planted heavy row, engine and oracle agreeing. Construction
    * safety: appended after salting, every 3-token shingle containing
    * the beacon also contains a replica-salted neighbor, so
    * cross-replica shingle disjointness (the near-dup linearity pin)
    * is preserved; replica 0 stays byte-identical to the source. */
  private[graft] val HeavyBeacon = "graftbeacon"

  /** Tier layout version, stamped into the completion marker: bumping
    * it invalidates cached `target/scale` tiers built by older
    * generator code (which e.g. lacked the beacon token) so a stale
    * tier is rebuilt instead of silently measured. */
  private[graft] val ReplicatedMarker = "_REPLICATED_v2"

  /** Whether `dir` holds a COMPLETE tier built by THIS generator
    * version — the check every tier consumer must use. Bench once
    * hard-coded the pre-v2 marker name here, so its 10x experiment
    * silently re-replicated the tier on every run (~20 s of untimed
    * I/O per bench invocation). */
  private[graft] def isReplicated(dir: String): Boolean =
    new java.io.File(s"$dir/$ReplicatedMarker").exists()

  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Headline operators with distinct scaling risks: scan+agg (g1,
    * flagship), exact dedup shuffle (x1), LSH banding (x4), per-row
    * codegen (t2, t3), distributed prefix sum (t13), span dedup (x13),
    * brute-force + bucketed ANN (v1, v2), stateful sessionization (s2),
    * per-shard shuffle window (t17). x15 is deliberately absent: the
    * replica builder copies embedding VECTORS verbatim (only vec_id is
    * restrided), so every cross-replica copy pair has cosine 1.0 and
    * the intra-cluster removal count grows quadratically BY DATA
    * CONSTRUCTION — it would measure the replica artifact, not the
    * operator (whose scale discipline is k ∝ corpus, documented and
    * plan-pinned instead).
    */
  val queries: Seq[String] = Seq(
    "t17_shuffled_shards",
    "flagship_profile",
    "g1_pricing_summary",
    "x1_dedup_exact",
    "x4_neardup_minhash",
    "t2_quality_signals",
    "t3_lang_id",
    "t13_token_shards",
    "x13_span_dedup",
    "x9_dedup_clusters",
    "x10_contamination",
    "v1_cosine_topk",
    "v2_ann_lsh_topk",
    "s2_sessionize_batch",
    "t19_bm25",
    "x17_bloom_ingest",
    "v8_ann_pq_topk",
    "t20_lm_coverage",
    "t21_importance_ratio",
    "x19_snapshot_diff",
    "v10_centroid_outliers",
    "t25_phrase_search",
    "t26_bpe_pairs",
    "x20_corpus_refresh",
    "x21_change_magnitude",
    "x22_next_snapshot",
    "t27_source_drift",
    // round-10: per-doc window top-k over a corpus-wide df join (t28)
    // and the two-sided bounded-sample centroid join (v11). x23 is
    // deliberately absent: exact all-pairs BY SPECIFICATION (the
    // oracle baseline, like v6) — its scale path is candidate blocking
    // + the same verify, measured via x4/x6.
    "t28_tfidf_keywords",
    "v11_centroid_drift",
    // round-11: merge-table training (vocabulary-bounded shuffle) +
    // per-row greedy encode — the corpus-proportional work is the scan
    "t30_tokenizer_encode",
    // round-11 second wave: basket pair explosion (bounded by basket
    // size, not corpus — orderkeys are replica-offset so baskets stay
    // TPC-H-sized), charset-bounded LM broadcast scoring, and the
    // per-round broadcast-argmin k-means scan. x25 is deliberately
    // absent, x23-style: p_brand has 25 values at every SF, so
    // replication grows each block linearly and the pair count
    // quadratically — the scaladoc's documented Σblock² bound, not a
    // regression worth harness time. Its production twin x25b is ALSO
    // absent in full form, but for the opposite reason: part names are
    // replicated VERBATIM (only keys offset), so the true OUTPUT
    // itself grows quadratically across replicas — a lower bound no
    // algorithm undercuts, and x25b's corpus-side stages are exactly
    // output-sized joins. The stage whose scaling is actually in
    // question — the distinct-name candidate+verify — is measured
    // below as x25b_name_pairs (expect ~flat: replication adds rows,
    // not names).
    "g30_copurchase_pairs",
    "t31_bigram_nll",
    "v13_kmeans_lloyd",
    // round-11 third wave: NB scoring is one vocab-bounded model
    // shuffle + a broadcast-join scan (t20's shape); IVF-PQ's
    // candidate stage reads ~nProbe/nList of the packed codes; x26
    // measures the persist+ingest round trip — index build ∝ corpus,
    // probe ∝ batch (the batch is replica-scaled too, so the ratio
    // reflects both sides growing)
    "t32_nb_quality",
    "v14_ann_ivfpq_topk",
    "x26_minhash_index_ingest",
    // round-11 third wave: both are the mergeable-summary shapes whose
    // whole point is the 100 TB tier — t33's Misra-Gries partials are
    // k-bounded per task (the exact audit side it carries is a
    // vocab-bounded shuffle, linear in the scan), g32's daily HLL rows
    // are O(|days|) regardless of volume. x27 is deliberately absent,
    // x3-style: containment with the df cap OFF is the exact oracle
    // form; its scale path is the capped variant measured via x4's
    // shingle machinery. v16's greedy stage is corpus-free by
    // construction (|queries|·nCand rows), so the scan it would
    // measure is v1's, already covered.
    "t33_heavy_hitters",
    "g32_sketch_rollup",
    // round-12: the SQL-text joins (linear scan+join work), the
    // product-analytics rollups (fact reduced to user-day / per-stage
    // user rows before any join), the zero-shuffle broadcast range
    // scan (output ∝ corpus at fixed queries), the serving-path ingest
    // (memoized per-tier index, warmup-absorbed — the timed cost is
    // the batch side, which scales with the tier), and the label-
    // consumer audit (same memoization for the x24b artifact)
    "sql9_multi_join",
    "sql10_window_dedup",
    "g34_retention_cohorts",
    "g35_funnel",
    "v17_range_search",
    "x26b_minhash_index_serve",
    "x28_dedup_stats",
    // round-13: the decorrelated LATERAL (scan + window + equi-join,
    // all linear) and the capped single-scan funnel twin (per-user
    // state bounded by the earliest-k aggregator, so the fold's cost
    // is capped per user no matter the tier). m5 is deliberately
    // absent, x23-style: its media side composes m4's exact all-pairs
    // BASELINE whose comparisons grow quadratically by specification —
    // the text side it composes is x4, measured above.
    // m4/m5 are deliberately absent: m4 is the all-pairs oracle
    // baseline by specification (x23's class), m5 an output-sized
    // composition of x4 (measured above) with it. A banded
    // quantized-L1 blocker for m4 was built and MEASURED HERE —
    // 22.6s at sf0.1 (the exact form: 0.77s) and ratio 14.8 at the
    // 10x tier — then removed: concentrated same-generator histograms
    // put hundreds of docs per eps-cell and the multiprobe inflates
    // candidates quadratically. See Multimodal.mediaNearDups scaladoc
    // for the perceptual-hash production path instead.
    "sql11_lateral_topn",
    "g35b_funnel_single_scan",
    // round-13 second wave: the recursive spine (12 one-row
    // iterations + one filter-pushed orders agg — only the scan is
    // corpus-proportional) and the perceptual-signature dedup (x1's
    // one-hash-shuffle class on a short string key)
    "sql12_recursive_spine",
    "m6_media_sig_dedup",
    // round-17: the q-digest quantile sketch — the third mergeable-
    // summary shape (t33/g32's class): digest partials are O(k) per
    // task, the per-source quantile walk touches |sources| rows, and
    // the exact-CDF audit side it carries is a (source, value)-bounded
    // shuffle, linear in the scan. (The replica generator's salted
    // tokens grow n_chars by ~60% — still inside the 2^10 universe the
    // query clamps to, so the bound booleans stay meaningful at every
    // tier.) v24/x31 are deliberately absent, x30/v23-style: both are
    // audit rows that BUILD fresh indexes per run (priced via x26c's
    // build rows); their production costs — one batch assignment plus
    // two k-bounded collects (v24), one manifest read plus a
    // delta-sized tombstone scan (x31) — have no corpus-scale term to
    // measure.
    "t35_quantile_sketch",
    // round-18: t36's persist-and-merge SERVING path — the production
    // claim is O(days) digest rows at serve time: the daily build is
    // one events scan with O(k)-bounded partials (t35's shape over the
    // cents column), the week merge touches |days| tiny rows, and the
    // exact-CDF audit it carries is a (week, value)-bounded shuffle,
    // linear in the scan — expect ~t35's ratio
    "t36_quantile_rollup",
    // round-18: the streamed heavy-hitter monitor, measurable at the
    // replica tiers since the salt-invariant beacon token (see
    // replicate) keeps exactly one planted heavy row above the 1%
    // threshold — the timed cost is the micro-batch drain over the
    // tier's documents plus the vocab-bounded exact audit
    "s21_stream_heavy_hitters",
    // round-18: the bottom-k distinct-set family — sketch aggregation
    // with O(k) partials (the t33/g32/t35 class); the corpus term of
    // both rows is the exact AUDIT self-join over deduped (seg, user)
    // pairs, segment-keyed and at most users×segments rows (users are
    // replica-offset, so the dedup scales linearly, not quadratically)
    "g36_theta_segments",
    "g37_theta_retention",
    // round-19: the streamed theta twin (g36's cost plus the
    // micro-batch drain — the s21 precedent: the drain is a real
    // corpus term at volume) and the PERSISTED sketch store served
    // end-to-end (daily build + store write + one committed day
    // append + the stored serve + g37's exact audit side — the store
    // I/O is O(days × segments × k), so expect ~g37's ratio with the
    // commit floor on top)
    "s22_stream_theta_segments",
    "g38_sketch_store_serve",
    // round-20: the store routed under the other two mergeable
    // families (same O(days × segments × payload) store I/O around
    // each family's in-query cost — expect ~g32's / ~t36's ratios)
    // and the streamed store arc (g38's class + the delta drain)
    "g39_hll_store_serve",
    "t37_qdigest_store_serve",
    "s23_stream_sketch_store")

  def replicate(spark: SparkSession, srcDir: String, outDir: String,
      replicas: Int): Unit = {
    for (name <- Tables.all) {
      val src = Tables(spark, srcDir, name)
      val out = keyCols.get(name) match {
        case None => src // fixed dims: region, nation
        case Some(keys) =>
          val rep = src.withColumn("_r",
            explode(sequence(lit(0L), lit(replicas - 1L))))
          val keyed = keys.foldLeft(rep)((df, k) =>
            df.withColumn(k, col(k) + col("_r") * lit(Stride)))
          val salted =
            if (name != "documents") keyed
            else keyed
              .withColumn("text", when(col("_r") === 0, col("text"))
                .otherwise(concat(concat_ws(" ",
                  transform(split(col("text"), " "),
                    t => concat(t, lit("_"), col("_r")))),
                  lit(" " + HeavyBeacon))))
              .withColumn("n_chars", when(col("_r") === 0, col("n_chars"))
                .otherwise(length(col("text")).cast("long")))
          salted.drop("_r")
      }
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    // written LAST: its presence proves every table landed at the
    // CURRENT generator version (an interrupted build must rebuild,
    // not half-skip; a version bump invalidates stale cached tiers)
    new java.io.File(s"$outDir/$ReplicatedMarker").createNewFile()
  }

  private def timeOnce(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** One untimed warmup then median of 3 (same rationale as
    * [[Bench.timeStats]]; 3 not 5 because the sf1 tier multiplies every
    * rep by ~10x). */
  private def med3(f: => Unit): Double = {
    timeOnce(f)
    Seq.fill(3)(timeOnce(f)).sorted.apply(1)
  }

  private def cacheTables(spark: SparkSession, dir: String): Unit =
    Tables.all.foreach(n =>
      Tables(spark, dir, n).persist(StorageLevel.MEMORY_AND_DISK).count())

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = args.headOption.getOrElse("target/scale/sf1")
    val replicas = sys.env.getOrElse("SPARK_GRAFT_REPLICAS", "10").toInt
    val spark = GraftSession.local(appName = "graft-scalebench")

    if (!new java.io.File(s"$outDir/$ReplicatedMarker").exists()) {
      val t = timeOnce(replicate(spark, srcDir, outDir, replicas))
      System.err.println(f"[scale] materialized ${replicas}x tier at $outDir in $t%.1fs")
    }

    def runNoop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // replicas == 1 would give both tiers the label "sf0.1" — suffix
    // the replica tier so the foldCurves key and every per-tier JSON
    // object key stay distinct (duplicate keys would silently shadow
    // the baseline tier's values in any JSON consumer)
    val tiers = Seq(("sf0.1", srcDir, 1),
      (s"sf${0.1 * replicas}" + (if (replicas == 1) "r" else ""),
        outDir, replicas))
    // per-tier x35 serve-vs-batches curves, collected alongside the
    // tier tuple (kept out of it: the tuple is at the arity limit)
    val foldCurves = scala.collection.mutable.Map[
      String, (Double, Double, Double, Double, Double, Double)]()
    val results = tiers.map { case (label, dir, factor) =>
      cacheTables(spark, dir)
      // x15 with its documented scale DISCIPLINE applied: k ∝ corpus, so
      // cluster size — and the per-cluster quadratic verify — stays
      // constant across tiers. A fixed k would measure the replica
      // artifact (verbatim-copied vectors all landing in one cluster),
      // not the operator. Lloyd path (nIters=1): the production
      // configuration, and its float-codegen assignment is what scales.
      val scaled: Seq[(String, () => DataFrame)] = Seq(
        "x15_semantic_dedup_kscaled" -> (() =>
          graft.ext.Dedup.semanticDedup(Tables.embeddings(spark, dir),
            nClusters = 8 * factor, eps = 0.4, nIters = 1)),
        // x25b's quadratic stage in isolation: distinct names are
        // invariant under verbatim replication, so this should be
        // ~flat across tiers — the evidence that the fuzzy-name verify
        // cost tracks the name VOCABULARY, not the corpus (the full
        // x25b is output-bound on this tier; see the comment above)
        "x25b_name_pairs" -> (() =>
          graft.ext.Dedup.jaroWinklerNamePairs(
            Tables(spark, dir, "part").select(
              col("p_brand").as("blk"), col("p_name").as("nm")))))
      // SPARK_GRAFT_ONLY=<substring>[,<substring>…] re-measures a subset
      // without paying for the full sweep (e.g. after optimizing one
      // operator)
      val only = sys.env.get("SPARK_GRAFT_ONLY")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      def wanted(q: String): Boolean =
        only.forall(_.exists(q.contains))
      val times = (queries.map(q =>
          q -> (() => SparkEntry.queries(q)(spark, dir))) ++ scaled)
        .filter { case (q, _) => wanted(q) }.map {
        case (q, mk) =>
          val sec = try med3(runNoop(mk()))
            catch { case e: Exception =>
              System.err.println(s"[scale] $q failed at $label: $e"); -1.0 }
          System.err.println(f"[scale] $label $q $sec%.3fs")
          q -> sec
      }
      // m2/m1 partition-pruned scan-strategy ratio AT THIS TIER: the
      // reference measured 2.45x at ~1.6M rows/day; sf0.1 measures ~6x
      // because a day is only ~3.3K rows and fixed per-branch cost
      // dominates. The convergence argument says the ratio FALLS as
      // per-day volume grows — this measures it at 10x per-day volume
      // instead of assuming it. Disk-to-disk on a day-partitioned copy
      // (same shape as Bench's m1p/m2p), warmup + median-of-3.
      val m2m1Pruned = try {
        val events = Tables.events(spark, dir)
        val partDir = s"target/scale/events_by_day_$label"
        graft.sources.ParquetSink.writePartitionedByDay(events, "ts", partDir)
        def readPart() = spark.read.parquet(partDir)
        val allDays = (1 to 30).map(d => f"2024-01-$d%02d")
        import graft.ops.Viewing
        val m1p = med3(runNoop(
          Viewing.durationByCategory(Viewing.validRows(Viewing.categorize(readPart())))))
        val m2p = med3(runNoop(
          allDays.map { d =>
            Viewing.durationByCategory(Viewing.validRows(Viewing.categorize(
              readPart().filter(col("day") === d))))
              .withColumn("Date", lit(d))
          }.reduce(_.unionByName(_))))
        System.err.println(f"[scale] $label m1p=$m1p%.3fs m2p=$m2p%.3fs ratio=${m2p / m1p}%.2f")
        if (m1p > 0) m2p / m1p else -1.0
      } catch { case e: Exception =>
        System.err.println(s"[scale] m2/m1 pruned failed at $label: $e"); -1.0 }
      // s15: the streaming parquet sink driven over THIS tier's events
      // — the exactly-once machinery (offset log, per-batch
      // _spark_metadata commit, day partitioning) has a driver-side
      // cost per batch that the fixture-scale restart spec can't see;
      // this measures the full drain at volume. Each rep gets a FRESH
      // sink + checkpoint (the cold checkpoint/commit path IS the cost
      // under measurement), one AvailableNow drain per rep.
      val sinkBase = s"target/scale/stream_sink_$label"
      val sinkSec = try {
        def runSink(): Unit = {
          val base = s"$sinkBase/${System.nanoTime()}"
          val q = graft.streaming.Streaming.parquetSink(
            graft.streaming.Streaming.enrichedForLake(
              graft.streaming.Streaming.eventsStream(spark, dir)),
            s"$base/data", s"$base/ck")
          q.awaitTermination()
        }
        val s = med3(runSink())
        System.err.println(f"[scale] $label s15_stream_sink $s%.3fs")
        s
      } catch { case e: Exception =>
        System.err.println(s"[scale] stream sink failed at $label: $e"); -1.0 }
      // the exactly-once RESTART property, re-verified at the replica
      // tier (untimed; the fixture-scale StreamingSpec proves it on 8
      // rows — this proves the same kill/resume against the tier's
      // real file multiplicity): kill after ≥1 committed batch, resume
      // from the same checkpoint, and the metadata-aware read-back
      // must hold exactly the batch oracle's rows — unique event ids
      // at the oracle's count means no batch replayed AND none lost.
      val sinkExactlyOnce: Option[Boolean] =
        if (factor == 1) None
        else Some(try {
          val base = s"$sinkBase/restart"
          def src() = graft.streaming.Streaming.eventsStream(spark, dir,
            maxFilesPerTrigger = Some(4))
          val q1 = graft.streaming.Streaming.parquetSink(
            graft.streaming.Streaming.enrichedForLake(src()),
            s"$base/data", s"$base/ck",
            trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
          val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
          while (q1.recentProgress.map(_.numInputRows).sum < 1 &&
              System.nanoTime() < deadline) Thread.sleep(25)
          q1.stop()
          val q2 = graft.streaming.Streaming.parquetSink(
            graft.streaming.Streaming.enrichedForLake(src()),
            s"$base/data", s"$base/ck")
          q2.awaitTermination()
          val sink = spark.read.parquet(s"$base/data")
          val oracleCount = graft.streaming.Streaming
            .enrichedForLake(Tables.events(spark, dir)).count()
          val ok = sink.count() == oracleCount &&
            sink.select("event_id").distinct().count() == oracleCount
          System.err.println(s"[scale] $label s15_exactly_once_ok=$ok")
          ok
        } catch { case e: Exception =>
          System.err.println(s"[scale] sink restart check failed at $label: $e")
          false
        })
      // the sink outputs are a measurement artifact, not a fixture —
      // reclaim the disk before the next tier
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sinkBase))
      // x26 partition-pruning READ evidence at the replica tier. A
      // timed read pair cannot show it on this box (the index just
      // landed in the page cache and both variants are job-overhead-
      // bound at ~0.1s), so the evidence is BYTES, which is what the
      // pruning actually saves: the ExtSpec PartitionFilters pin
      // proves the pruned scan reads ONLY the candidate buckets'
      // directories, and this measures what fraction of the stored
      // shingle frame those directories hold — the per-batch read
      // reduction a disk-resident corpus gets.
      val readFraction: Double =
        if (factor == 1) -1.0
        else try {
          val idxBase = s"target/scale/mh_idx_$label"
          val idxPath = s"$idxBase/idx"
          // the manifest is the cache validity check too: a _BUILT
          // marker over a pre-manifest (or older-constant) layout must
          // not be measured as if it were current
          val cached = new java.io.File(s"$idxBase/_BUILT").exists() &&
            graft.ext.IndexLayout.readManifest(spark, idxPath).isDefined
          if (!cached) {
            org.apache.commons.io.FileUtils
              .deleteQuietly(new java.io.File(idxBase))
            // CORPUS-SIZED bucket count (the manifest sizing rule): a
            // fixed count degrades the pruned fraction as the corpus
            // grows past it — buckets ≈ nDocs / 1000 keeps a roughly
            // constant docs-per-bucket slice, so the fraction a fixed
            // candidate rate (~nDocs/9973 ids here) reads stays ≈ flat
            // across tiers instead of saturating the bucket set
            val corpus = Tables.documents(spark, dir).select("doc_id", "text")
            val nb = math.max(graft.ext.Dedup.MinhashIndexBuckets,
              (corpus.count() / 1000L).toInt)
            val t = timeOnce(graft.ext.Dedup.saveMinhashIndex(
              corpus, idxPath, idBuckets = nb))
            System.err.println(
              f"[scale] $label x26 index built in $t%.1fs ($nb buckets)")
            new java.io.File(s"$idxBase/_BUILT").createNewFile()
          }
          // bucket count FROM the manifest — the measurement reads the
          // layout exactly the way a foreign maintenance binary must
          val nb = graft.ext.Dedup
            .minhashIndexParams(spark, idxPath)("buckets").toInt
          val candIds = Tables.documents(spark, dir)
            .select(col("doc_id").as("b_id"))
            .filter(col("b_id") % 9973 === 0).distinct()
          val buckets = candIds
            .select(graft.ext.Dedup.idBucket(col("b_id"), nb).as("bk"))
            .distinct().collect().map(_.getInt(0)).toSeq
          def dirBytes(f: java.io.File): Long =
            if (f.isFile) f.length
            else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
          // fresh build ⇒ the whole frame sits in generation 0
          val shRoot = new java.io.File(s"$idxPath/shingles/g0")
          val all = dirBytes(shRoot)
          val sel = buckets
            .map(b => dirBytes(new java.io.File(shRoot, s"bucket=$b"))).sum
          val frac = if (all > 0) sel.toDouble / all else -1.0
          System.err.println(
            f"[scale] $label x26 pruned read: ${buckets.length} of $nb buckets, $sel of $all bytes ($frac%.3f)")
          frac
        } catch { case e: Exception =>
          System.err.println(s"[scale] x26 read evidence failed at $label: $e")
          -1.0
        }
      // x26c append-cost evidence: build a FRESH index over THIS tier's
      // corpus (timed once — the O(corpus) side of the amortization),
      // then append a FIXED 500-doc batch (replica-0 ids, identical at
      // both tiers) and time the append. appendToMinhashIndex never
      // reads, lists, or rewrites standing data, so the append time
      // must stay ~FLAT across the 10× corpus step (ratio ≈ 1) while
      // the build scales with the tier — the measured form of
      // "maintenance is O(batch), not O(corpus)". Temp index per run
      // (deleted below) so repeated appends never drift the
      // read-fraction index above across rounds.
      // x26d delete/compaction evidence rides the same index: a FIXED
      // 500-id tombstone delete must stay ~FLAT across the 10× corpus
      // step (deleteFromMinhashIndex writes the id set and nothing
      // else — the measured form of "O(delete), standing data
      // untouched"), while the compaction that physically resolves it
      // is ALLOWED to grow with the tier (its bands rewrite is the
      // documented amortized O(corpus) term; shingles/sizes stay
      // bucket-pruned) — both numbers are printed so the contrast is
      // the evidence.
      // x30/v23 re-parameterization evidence rides the same index (and
      // a tier-sized IVF one): rebucket MOVES every stored shingle/size
      // row and retrain re-assigns every vector, so both are ALLOWED to
      // grow with the tier (the documented O(corpus) of a scheduled
      // re-parameterization) — the evidence is the ratio staying at or
      // below the tier factor (no super-linear term from the
      // generation-composed read path) alongside the flat append/delete.
      val (appendBuildSec, appendSec, deleteSec, compactSec, rebucketSec) =
        maintMinhashBlock(spark, dir, label)
      val retrainSec = maintRetrainBlock(spark, dir, label)
      // x35 SERVE-vs-BATCHES curve: the composition-length trigger's
      // measured justification. Build a tier-sized index, then time the
      // SAME fixed-probe serve at 0 / 1 / 8 / 32 committed append
      // batches, fold (the autopilot's verb), and time it once more —
      // the curve shows what each committed batch root adds to a serve
      // (one more root of small files to list and open) and that the
      // fold returns the serve to its baseline. The appended batches
      // are tiny (250 docs each; ≤ 8K docs total against the tier
      // corpus) so the growth measured is fragmentation, not data
      // volume.
      val foldCurve: (Double, Double, Double, Double, Double, Double) = {
        val tmp = java.nio.file.Files
          .createTempDirectory(s"graft_scale_fold_$label")
        try {
          val p = tmp.toString + "/idx"
          val corpus = Tables.documents(spark, dir).select("doc_id", "text")
          graft.ext.Dedup.saveMinhashIndex(corpus, p)
          val probe = corpus.filter(col("doc_id") < 500)
            .withColumn("doc_id", col("doc_id") + lit(99L * Stride))
            .persist(StorageLevel.MEMORY_AND_DISK)
          probe.count()
          def appendBatches(from: Int, n: Int): Unit =
            (from until from + n).foreach { i =>
              graft.ext.Dedup.appendToMinhashIndex(
                corpus.filter(col("doc_id") >= 1000 + i * 250L &&
                    col("doc_id") < 1000 + (i + 1) * 250L)
                  .withColumn("doc_id",
                    col("doc_id") + lit((200L + i) * Stride)), p)
            }
          def serve(): Double = med3(runNoop(
            graft.ext.Dedup.nearDupIngestFromPath(spark, p, probe)))
          val s0 = serve()
          appendBatches(0, 1)
          val s1 = serve()
          appendBatches(1, 7)
          val s8 = serve()
          appendBatches(8, 24)
          val s32 = serve()
          val foldSec = timeOnce(
            graft.ext.Dedup.foldMinhashComposition(spark, p))
          val sAfter = serve()
          probe.unpersist(blocking = false)
          System.err.println(
            f"[scale] $label x35 serve-vs-batches: b0=$s0%.3fs b1=$s1%.3fs " +
              f"b8=$s8%.3fs b32=$s32%.3fs fold=$foldSec%.2fs " +
              f"after_fold=$sAfter%.3fs")
          (s0, s1, s8, s32, foldSec, sAfter)
        } catch { case e: Exception =>
          System.err.println(s"[scale] fold curve failed at $label: $e")
          (-1.0, -1.0, -1.0, -1.0, -1.0, -1.0)
        } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
      }
      spark.catalog.clearCache()
      foldCurves(label) = foldCurve
      (label, times, m2m1Pruned, sinkSec, sinkExactlyOnce, readFraction,
        appendBuildSec, appendSec, deleteSec, compactSec, rebucketSec,
        retrainSec)
    }

    val Seq((l0, t0, r0, k0, _, _, ab0, aa0, dd0, cc0, rb0, rt0),
      (l1, t1, r1, k1, eo1, rfr1, ab1, aa1, dd1, cc1, rb1, rt1)) = results
    val fc0 = foldCurves(l0)
    val fc1 = foldCurves(l1)
    def fmt(ts: Seq[(String, Double)]): String =
      ts.map { case (q, s) => f""""$q":$s%.4f""" }.mkString("{", ",", "}")
    val ratios = t0.zip(t1).map { case ((q, a), (_, b)) =>
      f""""$q":${if (a > 0 && b > 0) b / a else -1.0}%.2f"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_ratio_10x","replicas":$replicas,""" +
      s""""tiers":{"$l0":${fmt(t0)},"$l1":${fmt(t1)}},"ratio":$ratios,""" +
      f""""m2_over_m1_pruned":{"$l0":$r0%.2f,"$l1":$r1%.2f},""" +
      f""""s15_stream_sink_sec":{"$l0":$k0%.3f,"$l1":$k1%.3f},""" +
      s""""s15_exactly_once_ok":${eo1.getOrElse(false)},""" +
      f""""x26_pruned_read_fraction":$rfr1%.4f,""" +
      f""""x26c_index_build_sec":{"$l0":$ab0%.3f,"$l1":$ab1%.3f},""" +
      f""""x26c_fixed_batch_append_sec":{"$l0":$aa0%.3f,"$l1":$aa1%.3f},""" +
      f""""x26c_append_ratio_10x":${if (aa0 > 0 && aa1 > 0) aa1 / aa0 else -1.0}%.2f,""" +
      f""""x26d_fixed_id_delete_sec":{"$l0":$dd0%.3f,"$l1":$dd1%.3f},""" +
      f""""x26d_delete_ratio_10x":${if (dd0 > 0 && dd1 > 0) dd1 / dd0 else -1.0}%.2f,""" +
      f""""x26d_compact_sec":{"$l0":$cc0%.3f,"$l1":$cc1%.3f},""" +
      f""""x30_rebucket_sec":{"$l0":$rb0%.3f,"$l1":$rb1%.3f},""" +
      f""""x30_rebucket_ratio_10x":${if (rb0 > 0 && rb1 > 0) rb1 / rb0 else -1.0}%.2f,""" +
      f""""v23_retrain_sec":{"$l0":$rt0%.3f,"$l1":$rt1%.3f},""" +
      f""""v23_retrain_ratio_10x":${if (rt0 > 0 && rt1 > 0) rt1 / rt0 else -1.0}%.2f,""" +
      fmtCurve(l0, fc0) + "," + fmtCurve(l1, fc1) + "}")
    spark.stop()
  }

  /** The MinHash-index maintenance experiment (x26c build/append, x26d
    * delete/compact, x30 rebucket) at one tier — shared verbatim
    * between the full sweep and [[MaintBench]]'s dedicated run. */
  private[graft] def maintMinhashBlock(spark: SparkSession, dir: String,
      label: String): (Double, Double, Double, Double, Double) = {
    // temp index freed in finally — a failed tier run must not
    // leak a corpus-scale index copy into /tmp
    val idxTmp = java.nio.file.Files
      .createTempDirectory(s"graft_scale_append_$label")
    try {
      val idxPath = idxTmp.toString + "/idx"
      val corpus = Tables.documents(spark, dir).select("doc_id", "text")
      val fixedBatch = corpus.filter(col("doc_id") < 500)
        // fresh ids: offset far beyond every replica's key range
        // (replica r holds ids near r * Stride, r < replicas — a
        // 5e9 offset would collide with replica 5's ids at the 10x
        // tier)
        .withColumn("doc_id", col("doc_id") + lit(100L * Stride))
        .persist(StorageLevel.MEMORY_AND_DISK)
      fixedBatch.count()
      val b = timeOnce(graft.ext.Dedup.saveMinhashIndex(corpus, idxPath))
      val a = med3(graft.ext.Dedup.appendToMinhashIndex(fixedBatch, idxPath))
      // med3 re-deletes the same ids: duplicate tombstone rows are
      // harmless by contract and cleared by the compaction below
      val fixedIds = corpus.filter(col("doc_id") < 500).select("doc_id")
      val d = med3(graft.ext.Dedup.deleteFromMinhashIndex(fixedIds, idxPath))
      val c = timeOnce(graft.ext.Dedup.compactMinhashTombstones(spark, idxPath))
      val rb = timeOnce(
        graft.ext.Dedup.rebucketMinhashIndex(spark, idxPath, 96))
      fixedBatch.unpersist(blocking = false)
      System.err.println(
        f"[scale] $label x26c index build $b%.2fs, fixed-batch append $a%.3fs, " +
          f"fixed-id delete $d%.3fs, compaction $c%.3fs, rebucket $rb%.3fs")
      (b, a, d, c, rb)
    } catch { case e: Exception =>
      System.err.println(s"[scale] append experiment failed at $label: $e")
      (-1.0, -1.0, -1.0, -1.0, -1.0)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(idxTmp.toFile)
  }

  /** The IVF retrain experiment (v23) at one tier — shared verbatim
    * between the full sweep and [[MaintBench]]'s dedicated run. */
  private[graft] def maintRetrainBlock(spark: SparkSession, dir: String,
      label: String): Double = {
    val ivfTmp = java.nio.file.Files
      .createTempDirectory(s"graft_scale_retrain_$label")
    try {
      val p = ivfTmp.toString + "/ivf"
      graft.ext.Similarity.saveIvfIndex(
        Tables.embeddings(spark, dir), p, nList = 16, nIters = 1)
      val t = timeOnce(
        graft.ext.Similarity.retrainIvfIndex(spark, p, nList = 24,
          nIters = 1))
      System.err.println(f"[scale] $label v23 ivf retrain $t%.3fs")
      t
    } catch { case e: Exception =>
      System.err.println(s"[scale] retrain experiment failed at $label: $e")
      -1.0
    } finally org.apache.commons.io.FileUtils.deleteQuietly(ivfTmp.toFile)
  }

  /** [[MaintBench]]'s body: ONLY the maintenance experiments, both
    * tiers sequentially on an otherwise idle session — the dedicated
    * (uncontended) readings the full sweep's co-resident caches and
    * preceding shuffles perturb. One JSON line. */
  private[graft] def maintMain(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = args.headOption.getOrElse("target/scale/sf1")
    val replicas = sys.env.getOrElse("SPARK_GRAFT_REPLICAS", "10").toInt
    val spark = GraftSession.local(appName = "graft-scalebench")
    if (!new java.io.File(s"$outDir/$ReplicatedMarker").exists()) {
      val t = timeOnce(replicate(spark, srcDir, outDir, replicas))
      System.err.println(f"[scale] materialized ${replicas}x tier at $outDir in $t%.1fs")
    }
    val tiers = Seq(("sf0.1", srcDir),
      (s"sf${0.1 * replicas}" + (if (replicas == 1) "r" else ""), outDir))
    val rows = tiers.map { case (label, dir) =>
      cacheTables(spark, dir)
      val (b, a, d, c, rb) = maintMinhashBlock(spark, dir, label)
      val rt = maintRetrainBlock(spark, dir, label)
      spark.catalog.clearCache()
      (label, b, a, d, c, rb, rt)
    }
    val Seq((l0, b0, a0, d0, c0, rb0, rt0), (l1, b1, a1, d1, c1, rb1, rt1)) =
      rows
    def pair(k: String, v0: Double, v1: Double): String =
      f""""$k":{"$l0":$v0%.3f,"$l1":$v1%.3f}"""
    def ratio(k: String, v0: Double, v1: Double): String =
      f""""$k":${if (v0 > 0 && v1 > 0) v1 / v0 else -1.0}%.2f"""
    println(s"""{"metric":"scale_maint_dedicated","replicas":$replicas,""" +
      pair("x26c_index_build_sec", b0, b1) + "," +
      pair("x26c_fixed_batch_append_sec", a0, a1) + "," +
      ratio("x26c_append_ratio", a0, a1) + "," +
      pair("x26d_fixed_id_delete_sec", d0, d1) + "," +
      ratio("x26d_delete_ratio", d0, d1) + "," +
      pair("x26d_compact_sec", c0, c1) + "," +
      pair("x30_rebucket_sec", rb0, rb1) + "," +
      ratio("x30_rebucket_ratio", rb0, rb1) + "," +
      pair("v23_retrain_sec", rt0, rt1) + "," +
      ratio("v23_retrain_ratio", rt0, rt1) + "}")
    spark.stop()
  }

  private def fmtCurve(label: String,
      c: (Double, Double, Double, Double, Double, Double)): String =
    f""""x35_serve_vs_batches_$label":{"b0":${c._1}%.3f,"b1":${c._2}%.3f,""" +
      f""""b8":${c._3}%.3f,"b32":${c._4}%.3f,"fold_sec":${c._5}%.3f,""" +
      f""""after_fold":${c._6}%.3f}"""
}

/** Dedicated maintenance benchmark — the sweep's x26c/x26d/x30/v23
  * rows measured on an otherwise idle session (the r19 adjudication:
  * the committed sweep JSON carried contended readings while the doc
  * cited dedicated-run prose; this main makes the dedicated numbers a
  * committed artifact). Same tiers/env knobs as [[ScaleBench]]. */
object MaintBench {
  def main(args: Array[String]): Unit = ScaleBench.maintMain(args)
}
