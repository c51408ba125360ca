package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Viewing
import graft.sources.Tables

/** Benchmark main: headline queries on SPARK_GRAFT_SF_DIR, one JSON line.
  *
  * Methodology:
  *  - every query materializes through the `noop` sink, so the full plan
  *    executes (a bare `.count()` would let Catalyst prune the very
  *    expressions being measured);
  *  - per query: one untimed warmup, then MEDIAN of 5, with the
  *    max/min spread and the best rep published alongside (see
  *    [[timeStats]]);
  *  - the per-query set is HOT-CACHE (base tables cached once up front,
  *    so times measure operators, not repeated scans); `etl_cold_sec`
  *    is the honest cold counterpart — the very first job of the JVM
  *    reading parquet from disk, like BASELINE.md's cold 114.2s run;
  *  - extra fields beyond the required shape: per-query seconds, the
  *    method1-vs-method2 scan-strategy ratio the reference measured
  *    (2.45x, BASELINE.md) in both full-scan and day-partition-pruned
  *    form, and flagship ETL rows/sec for comparison with the
  *    reference's ~420K rows/s end-to-end.
  */
object Bench {

  /** Representative subset: flagship ETL, heavy joins/aggs, dedup,
    * similarity, text, sessionization. */
  val headline: Seq[String] = Seq(
    "flagship_profile",
    "flagship_profile_fast",
    "a3_pivot_durations",
    "g1_pricing_summary",
    "g2_revenue_by_nation",
    "g3_top_orders_per_customer",
    "x1_dedup_exact",
    "x3_neardup_jaccard",
    "x4_neardup_minhash",
    "x6_simhash_dups",
    "t2_quality_signals",
    "t3_lang_id",
    "v1_cosine_topk",
    "s2_sessionize_batch")

  /** Operators added after round 1 (rounds 2, 6, 9, …), timed and
    * reported separately — NOT part of "total", which stays the same
    * 14-query set across rounds so the driver's round-over-round
    * comparison is apples-to-apples. (the discarded warmup rep absorbs
    * g20's bucketed-table build; median-of-5 reports the steady-state
    * query.) */
  val extended: Seq[String] = Seq(
    "g20_bucketed_join",
    "g22_range_join",
    "t8_top_ngrams",
    "x9_dedup_clusters",
    "x10_contamination",
    "v3_ann_ivf_topk",
    // round-6 operators
    "t11_repetition_signals",
    "t12_corpus_mix",
    "t13_token_shards",
    "x12_segment_dedup",
    "x13_span_dedup",
    "v4_ann_quantized_topk",
    // round-9 operators
    "x15_semantic_dedup",
    "t17_shuffled_shards",
    "x16_incremental_ingest",
    "t18_quality_gate_adaptive",
    "v6_knn_graph",
    "v7_knn_graph_clustered",
    "m4_media_neardup",
    "t19_bm25",
    "x17_bloom_ingest",
    "v8_ann_pq_topk",
    "t20_lm_coverage",
    "t21_importance_ratio",
    // round-9 second wave: living-corpus + retrieval family
    "x19_snapshot_diff",
    "x20_corpus_refresh",
    "x21_change_magnitude",
    "v10_centroid_outliers",
    "t25_phrase_search",
    "t26_bpe_pairs",
    // round-10 operators
    "g28_grouping_sets",
    "t28_tfidf_keywords",
    // x23b, not x23: the blocked twin is the production path (2.3s vs
    // the exact all-pairs form's 20s at sf0.1 — same result set by
    // the PassJoin pigeonhole, pinned against the same oracle)
    "x23b_editdist_blocked",
    "v11_centroid_drift",
    "sql1_q3_shipping",
    "sql2_exists_subquery",
    "sql3_cte_having",
    "sql4_in_subquery",
    "g29_unpivot",
    "x24_dedup_apply",
    // x24b reuses labels persisted on first call (warmup rep absorbs
    // the one-time CC build, the g20 pattern) — the timed reps measure
    // the production apply-only path
    "x24b_dedup_apply_persisted",
    "t29_token_budget",
    "t30_tokenizer_encode",
    // v12 measures the full persist+serve round trip (index write to a
    // temp dir, pruned probe read, identity check vs the in-memory
    // build) — dominated by the index write, which v3 shows amortizing
    "v12_ivf_index_persist",
    // round-11 operators
    "g30_copurchase_pairs",
    "t31_bigram_nll",
    "x25_jaro_name_match",
    "v13_kmeans_lloyd",
    "sql5_window",
    "sql6_set_ops",
    "g31_asof_next_purchase",
    // round-11 second wave
    "t32_nb_quality",
    "v14_ann_ivfpq_topk",
    // x26 measures the full persist+ingest round trip (index write to
    // a temp dir + batch probe + identity check), the v12 shape for
    // dedup — dominated by the one-time index write
    "x26_minhash_index_ingest",
    // x26b: the SERVING cost of the same index — one batch (the 20%
    // test split) ingested against the hot standing frames (the x26
    // row above prices the audit harness: double build + identity
    // probes; this row prices the production ingest. warmup absorbs
    // the one-time index write + frame caching, the x24b/g20 pattern;
    // the timed cost is batch-proportional: shingle+sign the batch,
    // band-join + Jaccard-verify against the index)
    "x26b_minhash_index_serve",
    "v15_cluster_balanced",
    "s13_stream_hot_types",
    // round-11 third wave
    "g32_sketch_rollup",
    "t33_heavy_hitters",
    "v16_mmr_topk",
    "x27_containment_dups",
    "sql7_rollup",
    "sql8_select_subquery",
    "t34_weighted_sample",
    "g33_pagerank",
    // round-12 operators: x25b is the production fuzzy-name path
    // (identical-name hash-group + distinct-name prefix-filter verify
    // — compare with x25's brand-block all-pairs row above)
    "x25b_jaro_name_match_blocked",
    "sql9_multi_join",
    "v17_range_search",
    "g34_retention_cohorts",
    "g35_funnel",
    "g35b_funnel_single_scan",
    "sql10_window_dedup",
    // x28 reads the x24b label artifact (built once, warmup-absorbed)
    // — the audit consumer's cost, not the CC recompute
    "x28_dedup_stats",
    // round-13 operators: the two new SQL-text classes, the
    // consensus multimodal dedup, and the perceptual-signature media
    // dedup
    "sql11_lateral_topn",
    "sql12_recursive_spine",
    "m5_consensus_neardup",
    "m6_media_sig_dedup",
    // round-14: incremental CC maintenance — reads the memoized
    // standing-label + delta-pair artifacts (built once,
    // warmup-absorbed), so the row measures the daily patch cost,
    // not the standing CC build
    "x29_cc_incremental",
    // round-15: the two index-APPEND audit rows (each builds the index
    // twice — incremental and rebuild — plus the identity probes, so
    // like x26/v12 they price the audit harness; the production append
    // itself is O(batch), measured in isolation by ScaleBench), the
    // streaming near-dup ingest (fresh sink + one AvailableNow drain
    // per rep against the memoized standing index — the streaming
    // serve cost), and the Q21-shaped SQL class
    "x26c_minhash_index_append",
    "v18_ivf_index_append",
    "s15_stream_neardup_ingest",
    "s16_stream_ivf_ingest",
    "s17_stream_ivf_serve",
    "sql13_multi_exists",
    "sql14_not_in",
    // the two index-DELETE audit rows (tombstone serve + compaction +
    // same-quantizer rebuild, three served identities each — like the
    // append rows they price the audit harness; the production delete
    // is an O(batch) tombstone append)
    "x26d_minhash_index_delete",
    "v19_ivf_index_delete",
    // the refresh-composite audit row (decisions + refresh + fresh
    // rebuild + three frame-multiset compares; production cost is the
    // delete/compact/append inside it)
    "x26e_minhash_index_refresh",
    // round-16: streaming takedown (x26d's identity form with the
    // deletes micro-batched — prices a real stream drain plus the
    // dual-serve audit) and the real-ImageIO decode row (one synthetic
    // PNG encoded AND decoded per document — distributed codec
    // throughput, images never shuffle)
    "s18_stream_index_delete",
    "s19_stream_ivf_delete",
    // s20/s21: the streamed sketches (the batch twin's cost + the
    // stream drain)
    "s20_stream_quantile_sketch",
    "s21_stream_heavy_hitters",
    // t36: the persisted day→week digest rollup (daily build + merge
    // serve + the exact audit side)
    "t36_quantile_rollup",
    // int8-stored IVF index audit row (dual build + dual serve)
    "v21_ivf_int8_index",
    "m7_image_decode",
    // round-17: perceptual near-dup over REAL-decoded PNGs (m4's
    // operation on the m7 codec path; bounded 100-image fixture), and
    // the pq-stored IVF index audit row (dual build + dual serve, the
    // v21 shape at ~32× stored-byte reduction)
    "m8_perceptual_neardup",
    "v22_ivf_pq_index",
    // round-17: the two layout re-parameterization audit rows — x30
    // rebuckets the stored MinHash frames to a corpus-sized count in
    // place (rows moved, never re-derived; prices build+delete+
    // rebucket+fresh-rebuild+frame compares), v23 retrains the IVF
    // quantizer in place (prices dual deterministic trainings + dual
    // serves; production cost is one survivor scan per frame)
    "x30_minhash_index_rebucket",
    "v23_ivf_index_retrain",
    // v20: serve-only IVF row (index build memoized, warmup-absorbed)
    // — the production per-batch serving cost; also runs in the sf1
    // replica tier (see serveRows)
    "v20_ivf_index_serve",
    // round-17 additions: the q-digest quantile sketch (one corpus
    // scan, k-bounded partials — the t33 cost class plus the exact
    // CDF audit side), the drift-gated maintenance audit row (prices
    // TWO index builds + one gate + one retrain — production cost is
    // one batch assignment + two k-bounded collects), and the
    // describe verb (prices two fresh builds + two takedowns; the
    // describe itself is manifest + delta-sized tombstone scan)
    "t35_quantile_sketch",
    "v24_ivf_drift_gate",
    "x31_index_describe",
    // x32/v25 price the autopilots' worst leg mixes (fresh builds +
    // the fired verbs); the production nightly cost is the policy
    // read (footer count + delta scan) plus whichever verb fires,
    // each priced on its own row
    "x32_index_autopilot",
    "v25_ivf_autopilot",
    // round-18: the bottom-k distinct-set family — g36 cross-segment
    // set algebra (one sketch aggregation + the exact self-join audit
    // side), g37 the persisted retention rollup (daily sketches +
    // week merges + the same audit), s22 the streamed twin (g36's
    // cost plus the stream drain), and the two as-of snapshot-pinned
    // serve audit rows (each prices an index build + three serves +
    // set compares; the production pinned serve costs exactly one
    // manifest read more than a head serve)
    "g36_theta_segments",
    "g37_theta_retention",
    "s22_stream_theta_segments",
    "x33_minhash_index_asof",
    "v26_ivf_index_asof",
    // x34 prices one verb of each class plus five manifest-only diffs
    // (the production diff itself reads two small JSON files)
    "x34_index_diff",
    // round-19: g38 prices the sketch store end-to-end (daily build +
    // store write + one committed day append + the stored serve + the
    // same exact audit side as g37 — compare the two rows to see what
    // persistence adds: the store I/O, while the serve itself reads
    // O(days) tiny rows); x35/v27 price the composition-fold autopilot
    // legs (one shared base build + 4 appends + the fold + dual serves
    // per leg — the production fold is the one amortized compaction)
    "g38_sketch_store_serve",
    "x35_minhash_index_fold",
    "v27_ivf_index_fold",
    // round-20: the store routed under the other two mergeable
    // families (g39 vs g32 and t37 vs t36 price exactly what the
    // persisted store adds over the in-query rollup: the store I/O
    // around an identical build + serve + audit), and the streamed
    // store arc (g38's cost class plus the delta drain + day closes)
    "g39_hll_store_serve",
    "t37_qdigest_store_serve",
    "s23_stream_sketch_store",
    // g40 prices the store's retention + as-of lifecycle (build +
    // keep-commit + day append + horizon drop + pinned serve)
    "g40_sketch_store_retention")

  /** The two production SERVE rows that run even under
    * SPARK_GRAFT_SKIP_EXTENDED (the sf1 replica tier): the paths the
    * index layer's maintenance work most affects had no trend line at
    * the judging tier. Both memoize their index build (x26b/v20
    * pattern), so the warmup rep absorbs it and the timed reps measure
    * the batch-proportional serve. */
  val serveRows: Seq[String] = Seq(
    "x26b_minhash_index_serve",
    "v20_ivf_index_serve")

  private def runNoop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Ratio gated on both operands being real measurements: a -1.0
    * failure sentinel must surface as -1.0, not divide into a garbage
    * ratio (-1/1e-9 style). */
  private def ratio(num: Double, den: Double): Double =
    if (num >= 0 && den > 0) num / den else -1.0

  /** Cache the base tables once before timing (hot-cache benchmark):
    * the CacheManager substitutes the in-memory columnar relation into
    * every later query by plan equality, so per-query time measures the
    * operators, not 14 repeated parquet scans of the same inputs. */
  private def cacheBaseTables(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.storage.StorageLevel
    Seq(Tables.events(spark, sfDir), Tables.lineitem(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.customer(spark, sfDir),
      Tables.supplier(spark, sfDir), Tables.nation(spark, sfDir),
      Tables.region(spark, sfDir), Tables.documents(spark, sfDir),
      Tables.embeddings(spark, sfDir))
      .foreach(df => df.persist(StorageLevel.MEMORY_AND_DISK).count())
  }

  private def timeOnce(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** One untimed warmup, then MEDIAN of 5. The box is shared and single
    * runs stall by whole seconds under neighbor load: round-4 best-of-2
    * let a 6.6x phantom regression through (t2 0.35→2.33s with zero code
    * change on a spec-pinned zero-shuffle plan; re-measured 0.34s), and
    * the r6→r7 best-of-3 comparison moved +31% on byte-identical code
    * (per-query spreads to 8.5x). The warmup absorbs per-query
    * codegen/JIT; the median is robust to up to two stalled reps in
    * either direction, where min-of-N still tracks the single luckiest
    * scheduling window. */
  private def time(f: => Unit): Double = timeStats(f)._1

  /** (median, spread, best) over 5 timed reps after one untimed warmup;
    * spread = max/min. A spread near 1.0 means the number is
    * trustworthy; a large spread flags box contention during THIS run —
    * so a round-over-round delta can be attributed to noise vs
    * regression per query, from the artifact alone. `best` is kept in
    * the JSON for continuity with rounds ≤7, whose headline was
    * best-of-3.
    *
    * ADAPTIVE reps: when the 5-rep spread exceeds 3× (round-10's t2 hit
    * 7.4×, x6 5.1× — medians moved 4.5× on byte-identical code, making
    * the cross-round compare unreadable), the query runs 4 MORE reps
    * and reports the median of all 9 — more draws from the same noisy
    * distribution pull the median back toward steady state while stable
    * queries still pay only 5 reps. The published spread stays the
    * all-reps max/min so the noise remains visible in the artifact;
    * `total_best` (sum of per-query minima) is the noise-robust
    * headline comparator when spreads are large. */
  private def timeStats(f: => Unit): (Double, Double, Double) = {
    timeOnce(f)
    val first = Seq.fill(5)(timeOnce(f))
    val spread5 = first.max / math.max(first.min, 1e-9)
    val reps = (if (spread5 > 3.0) first ++ Seq.fill(4)(timeOnce(f)) else first).sorted
    (reps(reps.size / 2), reps.last / math.max(reps.head, 1e-9), reps.head)
  }

  /** Per-query failure isolation: one broken query must not void the
    * round's entire bench (round 9: a single AnalysisException at query
    * 14 → rc=1, no JSON at all, `parsed: null`). A failed query reports
    * the -1.0 sentinel and is excluded from totals; the headline line
    * always prints. */
  private def timeStatsSafe(name: String, f: => Unit): (Double, Double, Double) =
    try timeStats(f)
    catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
      // spread is ALSO the -1.0 sentinel: a 0.0 here would read as a
      // perfectly stable measurement in rep_spread instead of a failure
      (-1.0, -1.0, -1.0)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(appName = "graft-bench")

    // COLD flagship ETL: very first job of the JVM, parquet read from
    // disk, nothing cached — the honest counterpart to BASELINE.md's
    // cold end-to-end 114.2s. Includes session/codegen first-run cost by
    // construction (so did the reference's number).
    val etlColdSec =
      try timeOnce(runNoop(SparkEntry.queries("flagship_profile_fast")(spark, sfDir)))
      catch { case e: Throwable =>
        System.err.println(s"[bench] cold etl failed: ${e.getMessage}"); -1.0 }

    // warmup: session + parquet footers + codegen paths
    try {
      cacheBaseTables(spark, sfDir)
      runNoop(SparkEntry.queries("flagship_profile_fast")(spark, sfDir))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}") }

    val results = headline.map { name =>
      name -> timeStatsSafe(name, runNoop(SparkEntry.queries(name)(spark, sfDir)))
    }

    // SPARK_GRAFT_SKIP_EXTENDED=1 runs the 14-query headline set only —
    // for manual runs at replica tiers (e.g. target/scale/sf1), where
    // two extended rows are output-quadratic BY DATA CONSTRUCTION
    // (x25's verbatim-replicated names) and the audit rows multiply a
    // corpus-scale build by 6 reps. The driver's per-round run sets no
    // env, so the published artifact always carries the full set.
    val skipExtended = sys.env.get("SPARK_GRAFT_SKIP_EXTENDED")
      .exists(v => v.nonEmpty && v != "0" && !v.equalsIgnoreCase("false"))
    // the replica-tier run (SKIP_EXTENDED) still times the two serve
    // rows — the 14-query headline stays the cross-round comparator,
    // and the serve rows land in extended_queries alongside it
    val extResults =
      (if (skipExtended) serveRows else extended).map { name =>
        name -> timeStatsSafe(name, runNoop(SparkEntry.queries(name)(spark, sfDir)))
      }

    // reference-derived sanity experiment (BASELINE.md): one multi-day
    // scan vs per-day pipeline + union over the full 30-day range.
    // METHODOLOGY NOTE: since round 10, m1_scan_sec/m2_union_sec are the
    // MEDIAN of timed reps (timeStatsSafe) — rounds ≤9 recorded a single
    // shot, so absolute cross-round comparison of these two fields spans
    // that change; the m2_over_m1 ratio is internally consistent in
    // every round (both operands always share one methodology).
    val allDays = (1 to 30).map(d => f"2024-01-$d%02d")
    val events = Tables.events(spark, sfDir)
    val m1Sec = timeStatsSafe("m1_scan", runNoop(
      Viewing.durationByCategory(Viewing.validRows(Viewing.categorize(events)))))._1
    val m2Sec = timeStatsSafe("m2_union", runNoop(Viewing.unionDays(events, allDays)))._1

    // Same experiment on a DAY-PARTITIONED copy — the apples-to-apples
    // analog of the reference's per-FILE layout. Above, every one of the
    // 30 union branches filters the full cached table (30x the scanned
    // data → the ~20x ratio); the reference's method 2 read 1/30 per
    // iteration, hence its 2.45x. With partition pruning each branch
    // reads only its own day directory, so m2p/m1p isolates the real
    // per-branch overhead (30 jobs + union) exactly like the reference's
    // per-file loop did. Both sides read from disk (not cache). At sf0.1
    // a day is only ~3.3K rows, so fixed per-branch cost (scan setup +
    // its own shuffle) still dominates and the ratio sits above the
    // reference's 2.45x (measured at ~1.6M rows/file); it converges
    // toward theirs as per-day volume grows.
    val partDir = "/tmp/graft_bench_events_by_day"
    val (m1pSec, m2pSec) = try {
      sources.ParquetSink.writePartitionedByDay(events, "ts", partDir)
      def readPart() = spark.read.parquet(partDir)
      (time(runNoop(
        Viewing.durationByCategory(Viewing.validRows(Viewing.categorize(readPart()))))),
       time(runNoop(
        allDays.map { d =>
          // filter on the PARTITION column: pruned scan, 1 day per branch
          Viewing.durationByCategory(Viewing.validRows(Viewing.categorize(
            readPart().filter(col("day") === d))))
            .withColumn("Date", lit(d))
        }.reduce(_.unionByName(_)))))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] pruned experiment failed: ${e.getMessage}")
      (-1.0, -1.0) }

    // The SAME pruned experiment at the 10x tier (sf1 when the bench
    // runs at sf0.1): the m2/m1 convergence claim — the ratio falls
    // toward the reference's 2.45 as per-day volume grows, because
    // fixed per-branch cost amortizes — must stay MEASURED every
    // round, not quoted from an aging BENCH_SCALE run. Tier built once
    // (ScaleBench's replicator, reused if present); warmup +
    // median-of-3 keeps the added wall time bounded.
    val (m1p10Sec, m2p10Sec) = try {
      val tierDir = "target/scale/sf1"
      // marker check via ScaleBench's own versioned constant — the
      // hard-coded pre-v2 name here used to miss the marker and
      // re-replicate the tier on EVERY bench run (untimed, but ~20 s
      // of pointless I/O ahead of the timed 10x experiment)
      if (!ScaleBench.isReplicated(tierDir))
        ScaleBench.replicate(spark, sfDir, tierDir, 10)
      val ev10 = Tables.events(spark, tierDir)
      val partDir10 = "/tmp/graft_bench_events_by_day_10x"
      sources.ParquetSink.writePartitionedByDay(ev10, "ts", partDir10)
      def readPart10() = spark.read.parquet(partDir10)
      def med3(f: => Unit): Double = {
        timeOnce(f)
        Seq.fill(3)(timeOnce(f)).sorted.apply(1)
      }
      (med3(runNoop(
        Viewing.durationByCategory(Viewing.validRows(Viewing.categorize(readPart10()))))),
       med3(runNoop(
        allDays.map { d =>
          Viewing.durationByCategory(Viewing.validRows(Viewing.categorize(
            readPart10().filter(col("day") === d))))
            .withColumn("Date", lit(d))
        }.reduce(_.unionByName(_)))))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] 10x pruned experiment failed: ${e.getMessage}")
      (-1.0, -1.0) }

    // flagship ETL throughput, hot (reference: ~420K rows/s end-to-end)
    val (nEvents, etlSec) = try {
      val n = events.count()
      (n, time(runNoop(SparkEntry.queries("flagship_profile_fast")(spark, sfDir))))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] etl throughput failed: ${e.getMessage}")
      (-1L, -1.0) }
    val rowsPerSec = if (etlSec > 0) nEvents / etlSec else 0.0

    // totals sum the SUCCESSFUL queries only; -1 sentinels stay visible
    // per query but must not drag the total negative. A shrunk total
    // would read as a phantom SPEEDUP in the driver's round-over-round
    // compare, so the failed count is surfaced in the headline line —
    // a nonzero `failed` voids the total comparison loudly.
    val nFailed = (results ++ extResults).count(_._2._1 < 0)
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val qs = results.map { case (k, (v, _, _)) => "\"" + k + "\":" + f"$v%.4f" }
      .mkString("{", ",", "}")
    val eqs = extResults.map { case (k, (v, _, _)) => "\"" + k + "\":" + f"$v%.4f" }
      .mkString("{", ",", "}")
    val spreads = (results ++ extResults)
      .map { case (k, (_, s, _)) => "\"" + k + "\":" + f"$s%.2f" }
      .mkString("{", ",", "}")
    val bests = (results ++ extResults)
      .map { case (k, (_, _, b)) => "\"" + k + "\":" + f"$b%.4f" }
      .mkString("{", ",", "}")
    val totalBest = results.map(_._2._3).filter(_ >= 0).sum
    // Two artifacts with distinct jobs:
    //  - `full` carries every diagnostic (extended queries, per-rep
    //    spreads, best-of, scan-strategy ratios) → bench.json + an early
    //    stdout line, for humans and for the repo history;
    //  - `headlineJson` is the line the DRIVER parses. The driver keeps
    //    only the LAST 2000 chars of stdout; round 8's single combined
    //    line grew to ~2050 chars, its head fell outside that window,
    //    and BENCH_r08.json recorded `parsed: null`. So the final
    //    printed line must stay compact (~600 chars for 14 queries) and
    //    carry only the required shape plus totals.
    val headlineJson =
      s"""{"metric":"total","value":${f"$total%.4f"},"unit":"sec","queries":$qs,""" +
      s""""total_best":${f"$totalBest%.4f"},"failed":$nFailed,"sf":"$sfDir"}"""
    val full =
      s"""{"metric":"total","value":${f"$total%.4f"},"unit":"sec","queries":$qs,""" +
      s""""extended_queries":$eqs,"rep_spread":$spreads,"queries_best":$bests,""" +
      s""""total_best":${f"$totalBest%.4f"},""" +
      s""""failed":$nFailed,""" +
      s""""sf":"$sfDir","m1_scan_sec":${f"$m1Sec%.4f"},"m2_union_sec":${f"$m2Sec%.4f"},""" +
      s""""m2_over_m1":${f"${ratio(m2Sec, m1Sec)}%.2f"},""" +
      s""""m1_pruned_sec":${f"$m1pSec%.4f"},"m2_pruned_sec":${f"$m2pSec%.4f"},""" +
      s""""m2_over_m1_pruned":${f"${ratio(m2pSec, m1pSec)}%.2f"},""" +
      s""""m1_pruned_10x_sec":${f"$m1p10Sec%.4f"},"m2_pruned_10x_sec":${f"$m2p10Sec%.4f"},""" +
      s""""m2_over_m1_pruned_10x":${f"${ratio(m2p10Sec, m1p10Sec)}%.2f"},""" +
      s""""etl_cold_sec":${f"$etlColdSec%.4f"},""" +
      s""""etl_rows":$nEvents,"etl_sec":${f"$etlSec%.4f"},"etl_rows_per_sec":${f"$rowsPerSec%.0f"}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("bench.json"),
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(full)
    spark.stop()
    // final non-sbt line of the run — MUST fit the driver's tail window
    println(headlineJson)
  }
}
