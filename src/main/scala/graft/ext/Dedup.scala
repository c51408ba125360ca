package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash-LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale notes (the whole point of these designs):
  *  - exact dedup is one hash-shuffle on a 64-char digest, not the text;
  *  - the Jaccard self-join explodes on SHINGLES (3-grams), whose
  *    document frequency is tiny compared to unigrams — the shuffle is
  *    near-linear in corpus size instead of quadratic;
  *  - MinHash-LSH replaces the all-pairs join with a bucket join on
  *    (band, signature): only near-identical docs collide, candidates
  *    are then verified with the exact Jaccard — the standard
  *    sub-quadratic near-dup path for 100 TB corpora;
  *  - frequent-shingle capping (maxShingleDf) bounds worst-case skew.
  */
object Dedup {

  // ---- exact ----

  /** Exact dedup groups: content digest → representative (min id) +
    * multiplicity. Shuffles only (digest, id). */
  def exactGroups(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("text_sha256"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup, keep-first-id semantics: returns the surviving rows.
    * Deterministic (row_number ordered by id), unlike dropDuplicates
    * whose survivor is partition-order dependent. Partitions on the
    * sha2 digest, not the raw text: the exchange hash and the window
    * sort then work on a 64-char key instead of comparing full document
    * strings (same collision model as [[exactGroups]]). */
  def dedupKeepFirst(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(sha2(col(textCol), 256)).orderBy(col(idCol))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  // ---- shingling ----

  /** Distinct word n-gram shingles of `textCol`, exploded to one row per
    * (id, shingle) with the shingle already reduced to a 64-bit hash:
    * every downstream shuffle/join/aggregate then moves 8-byte longs
    * instead of ~n-word strings — the dominant cost of the near-dup
    * joins at scale. Set equality over hashes equals set equality over
    * shingles up to 64-bit collisions (~1e-9 for billions of shingles).
    * Docs shorter than n tokens produce no rows. */
  def explodedShingles(df: DataFrame, n: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    graft.functions.TextExpressions.registerWindowHashes(df.sparkSession)
    val toks = split(col(textCol), " ")
    // native WindowHashes (each token hashed once, windows chain token
    // hashes) instead of an interpreted transform/slice/concat_ws chain —
    // same distinctness semantics, different (internal) hash domain; the
    // oracles compare set sizes and counts, not hash values
    val sh = array_distinct(transform(
      graft.functions.TextExpressions.windowHashes(toks, n),
      w => w.getField("h")))
    df.filter(size(toks) >= n)
      .select(col(idCol), explode(sh).as("shingle"))
  }

  /** All-pairs n-gram Jaccard ≥ threshold, via shingle self-join.
    * Exact rational arithmetic (int intersection / int union) — the
    * double division is a single deterministic op.
    *
    * Design note: a prefix-filtered variant (AllPairs/PPJoin candidate
    * bound — index only each doc's |S|−⌈τ|S|⌉+1 globally-rarest
    * shingles, verify with array_intersect) was built and measured at
    * sf0.1: candidates dropped 1.13M → 310K, but the per-doc rarity
    * window + second pass made it ~40% SLOWER end-to-end on this
    * corpus, whose shingle-df distribution is near-flat (max df 25) —
    * prefix filtering pays off on Zipfian df where boilerplate
    * shingles dominate the join, which is what `maxShingleDf` already
    * caps here. Kept the hash-agg formulation on measurement; x4's
    * MinHash-LSH remains the sub-quadratic scale path.
    *
    * @param maxShingleDf drop shingles appearing in more than this many
    *        docs before the join (skew guard; None = off for oracle
    *        parity on small data). */
  def jaccardPairs(df: DataFrame, n: Int = 3, threshold: Double = 0.5,
      maxShingleDf: Option[Int] = None,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    shingleIntersections(df, n, maxShingleDf, textCol, idCol)
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")

  /** Shared candidate-pair kernel for [[jaccardPairs]] (symmetric) and
    * [[containmentPairs]] (asymmetric): one row per unordered doc pair
    * sharing ≥1 shingle, with the intersection count and both set
    * sizes — every set-overlap measure is a pure projection of it. */
  private def shingleIntersections(df: DataFrame,
      n: Int, maxShingleDf: Option[Int],
      textCol: String, idCol: String): DataFrame = {
    // the shingle table feeds both join sides + the size aggregate:
    // persist so the tokenize+explode runs once (spills to disk at
    // scale). Persisting the UNCAPPED table (before the skew filter)
    // also lets a later MinHash pass over the same corpus cache-hit the
    // identical shingle plan instead of re-exploding.
    val sh0 = explodedShingles(df, n, textCol, idCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // ONE document-frequency aggregation feeds both the skew cap and the
    // join prefilter below
    val dfc = sh0.groupBy("shingle").agg(count(lit(1)).as("_df"))
    // No broadcast hint on the prefilter sets: "rare" and "shared" are
    // corpus-sized on a duplicate-heavy corpus (the exact case dedup
    // targets), so a forced broadcast would blow the driver/broadcast
    // limit at scale. Unhinted, AQE broadcasts them automatically
    // whenever they actually fit and degrades to a shuffle join when
    // they don't.
    val sh = maxShingleDf match {
      case Some(cap) =>
        val rare = dfc.filter(col("_df") <= cap).select("shingle")
        sh0.join(rare, "shingle").persist(StorageLevel.MEMORY_AND_DISK)
      case None => sh0
    }
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    // semantics-preserving join prefilter: a shingle in exactly one doc
    // cannot contribute to any intersection — drop it from the JOIN
    // inputs (sizes above still count it toward the union). On a mostly-
    // unique corpus this removes the bulk of the self-join shuffle.
    val sharedMax = maxShingleDf.map(cap => col("_df") <= cap).getOrElse(lit(true))
    val shared = dfc.filter(col("_df") >= 2 && sharedMax).select("shingle")
    val shJoin = sh.join(shared, Seq("shingle"))
    val a = shJoin.select(col(idCol).as("a_id"), col("shingle"))
    val b = shJoin.select(col(idCol).as("b_id"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col(idCol).as("a_id"), col("n_sh").as("na")), "a_id")
      .join(sizes.select(col(idCol).as("b_id"), col("n_sh").as("nb")), "b_id")
  }

  /** x27 — asymmetric shingle CONTAINMENT: |A∩B| / |A| ≥ threshold,
    * emitted per DIRECTION (src contained in dst). Catches the
    * duplication modality symmetric Jaccard misses by construction: a
    * short document quoted wholesale inside a much longer one has
    * containment ≈ 1 but Jaccard ≈ |A|/|B| → 0 as the host grows
    * (quote-with-commentary scraping, aggregator pages, licence
    * boilerplate) — the standard complement to resemblance in the
    * Broder shingling framework the x3/x4 family implements.
    *
    * Same join kernel and skew cap as x3 — the intersection table is
    * direction-free, so both directions are projections of ONE shuffle
    * (no second self-join). `minShingles` floors the denominator: a
    * 10-shingle src needs 6 shared shingles at τ=0.6, so one noisy
    * shared shingle on a tiny doc can never fabricate a hit. Scale
    * path: x4's MinHash-LSH candidates verify containment exactly the
    * way they verify Jaccard (the shingle sets are already joined in),
    * so the all-pairs form here is the oracle baseline, not the
    * 100 TB plan. */
  def containmentPairs(df: DataFrame, n: Int = 3, threshold: Double = 0.6,
      minShingles: Int = 10, maxShingleDf: Option[Int] = None,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val inter = shingleIntersections(df, n, maxShingleDf, textCol, idCol)
    val aInB = inter.select(col("a_id").as("src_id"), col("b_id").as("dst_id"),
      (col("i").cast("double") / col("na")).as("containment"), col("na").as("n_src"))
    val bInA = inter.select(col("b_id").as("src_id"), col("a_id").as("dst_id"),
      (col("i").cast("double") / col("nb")).as("containment"), col("nb").as("n_src"))
    aInB.unionByName(bInA)
      .filter(col("containment") >= threshold && col("n_src") >= minShingles)
      .select("src_id", "dst_id", "containment")
  }

  /** Cross-corpus n-gram contamination (decontamination check): pairs
    * (test doc, train doc) sharing at least `minShared` distinct
    * n-grams — the overlap scan run before any eval set is trusted.
    * One equi-join on shingle hashes; `maxShingleDf` (computed on the
    * train side, the big side at scale) caps boilerplate n-grams that
    * would otherwise fan out the join. */
  def contaminationPairs(train: DataFrame, test: DataFrame, n: Int = 3,
      minShared: Int = 5, maxShingleDf: Option[Int] = None,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tr0 = explodedShingles(train, n, textCol, idCol)
    val tr = maxShingleDf match {
      case Some(cap) =>
        // unhinted for the same reason as in jaccardPairs: "rare" is
        // train-corpus-sized; AQE picks broadcast only when it fits
        val rare = tr0.groupBy("shingle").agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= cap).select("shingle")
        tr0.join(rare, "shingle")
      case None => tr0
    }
    val te = explodedShingles(test, n, textCol, idCol)
    te.select(col(idCol).as("test_id"), col("shingle"))
      .join(tr.select(col(idCol).as("train_id"), col("shingle")), "shingle")
      .groupBy("test_id", "train_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Incremental ingest dedup — the operation a production corpus runs
    * DAILY: admit only the rows of a new `batch` that duplicate nothing
    * in the existing `corpus`, by (1) exact content digest, (2) n-gram
    * shingle overlap of at least `minShared` ([[contaminationPairs]]
    * semantics), and (3) intra-batch exact keep-first (a batch can
    * duplicate itself). Returns the admitted batch ids.
    *
    * Scale shape, for corpus ≫ batch (the daily regime): the exact
    * stage joins corpus DIGESTS against batch digests — the batch side
    * is the small build side, so AQE broadcasts it and the corpus
    * streams map-side, never shuffling; the near-dup stage is the
    * [[contaminationPairs]] equi-join on 8-byte shingle hashes (linear,
    * corpus-side df cap against boilerplate fan-out); the intra-batch
    * window partitions on the digest of the batch alone. Nothing
    * re-processes the corpus beyond two streaming scans, which is what
    * makes the operation incremental rather than a full re-dedup. */
  def incrementalIngest(corpus: DataFrame, batch: DataFrame, n: Int = 3,
      minShared: Int = 5, maxShingleDf: Option[Int] = None,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    def dig(d: DataFrame) =
      d.select(col(idCol), sha2(col(textCol), 256).as("_sha"))
    // corpus LEFT so the (small) batch lands on the broadcast side
    val exactDup = dig(corpus).select("_sha")
      .join(dig(batch), "_sha").select(col(idCol)).distinct()
    val nearDup = contaminationPairs(corpus, batch, n, minShared,
        maxShingleDf, textCol, idCol)
      .select(col("test_id").as(idCol)).distinct()
    val w = Window.partitionBy(col("_sha")).orderBy(col(idCol))
    val intraDup = dig(batch)
      .withColumn("rn", row_number().over(w)).filter(col("rn") > 1)
      .select(col(idCol))
    batch.select(col(idCol))
      .join(exactDup.unionByName(nearDup).unionByName(intraDup).distinct(),
        Seq(idCol), "left_anti")
  }

  /** Sketch-based incremental ingest: admit the batch documents whose
    * text is definitely NOT in the standing corpus, tested against a
    * Bloom filter of the corpus instead of a join
    * ([[incrementalIngest]]'s exact-dup stage re-expressed as a
    * broadcast sketch — the shape that wins when the corpus is 100 TB
    * and the daily batch is not: the corpus is scanned once into a
    * mergeable `numBits/8`-byte bitset ([[graft.functions
    * .BloomAggregator]]), which can be persisted and OR-merged across
    * days, and each batch probes it with pure per-row arithmetic —
    * codegen'd `pmod`/`shiftright`/`getbit` over the broadcast words,
    * zero joins against the corpus).
    *
    * Bloom error is one-sided in exactly the direction ingest needs:
    * no false negatives, so NO true duplicate is ever admitted; a
    * false positive rejects a clean document at ≈0.13 % (16 bits/key,
    * 5 hashes). The probe spells `floorMod(h1 + i·h2, numBits)` with
    * the same Java long semantics as the build side, so build and
    * probe agree bit-for-bit. `corpus.count()` sizes the filter — one
    * count job here; table metadata at real scale. */
  def bloomIngest(corpus: DataFrame, batch: DataFrame, bitsPerKey: Int = 16,
      numHashes: Int = 5, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val n = math.max(corpus.count(), 1L)
    require(n * bitsPerKey < Int.MaxValue.toLong,
      s"single-slice bloom over $n keys: partition the key space instead")
    val numBits = (((n * bitsPerKey + 63L) / 64L) * 64L).toInt
    def hashed(d: DataFrame) = d.select(col(idCol),
      xxhash64(col(textCol)).as("_h1"),
      // seed chaining: hashing (text, const) yields a second
      // independent-enough stream for Kirsch-Mitzenmacher
      xxhash64(col(textCol), lit(0x9E3779B9L)).as("_h2"))
    val bloomAgg = udaf(new graft.functions.BloomAggregator(numBits, numHashes))
    val bloom = hashed(corpus).agg(bloomAgg(col("_h1"), col("_h2")).as("_bloom"))
    // mod-reduce the hashes BEFORE combining, mirroring the build side
    // bit-for-bit — the raw h1 + i·h2 wrap-around would trip ANSI
    // overflow checking; the reduced sum is ≤ numHashes·numBits
    val contained = (0 until numHashes).map { i =>
      val pos = pmod(pmod(col("_h1"), lit(numBits.toLong)) +
        lit(i.toLong) * pmod(col("_h2"), lit(numBits.toLong)), lit(numBits.toLong))
      val word = element_at(col("_bloom"), shiftright(pos, 6).cast("int") + lit(1))
      call_function("getbit", word, pmod(pos, lit(64L)).cast("int")) === lit(1)
    }.reduce(_ && _)
    hashed(batch).crossJoin(broadcast(bloom))
      .filter(!contained)
      .select(col(idCol))
  }

  /** Sub-document exact dedup (RefinedWeb-style line dedup, adapted to
    * the single-line corpus): split each doc into fixed `segWords`-word
    * segments, drop every segment that occurs in more than `maxDf`
    * distinct docs (boilerplate), and reassemble the survivors in
    * original order. Two shuffles — segment df (on the 8-byte segment
    * hash, never the text) and the per-doc reassembly — both keyed the
    * same way the shingle ops are, so the 100 TB argument carries over.
    * Docs whose every segment is boilerplate come back with empty text
    * (kept, not dropped: the caller decides). */
  def dedupSegments(df: DataFrame, segWords: Int = 8, maxDf: Int = 2,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    graft.functions.TextExpressions.registerGridSegments(df.sparkSession)
    val toks = split(col(textCol), " ")
    // native grid segmentation (one concatWs loop) — see WindowHashes
    // for why the interpreted transform/slice tree loses
    val segs = graft.functions.TextExpressions.gridSegments(toks, segWords)
    val exploded = df.select(col(idCol), explode(segs).as("s"))
      .select(col(idCol), col("s.pos").as("pos"), col("s.seg").as("seg"))
      .withColumn("h", xxhash64(col("seg")))
    val keep = exploded.select(col("h"), col(idCol)).distinct()
      .groupBy("h").agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf).select("h")
    val reassembled = exploded.join(keep, "h")
      .groupBy(idCol)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
          s => s.getField("seg")), " ").as("clean_text"))
    df.select(col(idCol))
      .join(reassembled, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Exact substring dedup with SPAN removal (the Lee-et-al-style pass
    * big-corpus pipelines run after whole-doc dedup): hash every
    * OVERLAPPING `window`-token window, find windows shared by ≥2
    * distinct docs, and excise every token covered by a shared window —
    * overlapping hits merge into spans naturally because coverage is
    * per-token. Catches duplicated passages at any alignment, which
    * [[dedupSegments]]'s fixed grid cannot. Removal is symmetric (all
    * occurrences go): run [[dedupKeepFirst]] first so exact-dup docs
    * keep one copy; what remains here is true cross-doc boilerplate.
    * Shuffles carry only 8-byte window hashes + int starts; the final
    * coverage test is per-row (starts list is per-doc-bounded). */
  def dedupSpans(df: DataFrame, window: Int = 8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    graft.functions.TextExpressions.registerWindowHashes(df.sparkSession)
    val toks = split(col(textCol), " ")
    val n = size(toks)
    // native expression: each token hashed once, windows chain the token
    // hashes — the HOF transform/slice/concat formulation re-concatenates
    // every token `window` times through an interpreted tree (measured
    // ~2.5× the whole query, Bench r6)
    val wins = graft.functions.TextExpressions.windowHashes(toks, window)
    val exploded = df.select(col(idCol), explode(wins).as("w"))
      .select(col(idCol), col("w.s").as("s"), col("w.h").as("h"))
    val dupH = exploded.select(col("h"), col(idCol)).distinct()
      .groupBy("h").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > 1).select("h")
    val dupStarts = exploded.join(dupH, "h")
      .groupBy(idCol).agg(sort_array(collect_list(col("s"))).as("starts"))
    graft.functions.TextExpressions.registerRemoveSpans(df.sparkSession)
    df.join(dupStarts, Seq(idCol), "left")
      .select(col(idCol),
        graft.functions.TextExpressions.removeSpans(toks,
          coalesce(col("starts"), array().cast("array<int>")), window)
          .as("clean_text"))
  }

  // ---- MinHash-LSH ----

  /** MinHash signature: `numHashes` independent min-hashes of the shingle
    * set (xxhash64 with per-function salt). */
  def minhashSignatures(shingles: DataFrame, numHashes: Int = 16,
      idCol: String = "doc_id"): DataFrame = {
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"mh_$i"))
    shingles.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** Banded (id, band, sig) LSH bucket keys of a signature table —
    * factored out so the self-join ([[lshCandidates]]) and the
    * persisted index ([[saveMinhashIndex]]) share one definition.
    *
    * ONE pass, not a `bands`-way union: the earlier union-of-selects
    * form planned the signature AGGREGATE once per band branch (x4's
    * physical plan held 80 HashAggregates / 46 Exchanges; the final
    * agg ran 8x and every downstream stage scheduled bands x shuffle
    * partitions tasks). `posexplode` emits the same (band, sig) rows —
    * band = array position = the old `lit(bnd)`, sig = the same
    * `hash(mh_*)` per band — from a single aggregate subtree, so the
    * values (and the persisted index frames) are bit-identical while
    * the plan holds exactly one signature aggregation. */
  def bandedSignatures(signatures: DataFrame, bands: Int = 8, rows: Int = 2,
      idCol: String = "doc_id"): DataFrame = {
    val sigs = (0 until bands).map { bnd =>
      hash((bnd * rows until (bnd + 1) * rows).map(i => col(s"mh_$i")): _*)
    }
    signatures.select(col(idCol),
      posexplode(array(sigs: _*)).as(Seq("band", "sig")))
  }

  /** Candidate pairs via banding: split the signature into `bands` bands
    * of `rows` hashes; docs sharing any full band collide. One shuffle on
    * (band, band-signature) — no all-pairs join. */
  def lshCandidates(signatures: DataFrame, bands: Int = 8, rows: Int = 2,
      idCol: String = "doc_id"): DataFrame = {
    val banded = bandedSignatures(signatures, bands, rows, idCol)
    banded.as("x").join(banded.as("y"), Seq("band", "sig"))
      .filter(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band → collide
    * → VERIFY with exact Jaccard (so precision is exact; recall is the
    * LSH probability 1-(1-j^rows)^bands — at j≥0.9, bands=8, rows=2 the
    * miss rate is ~1e-9). Output matches `jaccardPairs` whenever recall
    * holds, at a fraction of the join cost. */
  def minhashNearDups(df: DataFrame, n: Int = 3, threshold: Double = 0.5,
      numHashes: Int = 16, bands: Int = 8, rows: Int = 2,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sh = explodedShingles(df, n, textCol, idCol)
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds signatures, sizes, and verify
    val cands = lshCandidates(minhashSignatures(sh, numHashes, idCol), bands, rows, idCol)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    val inter = cands
      .join(sh.select(col(idCol).as("a_id"), col("shingle")), "a_id")
      .join(sh.select(col(idCol).as("b_id"), col("shingle")), Seq("b_id", "shingle"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col(idCol).as("a_id"), col("n_sh").as("na")), "a_id")
      .join(sizes.select(col(idCol).as("b_id"), col("n_sh").as("nb")), "b_id")
      .withColumn("jaccard", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  // ---- persisted MinHash-LSH index (x26) ----

  /** The three frames of a MinHash-LSH near-dup index over a corpus:
    * `bands` (idCol, band, sig — the LSH bucket keys), `shingles`
    * (idCol, shingle — for exact-Jaccard verification), `sizes`
    * (idCol, n_sh). One definition feeds both the in-memory probe and
    * [[saveMinhashIndex]], so index-served results are pinned
    * identical to in-memory results by construction (the v12
    * discipline). The shingle frame is persisted because it feeds all
    * three outputs. */
  def minhashIndexFrames(corpus: DataFrame, n: Int = 3,
      numHashes: Int = 16, bands: Int = 8, rows: Int = 2,
      textCol: String = "text", idCol: String = "doc_id")
      : (DataFrame, DataFrame, DataFrame) = {
    val sh = explodedShingles(corpus, n, textCol, idCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = bandedSignatures(
      minhashSignatures(sh, numHashes, idCol), bands, rows, idCol)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_sh"))
    (banded, sh, sizes)
  }

  /** The manifest format tag of a persisted MinHash-LSH index
    * ([[graft.ext.IndexLayout]]). */
  val MinhashIndexFormat = "graft-minhash-index"

  /** x26 — persist a MinHash-LSH index: `<path>/bands` PARTITIONED BY
    * band (a probe's equi-join key prefix, so a band-sliced read plan
    * prunes), `<path>/shingles`, `<path>/sizes`. This is the dedup
    * counterpart of v12's persisted IVF index: the standing corpus is
    * signed ONCE, and every later ingest batch probes the stored
    * frames without re-shingling 100 TB — the daily-regime shape where
    * the corpus-scale work amortizes to storage and each batch costs
    * O(batch) plus index-join reads.
    *
    * Every LAYOUT-DEFINING parameter — `idBuckets` (sized per corpus:
    * see [[MinhashIndexBuckets]] for the sizing rule), the MinHash
    * family sizes (`numHashes`, `bands`, `rows`), the shingle width
    * `n` — is stored in the index's `_manifest.json`
    * ([[graft.ext.IndexLayout]]): every later append/delete/compact/
    * serve verb reads the parameters BACK from the manifest instead of
    * trusting its caller, so an index built by one binary and
    * maintained by another cannot silently mis-bucket appends or sign
    * probes with a different family. REPLACES any existing index at
    * `path` entirely (a rebuild that kept stale generations — or stale
    * tombstones, which would shadow rebuilt docs — would be wrong).
    * CALLER CONTRACT: `corpus` must not be a lazy plan reading `path`
    * itself — the wipe happens before the corpus-scale write executes,
    * and a corpus that large cannot be pinned defensively here (the
    * IVF side pins its nList-row quantizer for exactly this reason;
    * a corpus has no such bound). */
  def saveMinhashIndex(corpus: DataFrame, path: String, n: Int = 3,
      numHashes: Int = 16, bands: Int = 8, rows: Int = 2,
      textCol: String = "text", idCol: String = "doc_id",
      idBuckets: Int = MinhashIndexBuckets): Unit = {
    val (banded, sh, sizes) =
      minhashIndexFrames(corpus, n, numHashes, bands, rows, textCol, idCol)
    saveMinhashIndexFromFrames(banded, sh, sizes, path,
      n, numHashes, bands, rows, idCol, idBuckets)
    sh.unpersist()
  }

  /** [[saveMinhashIndex]] from PRE-COMPUTED index frames (the
    * [[minhashIndexFrames]] triple, or any per-doc-consistent filter of
    * one) — for callers that write SEVERAL indexes from ONE signing
    * pass. Every index row is a per-doc function of the doc's text, so
    * frames(corpus.filter(p)) = frames(corpus).filter(p on idCol)
    * exactly: an audit verb that builds its incremental index over
    * `standing` and its rebuild control over `standing.filter(...)` can
    * compute the frames once and write both layouts from filters,
    * instead of re-shingling and re-signing the corpus per build
    * (guide §1.2/§2.4 — don't run the same corpus-scale subtree twice).
    * CALLER CONTRACT: the (n, numHashes, bands, rows) recorded in the
    * manifest MUST be the parameters the frames were computed under
    * (a mismatch would mis-sign every later probe), the shingle frame's
    * persist lifetime belongs to the caller, and — as with
    * [[saveMinhashIndex]] — no frame may be a lazy plan reading `path`
    * itself. */
  def saveMinhashIndexFromFrames(banded: DataFrame, sh: DataFrame,
      sizes: DataFrame, path: String, n: Int = 3,
      numHashes: Int = 16, bands: Int = 8, rows: Int = 2,
      idCol: String = "doc_id",
      idBuckets: Int = MinhashIndexBuckets): Unit = {
    val spark = banded.sparkSession
    IndexFs.delete(spark, path)
    // the bands write runs FIRST and alone: its aggregate scan is what
    // materializes the shared shingle cache, so the two bucket writes
    // below find every block already cached instead of racing to
    // compute it
    banded.write.partitionBy("band")
      .parquet(IndexLayout.genRoot(path, "bands", 0))
    // repartition ON the partition column before the partitioned write:
    // without it every write task emits a file into every bucket
    // directory (tasks × idBuckets small files — slow commits now, slow
    // listings forever); with it each bucket is a handful of files and
    // the one extra shuffle is a one-time build cost the read path
    // repays on every batch. The two writes are independent scans of
    // the cached shingle frame into disjoint roots — overlapped
    // (IndexLayout.inParallel) so the build pays one write latency,
    // not two
    val shB = sh.withColumn("bucket", idBucket(col(idCol), idBuckets))
    val szB = sizes.withColumn("bucket", idBucket(col(idCol), idBuckets))
    IndexLayout.inParallel(Seq(
      () => shB.repartition(col("bucket")).write.partitionBy("bucket")
        .parquet(IndexLayout.genRoot(path, "shingles", 0)),
      () => szB.repartition(col("bucket")).write.partitionBy("bucket")
        .parquet(IndexLayout.genRoot(path, "sizes", 0))))
    IndexLayout.writeManifest(spark, path, IndexLayout.newManifest(
      MinhashIndexFormat,
      Map("buckets" -> idBuckets.toString, "n" -> n.toString,
        "numHashes" -> numHashes.toString, "bands" -> bands.toString,
        "rows" -> rows.toString),
      Map("bands" -> banded.schema, "shingles" -> shB.schema,
        "sizes" -> szB.schema,
        "tombstones" -> org.apache.spark.sql.types.StructType(
          Seq(banded.schema(idCol))))))
  }

  /** The stored layout parameters of a [[saveMinhashIndex]] index —
    * what a serve over pre-loaded frames must agree with
    * ([[nearDupIngestFromPath]] threads them automatically). */
  def minhashIndexParams(spark: org.apache.spark.sql.SparkSession,
      path: String): Map[String, String] =
    IndexLayout.requireManifest(spark, path, MinhashIndexFormat)

  /** Append an ADMITTED batch into an existing [[saveMinhashIndex]]
    * layout — the maintenance half of the persisted index's daily
    * regime: after [[nearDupIngest]] admits a batch, the admitted
    * docs' bands/shingles/sizes must join the standing index so
    * TOMORROW's batch dedups against TODAY's admissions. Without this,
    * keeping the index current costs an O(corpus) rebuild per batch;
    * with it, the batch's frames are staged into fresh per-batch roots
    * and spliced into the composition by ONE manifest commit
    * ([[graft.ext.IndexLayout.stageAppendBatch]]/[[graft.ext
    * .IndexLayout.commitAppend]]) — the standing data is never read,
    * rewritten, or even listed, so the job is O(batch).
    *
    * Correct by frame-set equality: every index row is a PER-DOC
    * function of the doc's text (fixed hash families), so
    * frames(corpus ∪ admitted) = frames(corpus) ∪ frames(admitted)
    * exactly — build-then-append serves identically to a full rebuild
    * over the union (pinned by the x26c oracle and by ExtSpec's
    * frame-level equality test). The append preserves the layout's two
    * scale properties: band directories stay the probe join's pruning
    * prefix, and the admitted docs land in their [[idBucket]]
    * partitions, so the candidate-bucket literal filter keeps pruning
    * the appended rows like the original ones.
    *
    * Unlike the corpus-scale initial build, the batch-sized band frame
    * IS repartitioned on `band` before the write (8 result files, not
    * tasks × 8): a daily append must not shed hundreds of small files
    * into directories that are listed on every later probe.
    *
    * Every layout parameter — shingle width, hash family, bucket count
    * — comes FROM the index's manifest, never from the caller: a
    * binary built with different constants cannot mis-sign or
    * mis-bucket the appended rows.
    *
    * Durability: the batch is ATOMIC-VISIBLE across all three frames —
    * staged into per-batch roots no reader resolves, then committed by
    * one manifest write; a KILLED append leaves only unreferenced
    * staging the replay overwrites (or a later compaction sweeps), so
    * re-running a failed append is safe and duplicates nothing. */
  def appendToMinhashIndex(admitted: DataFrame, path: String,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val spark = admitted.sparkSession
    // sign under the STORED family; the from-frames verb re-checks it
    // under the lease, so a rebuild racing this call fails loudly
    val m = minhashIndexParams(spark, path)
    val Seq(n, numHashes, bands, rows) = Seq("n", "numHashes", "bands", "rows")
      .map(IndexLayout.intParam(m, path, _))
    val (banded, sh, sizes) = minhashIndexFrames(admitted, n, numHashes,
      bands, rows, textCol, idCol)
    try appendToMinhashIndexFromFrames(spark, path, banded, sh, sizes, n,
      numHashes, bands, rows, idCol)
    finally sh.unpersist()
  }

  /** The gate of every verb handed PRE-COMPUTED frames: refuse an index
    * whose stored family (n, numHashes, bands, rows) differs from the
    * one the frames were signed under, naming the first differing key —
    * mixing families would mis-sign every later probe, and a serve
    * would return a silently wrong admitted set. */
  private def requireSignedUnder(m: Map[String, String], path: String,
      verb: String, n: Int, numHashes: Int, bands: Int, rows: Int): Unit =
    Seq("n" -> n, "numHashes" -> numHashes, "bands" -> bands, "rows" -> rows)
      .foreach { case (k, v) =>
        val s = IndexLayout.intParam(m, path, k)
        require(s == v, s"$verb: frames were computed under $k=$v but " +
          s"$path stores $k=$s — using them would mis-sign every later probe")
      }

  /** [[appendToMinhashIndex]] from PRE-COMPUTED index frames — the
    * [[saveMinhashIndexFromFrames]] dividend on the append path: a
    * harness that drives several appends over known slices of one
    * corpus can sign the corpus ONCE and append per-doc filters of the
    * persisted frames, instead of re-shingling each batch from text.
    * The manifest remains the parameter authority: the caller states
    * the (n, numHashes, bands, rows) its frames were computed under
    * and the verb REFUSES an index whose stored family differs — the
    * same cross-binary mis-signing guard the from-text form enforces
    * by construction. Caller owns the shingle frame's persist
    * lifetime. */
  def appendToMinhashIndexFromFrames(
      spark: org.apache.spark.sql.SparkSession, path: String,
      banded: DataFrame, sh: DataFrame, sizes: DataFrame, n: Int = 3,
      numHashes: Int = 16, bands: Int = 8, rows: Int = 2,
      idCol: String = "doc_id"): Unit = {
    // leased: an append racing a compaction's staging could commit a
    // manifest the flip's commit would clobber (last-writer-wins on
    // the composition); under the lease the second writer fails loudly
    IndexLayout.withMaintenanceLease(spark, path) { _ =>
      val m = IndexLayout.requireManifest(spark, path, MinhashIndexFormat)
      requireSignedUnder(m, path, "appendToMinhashIndexFromFrames", n,
        numHashes, bands, rows)
      val buckets = IndexLayout.intParam(m, path, "buckets")
      IndexLayout.appendFrames(spark, path, m, Seq(
        ("bands", banded, Some("band")),
        ("shingles", sh.withColumn("bucket", idBucket(col(idCol), buckets)),
          Some("bucket")),
        ("sizes", sizes.withColumn("bucket", idBucket(col(idCol), buckets)),
          Some("bucket"))))
    }
  }

  /** The delta layout's bucket-count marker
    * (`<deltaPath>/_delta_buckets`): the stored count the epoch's
    * delta rows were bucketed under. [[graft.streaming.Streaming
    * .nearDupIngestStream]] records it at stream start and REFUSES a
    * later epoch whose index was rebucketed in between — old-count
    * `bucket=` delta dirs under a new-count candidate filter would be
    * silently mis-pruned (missed duplicates admitted), the exact
    * hazard class the manifest closed for cross-binary constants.
    * [[compactMinhashDeltas]] clears the marker with the dirs it
    * folds. */
  private[graft] def requireDeltaBuckets(
      spark: org.apache.spark.sql.SparkSession,
      deltaPath: String, buckets: Int): Unit = {
    val f = IndexFs.fs(spark, deltaPath)
    val p = new org.apache.hadoop.fs.Path(s"$deltaPath/_delta_buckets")
    if (f.exists(p)) {
      val in = f.open(p)
      val recorded = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim finally in.close()
      if (recorded != buckets.toString) throw new IllegalStateException(
        s"$deltaPath holds delta dirs bucketed under count " +
          s"'$recorded', but the index's stored count is now $buckets " +
          "(rebucketed between stream epochs, or a torn marker): fold " +
          "the old deltas with compactMinhashDeltas BEFORE " +
          "rebucketing, or clear checkpoint+deltas+out and restart " +
          "the stream fresh — serving old-count deltas under a " +
          "new-count candidate filter would silently mis-prune")
    } else if (Seq("bands", "shingles", "sizes")
        .exists(sub => IndexFs.hasParquetData(spark, s"$deltaPath/$sub"))) {
      // committed delta data with NO marker: a pre-marker epoch's (or a
      // lost marker's) dirs, whose bucket count is unknowable from the
      // values alone — recording the current count here would BYPASS
      // the guard (the exact silent mis-prune it exists for, through
      // the upgrade path). Folding is safe: it recomputes buckets.
      throw new IllegalStateException(
        s"$deltaPath holds committed delta data but no _delta_buckets " +
          "marker (written by an older binary, or the marker was " +
          "lost): its bucket count cannot be trusted — fold the " +
          "deltas with compactMinhashDeltas (which recomputes bucket " +
          "values under the index's current count), then restart the " +
          "epoch")
    } else {
      // torn-write-safe commit (the writeManifest discipline): create a
      // hidden temp, then rename over the destination — a crash
      // mid-write leaves only the temp, never a truncated marker the
      // next epoch would misread as a rebucket
      f.mkdirs(new org.apache.hadoop.fs.Path(deltaPath))
      val tmp = new org.apache.hadoop.fs.Path(s"$deltaPath/._delta_buckets.tmp")
      val out = f.create(tmp, true)
      try out.write(buckets.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(
          new org.apache.hadoop.fs.Path(deltaPath).toUri,
          spark.sessionState.newHadoopConf())
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Fold a [[graft.streaming.Streaming.nearDupIngestStream]] DELTA
    * layout into the standing [[saveMinhashIndex]] index and CLEAR it
    * — the scheduled compaction that closes the streaming ingest
    * lifecycle (without it, delta batch directories accumulate and
    * every micro-batch's standing union grows a file-listing term).
    * The delta dirs already HOLD the admitted docs' index rows, so
    * compaction moves rows, never re-derives them from text: each
    * frame is read (minus its `batch` partition column), repartitioned
    * on its partition key, and appended into the standing layout —
    * O(deltas), standing data untouched. Afterwards the delta dirs are
    * deleted so the next stream epoch starts empty.
    *
    * PRECONDITION — single-writer, drained stream: run only while the
    * ingest stream is STOPPED after a clean drain (an AvailableNow
    * `awaitTermination`, the nightly-compaction window). A delta dir
    * from a killed, UNCOMMITTED batch would be folded into the
    * standing index here, and the batch's replay would then find its
    * own docs standing and reject them all. Kill-safety of the
    * compaction itself follows [[appendToMinhashIndex]]'s contract:
    * the append job is not atomic, so a failed compaction is re-run
    * against a restored index. */
  def compactMinhashDeltas(spark: org.apache.spark.sql.SparkSession,
      deltaPath: String, path: String): Unit = {
    // leased: this verb commits an append into the standing layout —
    // the same manifest-clobber hazard as appendToMinhashIndex
    IndexLayout.withMaintenanceLease(spark, path) { _ =>
      val m = IndexLayout.requireManifest(spark, path, MinhashIndexFormat)
      def delta(name: String): Option[DataFrame] = {
        val d = s"$deltaPath/$name"
        if (IndexFs.hasParquetData(spark, d))
          Some(spark.read.parquet(d).drop("batch"))
        else None
      }
      // the delta rows' stored bucket values were computed under the
      // count at INGEST time — recompute them under the index's
      // CURRENT count, so folding stays correct even after a
      // rebucketMinhashIndex ran in between (the remediation path the
      // requireDeltaBuckets guard points at); when the counts match
      // the recompute is value-identical. The id column is the frame's
      // first stored field (the manifest schema, not a caller guess).
      val buckets = IndexLayout.intParam(m, path, "buckets")
      def rekeyed(df: DataFrame, name: String): DataFrame = {
        val idc = IndexLayout.frameSchema(m, name).fieldNames.head
        df.drop("bucket").withColumn("bucket", idBucket(col(idc), buckets))
      }
      // the whole epoch's fold is ONE committed append batch: all
      // three frames staged, then spliced by a single manifest write —
      // a reader sees the pre-fold or post-fold index, never a torn
      // bands-without-shingles mix
      IndexLayout.appendFrames(spark, path, m,
        delta("bands").map(("bands", _, Some("band"))).toSeq ++
          Seq("shingles", "sizes").flatMap(name => delta(name)
            .map(d => (name, rekeyed(d, name), Some("bucket")))))
      Seq("bands", "shingles", "sizes").foreach(name =>
        IndexFs.delete(spark, s"$deltaPath/$name"))
      // the folded epoch's bucket-count marker goes with its dirs, so
      // the next stream epoch records the index's CURRENT count (the
      // rebucket-between-epochs guard — see requireDeltaBuckets)
      IndexFs.delete(spark, s"$deltaPath/_delta_buckets")
    }
  }

  /** DELETE docs from a persisted [[saveMinhashIndex]] index — the
    * merge-on-read half of removal (corpus refresh, takedowns,
    * right-to-be-forgotten): the deleted ids are appended as a
    * bucket-partitioned TOMBSTONE frame under `<path>/tombstones`, an
    * O(delete-batch) write that never reads, lists, or rewrites the
    * standing data. Probes honor tombstones at the CANDIDATE level
    * ([[nearDupIngestFromFrames]] anti-joins the delta-sized candidate
    * pairs against the tombstone ids), so serving cost gains no
    * corpus-scale term: deleted docs' index rows still sit in storage
    * until [[compactMinhashTombstones]] physically removes them, but
    * they can never reject a batch doc — deletion is semantically
    * immediate, physically deferred, the Iceberg/Delta delete-file
    * discipline re-expressed for this layout.
    *
    * CONTRACT — id reuse: a standing tombstone shadows its id
    * entirely, including rows APPENDED after the delete, so
    * re-admitting a deleted id requires compacting first (document
    * stores mint fresh ids instead; same answer as the delete-file
    * systems). Repeated deletes of one id just accumulate harmless
    * duplicate tombstone rows until compaction clears them. */
  def deleteFromMinhashIndex(ids: DataFrame, path: String,
      idCol: String = "doc_id"): Unit =
    IndexLayout.appendTombstones(ids.sparkSession, path, MinhashIndexFormat,
      ids, idCol)

  /** The standing tombstone ids of a [[saveMinhashIndex]] index, if
    * any ([[deleteFromMinhashIndex]] wrote some since the last
    * [[compactMinhashTombstones]]). None when no tombstone directory
    * of the manifest composition holds committed parquet footers.
    * Resolved through the path's own FileSystem ([[IndexFs]]), so an
    * hdfs:/s3a: index honors its tombstones exactly like a local
    * one. */
  def loadMinhashTombstones(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String = "doc_id"): Option[DataFrame] =
    IndexLayout.loadTombstones(spark, path,
      IndexLayout.requireManifest(spark, path, MinhashIndexFormat), idCol)

  /** Physically remove tombstoned docs from a [[saveMinhashIndex]]
    * layout and clear the tombstones — the scheduled compaction that
    * closes [[deleteFromMinhashIndex]]'s merge-on-read lifecycle.
    * Cost is PRUNED where the layout allows it:
    *  - `shingles`/`sizes` are bucket-partitioned by [[idBucket]], and
    *    tombstoned ids name their buckets — only AFFECTED buckets
    *    (≤ the manifest's `buckets`, a literal partition filter) are
    *    read, anti-joined, and rewritten into the next generation;
    *    untouched buckets are never read, listed, or moved.
    *  - `bands` has no id-derived partitioning (a doc's rows land in
    *    every `band=` dir), so it is rewritten whole — the one
    *    O(corpus) term, on the SMALLEST frame (a fixed `bands`
    *    rows/doc of (id, band, sig) vs the shingle frame's ~|tokens|
    *    string rows), amortized across every delete since the last
    *    compaction.
    * Readers stay LIVE throughout ([[graft.ext.IndexLayout]]'s
    * generation discipline): survivors are staged into generation
    * dirs nothing references yet, then ONE atomic manifest flip
    * replaces the composition of all three frames and clears the
    * tombstones together — a concurrent serve (batch or streaming
    * micro-batch) reads exactly the pre- or post-compaction index,
    * never a torn mix, and merge-on-read tombstones mean the deletion
    * itself was already served before the compaction ran. The
    * directories a flip retires are physically deleted only at the
    * START of the next compaction, so a serve holding the old
    * manifest keeps its files for one full compaction interval (the
    * grace contract). Kill-safety: a compaction killed before its
    * flip leaves the manifest unchanged and only orphaned staging
    * dirs, which the re-run overwrites — single MAINTENANCE writer at
    * a time, any number of readers. */
  def compactMinhashTombstones(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String = "doc_id"): Unit =
    IndexLayout.compact(spark, MinhashFamily, path, idCol, foldEvenClean = false)

  /** FOLD the composition of a [[saveMinhashIndex]] index even when no
    * tombstone exists — the maintenance verb for the APPEND-ONLY
    * lifecycle: every committed append splices one batch-root entry
    * per frame into the composition, and every serve lists and opens
    * that entry's small files until a compaction folds them back (the
    * Delta-log checkpoint discipline). An index that only ever appends
    * (zero dead rows, stable sizing) never fires the tombstone
    * compaction, so its serves would read one more root per committed
    * batch forever; this verb is the same pruned compaction with an empty
    * tombstone set — batch roots consolidate into the next generation,
    * entries return to ≤ partitions + 1 per frame — fired by
    * [[maintainMinhashIndex]]'s composition-length trigger. */
  def foldMinhashComposition(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String = "doc_id"): Unit =
    IndexLayout.compact(spark, MinhashFamily, path, idCol, foldEvenClean = true)

  /** REFRESH a persisted [[saveMinhashIndex]] index to the next corpus
    * epoch — the composite maintenance verb a living corpus runs after
    * its refresh adjudication (the x20 decision layer): `deletedIds`
    * are the docs leaving the index (REMOVED from the crawl, plus the
    * OLD revisions of admitted updates) and `admittedDocs` are the
    * (id, text) rows entering it (admitted adds, plus the NEW revisions
    * of admitted updates). Rejected updates appear in neither frame, so
    * their old rows stand untouched — exactly the x22 next-snapshot
    * semantics, under which refresh(index over old) is frame-for-frame
    * identical to a fresh build over the next snapshot (pinned by the
    * x26e oracle).
    *
    * Sequencing: delete → COMPACT → append, and the middle step is not
    * optional when updates exist — an admitted update RE-USES its
    * doc id, and a standing tombstone shadows its id across later
    * appends ([[deleteFromMinhashIndex]]'s id-reuse contract), so the
    * new revision's rows must land only after the tombstone is
    * physically resolved. Cost per epoch: O(delete) + the compaction's
    * pruned rewrite (affected id-buckets for shingles/sizes; the bands
    * frame — the smallest — whole, the one O(corpus) term, amortized
    * per refresh EPOCH rather than per ingest batch) + O(admitted)
    * partition-appends. A removal-only epoch (no re-used ids) that
    * wants to defer even that can call [[deleteFromMinhashIndex]]
    * alone and let serving honor the tombstones merge-on-read. */
  def refreshMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, deletedIds: DataFrame, admittedDocs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    deleteFromMinhashIndex(deletedIds, path, idCol)
    compactMinhashTombstones(spark, path, idCol)
    appendToMinhashIndex(admittedDocs, path, textCol, idCol)
  }

  /** REBUCKET a persisted [[saveMinhashIndex]] index to a new id-bucket
    * count IN PLACE — the verb that keeps the layout's pruning property
    * alive as the corpus grows. [[MinhashIndexBuckets]]'s sizing rule
    * sizes `buckets` per corpus AT BUILD TIME, but a long-lived index
    * only ever grows via O(batch) appends into the SAME bucket dirs:
    * after the corpus outgrows the stored count by 10-100×, each bucket
    * holds 10-100× its build-time slice and a fixed batch's candidate
    * buckets cover most of the frame — the measured 0.094 → 0.53
    * pruned-read degradation (BENCH_SCALE) reappears through growth
    * even though the count was right on day one. The previous answer
    * ("resizing is a rebuild decision") priced a full
    * re-shingle-from-text rebuild plus an index-down window; this verb
    * instead MOVES the stored rows, on the layout's own terms:
    *
    *  - `shingles` and `sizes` are read from the current composition,
    *    tombstones anti-joined out (a whole-frame rewrite resolves
    *    them for free), re-keyed with [[idBucket]] under `newBuckets`,
    *    and staged into the next generation — rows move, nothing is
    *    re-derived from text (no shingling, no hashing of content:
    *    the one O(corpus) scan is I/O-bound column movement);
    *  - `bands` is bucket-independent: with standing tombstones it is
    *    rewritten to resolve them (the compaction's whole-frame term,
    *    on the smallest frame); with none it carries through the flip
    *    UNTOUCHED — a pure rebucket never rewrites the band rows;
    *  - ONE atomic manifest flip replaces the compositions, updates
    *    the stored `buckets` parameter, and clears the tombstones the
    *    rewrite resolved. Readers stay lock-free: a pre-flip serve
    *    prunes old-count buckets over the old composition, a post-flip
    *    serve new-count buckets over the new one — never new-count
    *    bucket ids against old-count directories (the mis-bucketing
    *    the manifest exists to prevent, here made impossible by the
    *    flip's atomicity instead of by operator care).
    *
    * Runs under the maintenance lease across staging AND flip.
    * STREAMING PRECONDITION: a live [[graft.streaming.Streaming
    * .nearDupIngestStream]] epoch caches the count and accumulates
    * delta dirs bucketed under it — drain the stream and FOLD its
    * deltas ([[compactMinhashDeltas]]) before rebucketing. Both
    * violation orders fail LOUDLY, not silently: a mid-stream rebucket
    * stops the stream at its next micro-batch (per-batch count guard)
    * and a rebucket between epochs with unfolded deltas refuses the
    * next epoch at start ([[requireDeltaBuckets]]'s marker).
    * Identity contract (the x30 oracle): after this verb a serve
    * equals the serve against a fresh [[saveMinhashIndex]] built at
    * `newBuckets` over the surviving corpus — index rows are per-doc
    * functions of text and the bucket column is a pure function of
    * (id, count), so the frames agree as multisets. */
  def rebucketMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, newBuckets: Int, idCol: String = "doc_id"): Unit = {
    require(newBuckets > 0, s"newBuckets must be positive, got $newBuckets")
    IndexLayout.flipGeneration(spark, path, MinhashIndexFormat) { m =>
      Some { newGen =>
        val tombOpt = IndexLayout.loadTombstones(spark, path, m, idCol)
          .map(t => Checkpoints.ckptLocal(t.distinct()))
        try {
          val rekey = (rows: DataFrame) =>
            rows.withColumn("bucket", idBucket(col(idCol), newBuckets))
          // bands and tombstones are staged only when tombstones stand;
          // otherwise the flip carries both through unchanged
          (Map("buckets" -> newBuckets.toString),
            Seq("shingles", "sizes").map(name => name ->
              IndexLayout.stageRewriteFrame(spark, path, m, name, "bucket",
                tombOpt, idCol, newGen, rekey)).toMap ++
            tombOpt.map(tomb => Map(
              "bands" -> IndexLayout.stageRewriteFrame(spark, path, m,
                "bands", "band", Some(tomb), idCol, newGen),
              "tombstones" -> IndexLayout.stageDropFrame(m, "tombstones",
                newGen))).getOrElse(Map.empty))
        } finally tombOpt.foreach(Checkpoints.free)
      }
    }
  }

  /** x32 — POLICY-DRIVEN maintenance pass (the nightly autopilot): one
    * verb a scheduler points at an index path, which reads the
    * metadata-scale health facts ([[graft.ext.IndexLayout.describeIndex]]'s
    * numbers) and fires the right maintenance verb, closing the
    * monitor → verb loop for this family the way
    * [[graft.ext.Similarity.driftGateIvfIndex]] closes it for the
    * vector index. Two triggers, checked from one delta-sized
    * tombstone scan plus one footer-metadata row count of the `sizes`
    * frame (one row per doc — never a corpus-scale read):
    *
    *  - REBUCKET when the live corpus has outgrown the stored bucket
    *    count by 2× or more under `targetDocsPerBucket`
    *    ([[MinhashIndexBuckets]]'s sizing rule made a standing policy):
    *    fires [[rebucketMinhashIndex]] at ceil(live / target). The 2×
    *    hysteresis is the dynamic-array argument — whole-corpus
    *    rewrites amortize against doublings, O(log growth) rewrites
    *    over the index's lifetime, instead of a nightly churn that
    *    re-moves the corpus for every +1 bucket drift.
    *  - otherwise COMPACT when the tombstone backlog exceeds
    *    `maxTombstonePct` of the live rows: fires
    *    [[compactMinhashTombstones]]. When the rebucket fires, the
    *    compact is SUBSUMED, not skipped-and-deferred: the rebucket's
    *    whole-frame rewrite anti-joins the tombstones out and clears
    *    them at its flip (its documented contract), so running both
    *    would pay the whole-frame term twice for nothing.
    *  - otherwise FOLD when the composition has accumulated more than
    *    `maxAppendBatches` committed batch roots in any frame
    *    ([[graft.ext.IndexLayout.maxBatchRootCount]] — a manifest map
    *    lookup, no read at all): fires [[foldMinhashComposition]].
    *    This is the trigger the APPEND-ONLY lifecycle needs — an index
    *    with few deletes and stable sizing never fires the other two,
    *    yet every committed append adds one root of small files to
    *    every serve until a compaction folds the batch roots (the
    *    Delta-log trade needs its checkpoint trigger); without this leg
    *    serve listings grow linear-in-batches forever. Both heavier verbs
    *    SUBSUME it (their compactions fold the batch roots at the same
    *    flip), which is why it is checked last.
    *
    * All fired verbs take the maintenance lease themselves; the
    * policy read is lock-free, so the autopilot can observe a live
    * index and fail loudly at the verb if another writer appears.
    * Returns (compacted, rebucketed) — the fold reports as
    * `compacted` (it IS a compaction, with an empty tombstone set). */
  def maintainMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, maxTombstonePct: Int = 10,
      targetDocsPerBucket: Long = 1000, idCol: String = "doc_id",
      maxAppendBatches: Int = 16)
      : (Boolean, Boolean) = {
    require(maxTombstonePct > 0 && targetDocsPerBucket > 0 &&
        maxAppendBatches > 0,
      s"maintainMinhashIndex($maxTombstonePct%, $targetDocsPerBucket/bucket," +
        s" $maxAppendBatches batches)")
    val m = IndexLayout.requireManifest(spark, path, MinhashIndexFormat)
    val buckets = IndexLayout.intParam(m, path, "buckets")
    val (nRows, nDead) =
      IndexLayout.rowsAndDead(spark, MinhashFamily, path, m, idCol)
    val live = nRows - nDead
    val desired = math.max(1L, (live + targetDocsPerBucket - 1)
      / targetDocsPerBucket)
    if (desired >= 2L * buckets) {
      rebucketMinhashIndex(spark, path, desired.toInt, idCol)
      (false, true)
    } else (IndexLayout.compactOrFold(spark, MinhashFamily, path, m, idCol,
      live, nDead, maxTombstonePct, maxAppendBatches), false)
  }

  /** DEFAULT doc-id bucket count for the stored shingle/size frames of
    * a [[saveMinhashIndex]] index — a per-index BUILD PARAMETER stored
    * in the manifest, not a constant every binary must share. The
    * directory layout is the point: a probe's candidate-id set maps to
    * candidate BUCKETS, whose bounded int list becomes a literal
    * partition filter on the scan — each ingest batch READS only the
    * buckets its candidates live in, never the whole corpus-scale
    * frame.
    *
    * SIZING RULE — buckets grow with the corpus: the pruned-read
    * fraction of a probe is ≈ |candidate buckets| / buckets, and with
    * a FIXED count a fixed-size batch's candidates eventually touch
    * most buckets (measured in BENCH_SCALE.md: 0.094 → 0.53 at 100×
    * under a constant 64). Size so a bucket holds a bounded slice of
    * the shingle frame (≈ 0.5–2 GB of shingles per bucket at build
    * time; equivalently buckets ≈ nDocs / docsPerBucket with
    * docsPerBucket a few thousand) — pruning then stays at a roughly
    * constant fraction as the corpus grows, and a bucket remains a
    * multi-file parallel read. The count is written to the manifest at
    * build time and every later verb reads it back, so resizing is a
    * rebuild decision, never a silent mismatch. */
  val MinhashIndexBuckets = 64

  /** The bucket of a doc id under a given bucket count — computed
    * identically at index-write time and at probe time. Both sides
    * must use the INDEX'S stored count ([[minhashIndexParams]]): the
    * path-based verbs thread it from the manifest automatically. */
  private[graft] def idBucket(id: Column, buckets: Int): Column =
    pmod(xxhash64(id), lit(buckets)).cast("int")

  /** The MinHash family's lifecycle descriptor
    * ([[graft.ext.IndexLayout.IndexFamily]]): `shingles`/`sizes`
    * compact per id bucket, `bands` has no id-derived partitioning (a
    * doc's rows land in every `band=` dir) so it is rewritten whole, and
    * the buckets a tombstone set touches are its ids' [[idBucket]]s
    * under the stored count — a literal list of ≤ `buckets` values. */
  private[graft] val MinhashFamily = IndexLayout.IndexFamily(
    format = MinhashIndexFormat,
    idFrame = _ => "sizes",
    partitioned = _ => Seq("shingles" -> "bucket", "sizes" -> "bucket"),
    rewritten = Seq("bands" -> "band"),
    affected = (_, path, m, tomb, idCol) =>
      tomb.select(idBucket(col(idCol),
          IndexLayout.intParam(m, path, "buckets")).as("bk"))
        .distinct()
        .collect().map(_.getInt(0)).toSeq) // ≤ buckets rows: bounded action

  /** Candidate-id sets at or below this many distinct ids take the
    * broadcast semi-join (and, against bucket-partitioned stored
    * frames, dynamic partition pruning); above it the prune degrades
    * to a shuffle semi-join. The guard exists because an explicit
    * `broadcast()` hint is IRREVOCABLE — AQE cannot demote it — and a
    * skewed batch colliding with a large standing dup-cluster can
    * yield a corpus-scale candidate set that would OOM the driver
    * under an unconditional hint. 2M ids ≈ tens of MB broadcast. */
  val MaxBroadcastCandidateIds = 2000000L

  /** Load a [[saveMinhashIndex]] index's three frames — each one
    * relation over the directories its manifest entry lists
    * ([[graft.ext.IndexLayout.readFrame]]), so a load taken before a
    * concurrent compaction's flip keeps serving the pre-compaction
    * index consistently. A serve over these frames must use the SAME
    * stored parameters ([[minhashIndexParams]]) — or use
    * [[nearDupIngestFromPath]], which threads them automatically. */
  def loadMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame, DataFrame) = {
    val m = IndexLayout.requireManifest(spark, path, MinhashIndexFormat)
    (IndexLayout.readFrame(spark, path, m, "bands"),
      IndexLayout.readFrame(spark, path, m, "shingles"),
      IndexLayout.readFrame(spark, path, m, "sizes"))
  }

  /** Near-dup ingest against a PERSISTED [[saveMinhashIndex]] index by
    * path — the safe serve entry point: shingle width, hash family,
    * bucket count all come from the index's manifest (a caller cannot
    * sign probes with a different family than the stored rows), and
    * standing tombstones are honored automatically. `threshold` stays
    * a serve-time choice (it gates the exact-Jaccard verify, not the
    * stored layout).
    *
    * `asOfSeq` pins the serve to a RETAINED manifest commit
    * ([[graft.ext.IndexLayout.readManifestAt]]): the probe sees
    * exactly the index as of that commit — appends, deletes and flips
    * committed after it are invisible, including the tombstone set
    * (a pinned snapshot must not apply future deletes). The horizon is
    * the manifest retention window (`graft.index.manifestKeep`) and
    * data liveness under the pin is the retired-dir grace contract —
    * the same contract any in-flight reader already relies on.
    *
    * `batchFrames` optionally hands in the batch's PRE-COMPUTED index
    * frames (the [[minhashIndexFrames]] triple over `batch`): an audit
    * harness that serves the SAME batch against several index states
    * signs it once instead of once per serve (guide §2.4). The frames
    * must be [[minhashIndexFrames]]' default family (n = 3,
    * numHashes = 16, bands = 8, rows = 2): an index storing any other
    * family is REFUSED, naming the differing key, instead of serving a
    * silently wrong admitted set. The caller owns the shingle frame's
    * persist lifetime. Production serves pass None and keep the
    * manifest as the sole parameter authority. */
  def nearDupIngestFromPath(spark: org.apache.spark.sql.SparkSession,
      path: String, batch: DataFrame, threshold: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id",
      asOfSeq: Option[Int] = None,
      batchFrames: Option[(DataFrame, DataFrame, DataFrame)] = None)
      : DataFrame = {
    val m = IndexLayout.requireManifest(spark, path, MinhashIndexFormat,
      asOfSeq)
    // frames, tombstones AND parameters all come from this ONE manifest
    // resolution: a second read (the old loadMinhashIndex call) could
    // land after a concurrent rebucket's flip, pruning the new count's
    // directories with the old count's candidate-bucket literals —
    // exactly the torn mix the flip's atomicity is supposed to exclude
    val sb = IndexLayout.readFrame(spark, path, m, "bands")
    val ssh = IndexLayout.readFrame(spark, path, m, "shingles")
    val ssz = IndexLayout.readFrame(spark, path, m, "sizes")
    val tombstones = IndexLayout.loadTombstones(spark, path, m, idCol)
    val buckets = IndexLayout.intParam(m, path, "buckets")
    batchFrames match {
      case Some((bban, bsh, bsizes)) =>
        requireSignedUnder(m, path, "nearDupIngestFromPath", n = 3,
          numHashes = 16, bands = 8, rows = 2)
        nearDupIngestFromFrames(sb, ssh, ssz, batch.select(col(idCol)),
          bban, bsh, bsizes, threshold, idCol, tombstones, buckets)
      case None =>
        nearDupIngest(sb, ssh, ssz, batch,
          IndexLayout.intParam(m, path, "n"), threshold,
          IndexLayout.intParam(m, path, "numHashes"),
          IndexLayout.intParam(m, path, "bands"),
          IndexLayout.intParam(m, path, "rows"), textCol, idCol,
          tombstones = tombstones, idBuckets = buckets)
    }
  }

  /** Restrict a standing index frame to a candidate-id set (column
    * `b_id`), best available strategy first — factored out of
    * [[nearDupIngest]] so the plan shape is spec-pinnable:
    *  - frame carries the `bucket` partition column (stored index):
    *    a LITERAL `bucket IN (…)` filter from the collected candidate
    *    bucket list (`buckets`) lands in the scan's PartitionFilters →
    *    STATIC partition pruning reads only candidate buckets. Static,
    *    not dynamic: the bucket list is at most the index's stored
    *    bucket count (metadata-scale, known before planning), and a literal
    *    filter prunes unconditionally where DPP depends on the
    *    optimizer spotting a selective node on the probe side — which
    *    it cannot through the persisted candidate frame;
    *  - no bucket column (in-memory frames): semi-join only;
    *  - `useBroadcast` gates the semi-join's broadcast hint (an
    *    explicit hint cannot be demoted by AQE, so a corpus-scale
    *    candidate set must take the shuffle path instead). */
  private[graft] def pruneStandingToCandidates(standing: DataFrame,
      candIds: DataFrame, useBroadcast: Boolean, idCol: String,
      buckets: Seq[Int]): DataFrame = {
    val keyed = standing.withColumnRenamed(idCol, "b_id")
    val base =
      if (standing.columns.contains("bucket"))
        keyed.filter(col("bucket").isin(buckets: _*)).drop("bucket")
      else keyed
    val probe = if (useBroadcast) broadcast(candIds) else candIds
    base.join(probe, Seq("b_id"), "left_semi")
  }

  /** Near-dup ingest against a standing corpus's MinHash index frames
    * (in-memory from [[minhashIndexFrames]] or loaded from a
    * [[saveMinhashIndex]] path — same code, so the two are identical
    * by construction): admit the batch docs that are NOT Jaccard-≥
    * `threshold` near-dups of any standing doc, and keep-first within
    * the batch (the HIGHER id of any verified intra-batch pair is
    * rejected, x2's rule). Candidates come from (band, sig) equi-joins
    * — batch-signature-sized build sides, never all-pairs — and every
    * rejection is VERIFIED with exact Jaccard over the shingle frames,
    * so precision is exact and only candidate recall is probabilistic
    * (1-(1-j^rows)^bands; identical docs always collide, so a true
    * exact duplicate can never be admitted). Docs with fewer than n
    * tokens carry no shingles and are admitted (no Jaccard evidence
    * against them — mirrored by both paths).
    *
    * EAGER at the rejected-id set: the batch's shingle frame feeds
    * three consumers (bands, sizes, the intersection join), so it is
    * persisted for the duration of the call — and the only way to
    * release that cache deterministically instead of leaking one copy
    * per invocation (the g33/x9 hygiene rule) is to materialize the
    * DELTA-SIZED rejected-id set first (one [[Checkpoints.ckptLocal]],
    * ≤ batch rows) and hand back a plan that reads only the batch and
    * that checkpoint. The bounded eager action is the documented
    * exception class (x26/g33). */
  def nearDupIngest(standingBands: DataFrame, standingShingles: DataFrame,
      standingSizes: DataFrame, batch: DataFrame, n: Int = 3,
      threshold: Double = 0.5, numHashes: Int = 16, bands: Int = 8,
      rows: Int = 2, textCol: String = "text",
      idCol: String = "doc_id",
      tombstones: Option[DataFrame] = None,
      idBuckets: Int = MinhashIndexBuckets): DataFrame = {
    val (bban, bsh, bsizes) =
      minhashIndexFrames(batch, n, numHashes, bands, rows, textCol, idCol)
    val admitted = nearDupIngestFromFrames(standingBands, standingShingles,
      standingSizes, batch.select(col(idCol)), bban, bsh, bsizes,
      threshold, idCol, tombstones, idBuckets)
    bsh.unpersist()
    admitted
  }

  /** The probe/verify core of [[nearDupIngest]], taking the batch's
    * PRE-COMPUTED index frames instead of deriving them from text —
    * for callers that need those frames again after admission (the
    * streaming ingest filters them to the admitted ids for its delta
    * write; re-deriving would shingle/sign the admitted docs twice per
    * micro-batch). The caller owns `bsh`'s persist lifetime (the
    * [[minhashIndexFrames]] contract); this function is EAGER at the
    * rejected-id set, so unpersisting right after return is safe.
    *
    * ONE probe serves both rejection rules: a batch doc `a` is
    * rejected when it verifies against a candidate `b` that is either
    * a standing doc (`b_new = false`) or a LOWER-id batch doc
    * (`b_new = true`, `b_id < a_id` — keep-first). The `b_new` tag
    * keeps a batch doc apart from a standing doc with the same id.
    * Tombstones strike standing candidates only: a deleted id names a
    * standing doc, never the batch doc that happens to reuse it. */
  def nearDupIngestFromFrames(standingBands: DataFrame,
      standingShingles: DataFrame, standingSizes: DataFrame,
      batchIds: DataFrame, bban: DataFrame, bsh: DataFrame,
      bsizes: DataFrame, threshold: Double = 0.5,
      idCol: String = "doc_id",
      tombstones: Option[DataFrame] = None,
      idBuckets: Int = MinhashIndexBuckets): DataFrame = {
    // a b-side frame: the standing rows (keyed `b_id`) tagged
    // b_new = false, the batch's own rows tagged b_new = true
    def tagged(standing: DataFrame, batch: DataFrame,
        cols: Column*): DataFrame = {
      val keyed = col("b_id") +: cols
      standing.select(keyed :+ lit(false).as("b_new"): _*).unionByName(
        batch.withColumnRenamed(idCol, "b_id")
          .select(keyed :+ lit(true).as("b_new"): _*))
    }
    // the batch's band keys are the small build side (AQE broadcasts
    // them); the standing bands stream
    val candRaw = bban.select(col(idCol).as("a_id"), col("band"), col("sig"))
      .join(tagged(standingBands.withColumnRenamed(idCol, "b_id"), bban,
        col("band"), col("sig")), Seq("band", "sig"))
      .filter(!col("b_new") || col("b_id") < col("a_id"))
      .select("a_id", "b_id", "b_new").distinct()
    // tombstones ([[deleteFromMinhashIndex]]) apply HERE, at the
    // delta-sized candidate-pair level, which is exactly equivalent to
    // having removed the docs from all three standing frames: standing
    // rows reach the verify only through candidate b_ids (the shingle
    // and size prunes below are semi-joins on candIds). Deletion so
    // adds no corpus-scale term to serving. No distinct on the build
    // side: anti-join semantics are duplicate-insensitive. The select
    // keeps candRaw's column order (a using-join puts its keys
    // first), so every plan downstream of the cached candidates has
    // one shape with tombstones or without, and reuses its compiled
    // classes across serves.
    val cand = tombstones.fold(candRaw)(t =>
        candRaw.join(t.select(col(idCol).as("b_id"), lit(false).as("b_new")),
          Seq("b_id", "b_new"), "left_anti").select("a_id", "b_id", "b_new"))
      // consumed by the candidate collect, the prunes and the
      // intersection; released once the rejected ids are materialized
      .persist(StorageLevel.MEMORY_AND_DISK)
    // The exact-Jaccard verify needs the STANDING frames only for
    // candidate docs. Three tiers of prune, best available first:
    //  1. stored frames carry the `bucket` partition column: the
    //     candidates' bucket list becomes a literal partition filter,
    //     so the scan reads only the candidates' buckets;
    //  2. in-memory frames (no bucket column): broadcast semi-join;
    //  3. a candidate set too large to broadcast (an explicit hint
    //     cannot be demoted by AQE): shuffle semi-join.
    // One bounded driver action picks the tier: a per-bucket count
    // whose rows (at most the stored bucket count) yield both the
    // candidate count and the bucket list.
    val candIds = cand.filter(!col("b_new")).select("b_id").distinct()
    val hasBuckets = standingShingles.columns.contains("bucket") ||
      standingSizes.columns.contains("bucket")
    val (nCand, candBuckets) =
      if (hasBuckets) {
        val perBucket = candIds
          .groupBy(idBucket(col("b_id"), idBuckets).as("bk"))
          .agg(count(lit(1)).as("n")).collect()
        (perBucket.map(_.getLong(1)).sum, perBucket.map(_.getInt(0)).toSeq)
      } else (candIds.count(), Seq.empty[Int])
    val useBroadcast = nCand <= MaxBroadcastCandidateIds
    def pruneToCandidates(standing: DataFrame): DataFrame =
      pruneStandingToCandidates(standing, candIds, useBroadcast, idCol,
        candBuckets)
    val inter = cand
      .join(bsh.select(col(idCol).as("a_id"), col("shingle")), "a_id")
      .join(tagged(pruneToCandidates(standingShingles), bsh, col("shingle")),
        Seq("b_id", "b_new", "shingle"))
      .groupBy("a_id", "b_id", "b_new").agg(count(lit(1)).as("i"))
    val dup = inter
      .join(bsizes.select(col(idCol).as("a_id"), col("n_sh").as("na")), "a_id")
      .join(tagged(pruneToCandidates(standingSizes), bsizes,
        col("n_sh").as("nb")), Seq("b_id", "b_new"))
      .filter(col("i").cast("double") /
        (col("na") + col("nb") - col("i")) >= threshold)
      .select(col("a_id").as(idCol)).distinct()
    // ckptLocal, NOT ckpt: the rejected set is delta-sized, and in a
    // long-running ingest service a reliable checkpoint per call would
    // accumulate never-auto-removed files; localCheckpoint blocks are
    // ContextCleaner-reclaimed once the caller drops the frame.
    val rejected = Checkpoints.ckptLocal(dup)
    cand.unpersist()
    batchIds.join(rejected, Seq(idCol), "left_anti")
  }

  // ---- SimHash ----

  /** SimHash bit width: 60 bits = the top 15 hex digits of md5, which
    * parse losslessly into a signed 64-bit int on BOTH Spark (`conv`)
    * and ANSI SQL engines (`0x…` cast) — so the whole SimHash pipeline
    * is oracle-checkable, unlike an engine-specific xxhash64. */
  val SimhashBits = 60

  /** 60-bit token hash shared with the DuckDB oracle: top 15 hex digits
    * of md5 as an integer (< 2^60, so no ANSI overflow). */
  private def tokenHash60(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long")

  /** 60-bit SimHash of the token multiset: per-bit majority vote of
    * token hashes. Built from expressions only: for each bit, sum ±1
    * over tokens, pack the sign bits. Near-dup docs differ in few bits
    * (compare with [[hammingDist]]). */
  def simhash(text: Column): Column = {
    val toks = split(text, " ")
    val bits = (0 until SimhashBits).map { b =>
      // +1 if bit b of hash(token) is set, else -1; sum over tokens
      val vote = aggregate(toks, lit(0),
        (acc, t) => acc + when(shiftright(tokenHash60(t), b).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(vote > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Whole-table SimHash, computed the scalable way: explode tokens,
    * hash once, then ONE codegen'd aggregation with 60 conditional sums
    * (map-side partial + final), then pack the sign bits. Same result as
    * [[simhash]] per row, but one pass over the tokens instead of 60
    * interpreted higher-order-function traversals. */
  def simhashTable(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val hashed = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .select(col(idCol), tokenHash60(col("tok")).as("h"))
    val bitSums = (0 until SimhashBits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b"))
    val agg = hashed.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val packed = (0 until SimhashBits)
      .map(b => when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    agg.select(col(idCol), packed.as("sh"))
  }

  /** SimHash near-dup pairs: band the 60 bits into 4 15-bit chunks
    * (any pair within Hamming distance 3 shares at least one chunk —
    * pigeonhole), bucket-join on chunks, verify exact distance. */
  def simhashNearDups(df: DataFrame, maxDist: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sigs = simhashTable(df, textCol, idCol).persist(StorageLevel.MEMORY_AND_DISK)
    // one pass over the cached sig table instead of a 4-way union of
    // selects (same rows: chunk = array position, key = the same
    // 15-bit slice) — the union form scheduled 4x the tasks and planned
    // the cache scan per branch (the bandedSignatures rationale)
    val banded = sigs.select(col(idCol), col("sh"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("sh"), c * 15).bitwiseAND(0x7FFFL)): _*))
        .as(Seq("chunk", "key")))
    banded.as("x").join(banded.as("y"), Seq("chunk", "key"))
      .filter(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"),
        hammingDist(col("x.sh"), col("y.sh")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** x23 — edit-distance near-dup pairs on the normalized document
    * HEAD: all (a, b) with Levenshtein distance ≤ `maxDist` between the
    * lowercased first `prefixLen` characters. The edit-distance modality
    * the other dedup families can't express: shingle Jaccard (x3/x4)
    * and SimHash (x6) score SET overlap and miss small in-place
    * character edits at the start of near-identical boilerplate heads,
    * which is exactly what scraper-injected prefixes and typo'd title
    * dupes look like.
    *
    * This is the exact ALL-PAIRS form — the oracle baseline, the same
    * role x3/x5/v1/v6 play for their families. Its production twin at
    * 100 TB is candidate blocking + this verify: generate candidates
    * with x6's banded SimHash (or x4's MinHash-LSH) over the same
    * prefix, then compute the exact distance ONLY on candidate pairs —
    * sub-quadratic, and the verify expression is byte-identical to this
    * one, so the twin is checked against this oracle the way x4 is
    * against x3. The prefix cap also bounds the per-pair cost: full-text
    * Levenshtein is O(len²) and unbounded; a fixed 32-char head is the
    * classic title-key compromise (and `prefixLen²` bounds every DP
    * table). */
  def editDistanceNearDups(docs: DataFrame, maxDist: Int = 4,
      prefixLen: Int = 32, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val pfx = lower(substring(col(textCol), 1, prefixLen))
    val a = docs.select(col(idCol).as("id_a"), pfx.as("_pa"))
    val b = docs.select(col(idCol).as("id_b"), pfx.as("_pb"))
    // thresholded levenshtein: banded DP, O(maxDist·len) per pair
    // instead of O(len²), returning -1 past the threshold — the exact
    // distance for every kept pair, so the oracle (unbounded
    // levenshtein + the same <= filter) is unchanged. This is the
    // verify kernel the blocked production twin runs per candidate.
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("_pa"), col("_pb"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** x25 — fuzzy name matching: Jaro-Winkler pairs within a blocking
    * key. The entity-resolution primitive (product/vendor/person name
    * dedup): candidates are restricted to equal `blockCol` values —
    * one equi-join shuffle, per-block quadratic verify with the native
    * [[graft.functions.JaroWinklerExpr]] (bit-exact with DuckDB's
    * `jaro_winkler_similarity`, so the oracle hash-compares the raw
    * double).
    *
    * Scale: cost is Σ block² in the CORPUS — this is the exact
    * all-pairs-within-block ORACLE form (the x3/x23 role): 25 brands
    * ≈ n/25 per block, so pair count grows quadratically with data and
    * the 25-key shuffle caps parallelism. The production twin is
    * [[jaroWinklerPairsBlocked]] (x25b, same oracle): identical names
    * short-circuit through a hash-group, and the pairwise stage runs
    * on the DISTINCT name table behind a zero-recall-loss prefix
    * filter — corpus-side work linear, quadratic work bounded by the
    * name vocabulary. */
  def jaroWinklerPairs(df: DataFrame, idCol: String, nameCol: String,
      blockCol: String, threshold: Double = 0.9): DataFrame = {
    graft.functions.TextExpressions.registerJaroWinkler(df.sparkSession)
    val a = df.select(col(blockCol).as("blk"), col(idCol).as("p1"),
      col(nameCol).as("n1"))
    val b = df.select(col(blockCol).as("blk"), col(idCol).as("p2"),
      col(nameCol).as("n2"))
    a.join(b, Seq("blk"))
      .filter(col("p1") < col("p2"))
      .select(col("p1"), col("p2"),
        graft.functions.TextExpressions.jaroWinkler(col("n1"), col("n2"))
          .as("jw"))
      .filter(col("jw") >= threshold)
  }

  /** The candidate+verify core of [[jaroWinklerPairsBlocked]] (x25b),
    * operating on DISTINCT (block, name) rows: emits every distinct
    * name pair within a block whose Jaro-Winkler similarity meets
    * `threshold`, with ZERO recall loss — a theorem, not a tuned-recall
    * claim (the x23b discipline). Exposed separately because this is
    * the stage whose scale behavior matters: its input is the distinct
    * NAME SPACE, not the corpus, so its cost is flat wherever the name
    * vocabulary saturates while the corpus grows.
    *
    * Soundness chain (every step a worst-case bound):
    *  1. `jw >= t` ⇒ `jaro >= (t - 0.4)/0.6`: the Winkler boost adds at
    *     most `0.4·(1 - jaro)` (prefix cap 4, scale 0.1) — equality at
    *     the cap, and a smaller boost only means a larger jaro.
    *  2. Writing the Jaro as `(m/l1 + m/l2 + (m - T/2)/m)/3` with the
    *     transposition term ≤ 1: `m/l1 + m/l2 >= 3·jaro - 1`, i.e. the
    *     MATCHED character count obeys
    *     `m >= (3·jLow - 1)·l1·l2/(l1+l2) = (5t-3)·l1·l2/(l1+l2) =: O`.
    *  3. Jaro matches are a 1-1 pairing of equal characters, so the
    *     character MULTISETS intersect in >= m >= O elements.
    *  4. Prefix filter (the classic set-similarity-join theorem): order
    *     each multiset's (char, occurrence) elements by one global
    *     total order; if two multisets share >= O elements, their
    *     prefixes of sizes `l1-O+1` and `l2-O+1` share at least one.
    *     O depends on BOTH lengths, so each name emits its prefix once
    *     per admissible partner-length class `c`, keyed by
    *     `(min(l,c), max(l,c), element)` — a true pair `(l1, l2)` then
    *     meets on the key both sides derived from the same O(l1,l2).
    *     Classes with `O > min(l,c)` are impossible (m <= min) and
    *     skipped; `O <= l` bounds classes at `c <= l/(5t-4)`, which is
    *     why `threshold > 0.8` is required (below it the class range —
    *     and the filter's power — collapses).
    * Floating-point hazard at the bound: `5t-3` computed in doubles can
    * land one ulp HIGH (5·0.9-3 = 1.5000000000000004), which would
    * shrink a prefix illegally — the `- 1e-9` inside the ceil absorbs
    * it in the safe direction (a too-small O only ADDS candidates).
    *
    * The global element order is corpus char rarity (ascending), so
    * prefixes hold each name's RAREST characters — selectivity, not
    * correctness (any total order satisfies the theorem). The rarity
    * table collect is bounded by the charset (metadata-scale, the
    * documented-collect discipline). Every candidate is verified with
    * the native [[graft.functions.JaroWinklerExpr]], bit-exact with
    * ANSI `jaro_winkler_similarity`. */
  def jaroWinklerNamePairs(distinctNames: DataFrame,
      threshold: Double = 0.9): DataFrame = {
    require(threshold > 0.8 && threshold <= 1.0,
      s"prefix-filter blocking needs 0.8 < threshold <= 1.0, got $threshold")
    graft.functions.TextExpressions.registerJaroWinkler(
      distinctNames.sparkSession)
    val dn = distinctNames.select(col("blk"), col("nm")).distinct()
    // global char rarity order; bounded by the charset of the name
    // column (<= a few hundred rows for real entity names)
    // max(length(nm)) rides the SAME job as the charset collect (a
    // second aggregate on the exploded plan) so the injectivity guard
    // below costs zero extra scans. Names contributing no single-char
    // element produce no encoded elements either, so the max over
    // contributing names still bounds every occurrence index.
    val charRows = dn
      .select(explode(split(col("nm"), "")).as("c"),
        length(col("nm")).as("nl"))
      .filter(length(col("c")) === 1)
      .groupBy("c").agg(count(lit(1)).as("n"), max(col("nl")).as("ml"))
      .orderBy(col("n"), col("c"))
      .collect()
    val orderStr = charRows.map(_.getString(0)).mkString
    val orderArr = split(lit(orderStr), "")
    // Injectivity guard for the 4-digit (rarity-rank, occurrence)
    // element encoding below: Spark's lpad TRUNCATES strings longer
    // than the target width, so a rarity rank or occurrence index
    // beyond 9999 would silently corrupt the element total order and
    // void the zero-recall-loss theorem. Fail loudly instead — both
    // bounds sit far beyond real entity-name corpora (even full CJK
    // charsets are a few thousand; a 10000-char "name" is garbage in),
    // and the same length cap keeps ovl()'s 1e-9 ceil absorber orders
    // of magnitude above the double rounding error of the product.
    require(orderStr.length <= 9999,
      s"name charset has ${orderStr.length} distinct chars; the 4-digit " +
        "rarity-rank encoding caps at 9999 — widen the padding before " +
        "running this corpus")
    val maxNameLen = if (charRows.isEmpty) 0 else charRows.map(_.getInt(2)).max
    require(maxNameLen <= 9999,
      s"longest name has $maxNameLen chars; the 4-digit occurrence " +
        "encoding caps at 9999 — widen the padding before running this " +
        "corpus")
    val chars = filter(split(col("nm"), ""), x => length(x) === 1)
    // sortable AND joinable element ids: zero-padded (rarity rank,
    // occurrence index) — injective on (char, occ), so lexicographic
    // order on the strings IS one global total order on elements
    val elems = array_sort(transform(chars, (c, i) => concat(
      lpad(array_position(orderArr, c).cast("string"), 4, "0"),
      lpad(size(filter(slice(chars, lit(1), i), x => x === c))
        .cast("string"), 4, "0"))))
    // O(l, c), computed safe-side (see scaladoc)
    def ovl(l: Column, c: Column): Column =
      ceil((lit(5 * threshold - 3) * l * c).cast("double") /
        (l + c).cast("double") - lit(1e-9)).cast("int")
    val clsMax = ceil(col("len").cast("double") / lit(5 * threshold - 4) +
      lit(2)).cast("int")
    val sigs = dn
      .withColumn("len", size(chars))
      .withColumn("sorted", elems)
      .withColumn("cls", explode(filter(sequence(lit(1), clsMax), c =>
        ovl(col("len"), c) <= least(col("len"), c) &&
          col("len") - ovl(col("len"), c) + 1 >= 1)))
      .withColumn("p", col("len") - ovl(col("len"), col("cls")) + 1)
      .withColumn("mn", least(col("len"), col("cls")))
      .withColumn("mx", greatest(col("len"), col("cls")))
      .select(col("blk"), col("nm"), col("len"), col("mn"), col("mx"),
        explode(slice(col("sorted"), lit(1), col("p"))).as("sig"))
    val cand = sigs.select(col("blk"), col("nm").as("nm1"),
        col("len").as("l1"), col("mn"), col("mx"), col("sig"))
      .join(sigs.select(col("blk"), col("nm").as("nm2"),
        col("len").as("l2"), col("mn"), col("mx"), col("sig")),
        Seq("blk", "mn", "mx", "sig"))
      .filter(col("nm1") < col("nm2") &&
        least(col("l1"), col("l2")) === col("mn") &&
        greatest(col("l1"), col("l2")) === col("mx"))
      .select("blk", "nm1", "nm2").distinct()
    cand
      .withColumn("jw",
        graft.functions.TextExpressions.jaroWinkler(col("nm1"), col("nm2")))
      .filter(col("jw") >= threshold)
  }

  /** x25b — the sub-quadratic production twin of [[jaroWinklerPairs]]
    * (x25), same exact oracle. Two structural moves:
    *
    *  1. IDENTICAL names — which dominate the output of real entity
    *     corpora — never enter pairwise similarity at all: one
    *     hash-group on (block, name) and an output-sized equi-join
    *     expansion emit them with jw = 1.0 exactly (identical strings
    *     score exactly 1.0 in the formula on every engine — m = l1 =
    *     l2, T = 0).
    *  2. The quadratic stage runs on the DISTINCT name table via
    *     [[jaroWinklerNamePairs]]'s zero-loss prefix filter; verified
    *     name pairs then expand back to id pairs through two
    *     (block, name) equi-joins.
    *
    * Why this is the 100 TB shape where x25's brand-only blocking is
    * Σblock² in the CORPUS: every corpus-proportional step here is
    * linear (hash-group, signature scan, expansion joins — the last
    * bounded by the output, which no algorithm can undercut), and the
    * pairwise work is (distinct names per block)², a quantity that
    * saturates with the name vocabulary rather than growing with rows.
    * Skew hazard, documented: a single degenerate name shared by g
    * rows emits C(g,2) OUTPUT pairs — that is the specified result
    * itself, so the mitigation lives upstream (x1 exact-dedup ids, or
    * cap the group like g30's maxBasket) when the consumer doesn't
    * want placeholder-name cliques. */
  def jaroWinklerPairsBlocked(df: DataFrame, idCol: String, nameCol: String,
      blockCol: String, threshold: Double = 0.9): DataFrame = {
    val names = df.select(col(blockCol).as("blk"), col(idCol).as("pid"),
      col(nameCol).as("nm")).filter(col("nm").isNotNull)
    // non-empty only: the empty string scores 0 against EVERYTHING in
    // the DuckDB convention (including itself — pinned in ExtSpec), so
    // the identical-score-1.0 shortcut must not apply to it
    val ident = names.filter(length(col("nm")) > 0)
      .select(col("blk"), col("nm"), col("pid").as("p1"))
      .join(names.select(col("blk"), col("nm"), col("pid").as("p2")),
        Seq("blk", "nm"))
      .filter(col("p1") < col("p2"))
      .select(col("p1"), col("p2"), lit(1.0).as("jw"))
      .filter(lit(1.0) >= threshold)
    val cross = jaroWinklerNamePairs(names.select("blk", "nm"), threshold)
      .join(names.select(col("blk"), col("nm").as("nm1"),
        col("pid").as("id1")), Seq("blk", "nm1"))
      .join(names.select(col("blk"), col("nm").as("nm2"),
        col("pid").as("id2")), Seq("blk", "nm2"))
      .select(least(col("id1"), col("id2")).as("p1"),
        greatest(col("id1"), col("id2")).as("p2"), col("jw"))
    ident.unionByName(cross)
  }

  /** x23b — the BLOCKED production twin of [[editDistanceNearDups]]:
    * PassJoin-style segment blocking, then the same banded verify.
    *
    * Soundness (why this shares x23's EXACT oracle, unlike tuned-recall
    * LSH): partition each normalized head into `maxDist + 1` contiguous
    * segments; ≤ maxDist edit operations cannot touch all of them
    * (pigeonhole), so for any pair within distance k, at least one
    * segment of either string appears VERBATIM in the other, start
    * position shifted by at most k (the net indel balance). So an
    * equi-join of segment keys (k+1 per doc) against windowed substring
    * probe keys (≤ (k+1)·(2k+1) per doc) over (segment index, string)
    * generates a candidate superset with ZERO recall loss — a theorem,
    * not a tuning claim — and the banded Levenshtein verify equals the
    * all-pairs form exactly.
    *
    * The pigeonhole needs both strings on ONE segment grid, so the
    * grid is a constant of `prefixLen` (full-length heads — the normal
    * case); heads shorter than `prefixLen` can't share it and instead
    * take a LENGTH-BANDED candidate route: distance ≤ k forces head
    * lengths within k of each other, so each short head equi-joins
    * only the 2k+1 length classes it could possibly match —
    * |short|·(2k+1) join keys, zero recall loss, no crossJoin even on
    * a tiny-doc-heavy corpus (and the set is empty entirely in a
    * corpus whose documents all exceed the prefix, true of the
    * testdata and of any real corpus with a minimum-length gate).
    *
    * Scale shape: per-doc key generation is pure codegen'd explode
    * (constant ≤ ~(k+1)(2k+2) keys/doc); the one shuffle is the
    * candidate equi-join on (segment index, 6-8 char substring) — key
    * selectivity of natural-text heads, the same bucket-join shape as
    * x4/x6 — then a delta-sized id join + per-pair O(k·len) verify.
    * Sub-quadratic wherever heads are diverse; degenerate only if the
    * corpus shares one literal head, which the exact form can't beat
    * either. */
  def editDistanceNearDupsBlocked(docs: DataFrame, maxDist: Int = 4,
      prefixLen: Int = 32, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val k = maxDist
    val nSeg = k + 1
    // one CONSTANT segment grid for full-length heads (the pigeonhole
    // argument needs both strings on the same grid; a per-length grid
    // silently loses pairs across length boundaries): nSeg segments,
    // the last (prefixLen mod nSeg) one char longer
    val baseLen = prefixLen / nSeg
    val nLong = prefixLen % nSeg
    val grid = (0 until nSeg).map { i =>
      val len = baseLen + (if (i >= nSeg - nLong) 1 else 0)
      val start = i * baseLen + math.max(0, i - (nSeg - nLong))
      (i, start, len)
    }
    val pfx = docs.select(col(idCol).as("_id"),
      lower(substring(col(textCol), 1, prefixLen)).as("_p"))
      .withColumn("_n", length(col("_p")))
    val full = pfx.filter(col("_n") === prefixLen)
    val short = pfx.filter(col("_n") < prefixLen)
    // index side: the nSeg exact segments of each full-length head
    val segKeys = full.select(col("_id").as("id_seg"), explode(array(
      grid.map { case (i, st, ln) =>
        struct(lit(i).as("i"), substring(col("_p"), st + 1, ln).as("key"))
      }: _*)).as("_s"))
      .select(col("id_seg"), col("_s.i").as("i"), col("_s.key").as("key"))
    // probe side: substrings at segment i's length, start within ±k of
    // its home position — where the untouched segment can land after
    // ≤k net indels
    val probeKeys = full.select(col("_id").as("id_probe"), explode(array(
      grid.flatMap { case (i, st, ln) =>
        (math.max(st - k, 0) to math.min(st + k, prefixLen - ln)).map { s2 =>
          struct(lit(i).as("i"), substring(col("_p"), s2 + 1, ln).as("key"))
        }
      }: _*)).as("_q"))
      .select(col("id_probe"), col("_q.i").as("i"), col("_q.key").as("key"))
      .distinct()
    val candsFull = segKeys.join(probeKeys, Seq("i", "key"))
      .filter(col("id_seg") =!= col("id_probe"))
      .select(least(col("id_seg"), col("id_probe")).as("id_a"),
        greatest(col("id_seg"), col("id_probe")).as("id_b"))
      .distinct()
    // heads shorter than prefixLen (rare by construction — a corpus
    // document shorter than 32 chars): LENGTH-BANDED candidates. Edit
    // distance ≤ k forces |len_a − len_b| ≤ k (each op changes length
    // by at most 1 — the pigeonhole's own premise), so a short head s
    // only needs candidates whose head length lies in [|s|−k, |s|+k]:
    // the short side explodes its 2k+1 admissible partner lengths and
    // equi-joins the corpus keyed by its own head length. Bounded by
    // |short|·(2k+1) keys against per-length groups — no crossJoin
    // node, and a tiny-doc-heavy corpus no longer degenerates to
    // |short|·n (the full heads it can never match within k are never
    // generated as candidates at all).
    val candsShort = short.select(col("_id").as("s_id"),
        explode(sequence(greatest(col("_n") - k, lit(0)),
          col("_n") + k)).as("lc"))
      .join(pfx.select(col("_id").as("o_id"), col("_n").as("lc")),
        Seq("lc"))
      .filter(col("s_id") =!= col("o_id"))
      .select(least(col("s_id"), col("o_id")).as("id_a"),
        greatest(col("s_id"), col("o_id")).as("id_b"))
      .distinct()
    val heads = pfx.select(col("_id"), col("_p"))
    candsFull.unionByName(candsShort).distinct()
      .join(heads.select(col("_id").as("id_a"), col("_p").as("_pa")), "id_a")
      .join(heads.select(col("_id").as("id_b"), col("_p").as("_pb")), "id_b")
      .withColumn("dist", levenshtein(col("_pa"), col("_pb"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  // ---- dup clusters (connected components) ----

  /** Connected components over near-dup pairs: every doc in a component
    * gets the component's minimum doc id as `cluster_id` — the label a
    * pipeline keeps to choose one canonical document per dup group
    * (pairs alone can't: near-dup similarity is not transitive, the
    * cluster closure is what dedup actually deletes against).
    *
    * Iterative min-label propagation with POINTER DOUBLING: each round
    * (a) pulls the minimum neighbor label across the (symmetrized) edge
    * list, then (b) shortcuts every label to its label's label. The
    * shortcut halves the remaining path to the component minimum, so
    * convergence is O(log diameter) rounds — maxIters=20 covers
    * components of diameter ~2^20, far past any real dup-chain. Each
    * round is a few shuffles on node id; labels are persisted and the
    * loop stops on a fixpoint — the join shape used for CC at web
    * scale. The driver-side loop iterates ROUNDS, never rows.
    * Convergence probe: labels are per-node MONOTONE NON-INCREASING
    * (both steps take a `least`), so the label-sum strictly decreases
    * while any node still moves and is constant exactly at the
    * fixpoint — one shuffle-free aggregation over the round's
    * checkpointed blocks (decimal(38,0): no overflow even at 10^11
    * nodes x 10^11 labels), replacing a per-round join against the
    * previous round's labels.
    *
    * Throws IllegalStateException if the iteration cap is hit without a
    * fixpoint — partial labels are silently wrong, never returned.
    *
    * Checkpoint strategy: if the session has a RELIABLE checkpoint dir
    * (`sc.setCheckpointDir`), each round's labels go through
    * `Dataset.checkpoint()` — files on fault-tolerant storage that
    * survive executor loss / dynamic-allocation downscale, which is what
    * a multi-round iterative job needs on a real cluster. Otherwise it
    * falls back to `localCheckpoint()` — executor-block storage, fast
    * and fine for single-JVM runs, but NOT fault-tolerant: losing an
    * executor mid-loop fails the job (and localCheckpoint is documented
    * unsafe with dynamic allocation). Cluster callers should set a
    * checkpoint dir. Either way each round eagerly materializes AND
    * truncates lineage (plain persist would let the limit(1) convergence
    * probe materialize only a few partitions, so later rounds recompute
    * uncached partitions through the full multi-round join lineage —
    * including the possibly-expensive near-dup pair plan feeding
    * `edges`); superseded rounds' blocks are freed explicitly rather
    * than waiting on ContextCleaner GC. */
  def connectedComponents(pairs: DataFrame,
      aCol: String = "a_id", bCol: String = "b_id",
      maxIters: Int = 20): DataFrame = {
    // [[Checkpoints]]: truncate lineage per round, free superseded
    // rounds eagerly — without this, up to maxIters label snapshots
    // accumulate per invocation. free() is only called after the next
    // round's checkpoint has fully materialized and the convergence
    // probe has run.
    import Checkpoints.{ckpt, free}
    val edges = ckpt(pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .unionByName(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct())
    // seed labels with min(self, min neighbor): the symmetrized edge
    // list already pairs every node with all its neighbors, so this is
    // round 1's pull for the cost of one groupBy (no join) — diameter-2
    // dup clusters (the common case) then converge in a single round
    var labels = ckpt(edges.groupBy(col("u"))
      .agg(least(col("u"), min(col("v"))).as("lbl"))
      .select(col("u").as("id"), col("lbl")))
    // Option-wrapped: an empty edge set sums to null and converges on
    // the first probe
    def checksum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("lbl").cast(
        org.apache.spark.sql.types.DecimalType(38, 0)))).head().getDecimal(0))
    var prevSum = checksum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      // candidate label for v = min over neighbors u of lbl(u); merge
      // with own label, keep the minimum
      val fromNeighbors = edges
        .join(labels.withColumnRenamed("id", "u"), "u")
        .groupBy(col("v").as("id")).agg(min("lbl").as("nlbl"))
      // persisted (not checkpointed): consumed twice by the self-join
      // right below, then dropped — the round's only transient
      val pulled = labels.join(fromNeighbors, Seq("id"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // pointer doubling: lbl := lbl(lbl). Labels only ever decrease and
      // every label is itself a node id, so the lookup always hits; the
      // shortcut jumps straight to wherever the label's own label has
      // already propagated, halving the remaining chain each round.
      val next = ckpt(pulled
        .join(pulled.select(col("id").as("lbl"), col("lbl").as("lbl2")), Seq("lbl"), "left")
        .select(col("id"), least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl")))
      // monotone-checksum probe over the just-materialized checkpoint:
      // equal sums <=> no label moved this round (labels never increase)
      val nextSum = checksum(next)
      pulled.unpersist()
      free(labels) // superseded round — release its blocks eagerly
      labels = next
      converged = nextSum == prevSum ||
        (nextSum.isDefined && prevSum.isDefined &&
          nextSum.get.compareTo(prevSum.get) == 0)
      prevSum = nextSum
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not reach a fixpoint in $maxIters rounds — " +
        "partial labels would be silently wrong; raise maxIters")
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** x29 — INCREMENTAL connected-components maintenance: fold a
    * delta-sized batch of new near-dup edges into a standing label set
    * (`doc_id`, `cluster_id` from a prior [[connectedComponents]] run)
    * WITHOUT re-running CC over the standing graph. The result equals
    * a full recompute over (standing ∪ delta) exactly — that identity
    * is the oracle — but the expensive work is delta-sized.
    *
    * Correctness: contract every standing component to its label.
    * Contraction preserves connectivity of the union graph (a path
    * through a standing component is a path through its
    * representative), so CC over the CONTRACTED delta edges — each
    * endpoint replaced by its standing label, or by itself for a node
    * the standing graph has never seen; self-loops dropped — yields
    * exactly the groups of old components (and fresh nodes) that the
    * delta merges. And because every standing label IS its component's
    * minimum member id, the minimum over a merged group's
    * representatives equals the minimum over all its member doc ids —
    * the same label a full recompute assigns.
    *
    * Scale shape: the standing LABELS are scanned exactly twice, both
    * times through a gated-broadcast hash join with a delta-sized
    * build side and no shuffle of the standing rows — once semi-joined
    * to the delta's endpoints to resolve representatives, once
    * left-joined to the relabel patch to emit updated labels. The
    * standing EDGES are never touched at all; CC runs only on the
    * contracted graph (≤ one edge per delta pair). At 100 TB that is
    * the difference between a daily label refresh costing two
    * broadcast-join scans of a (doc_id, cluster_id) frame and
    * re-shuffling the full corpus edge list O(log diameter) times.
    * The relabel patch (old label → new label, ≤ 2·|delta| rows) is
    * itself the production artifact a serving layer would persist to
    * patch downstream consumers in place.
    *
    * Eager actions (the documented x26-class exception): the delta
    * edge list, the representative map, and the patch are
    * [[Checkpoints.ckptLocal]]-materialized — all delta-sized — so the
    * returned plan reads only those checkpoints and the standing
    * labels; the broadcast hints are gated on their counted sizes
    * (an explicit hint is irrevocable under AQE, and a pathological
    * batch merging corpus-scale clusters must degrade to a shuffle
    * join, not OOM the driver). */
  def connectedComponentsIncremental(labels: DataFrame, deltaPairs: DataFrame,
      aCol: String = "a_id", bCol: String = "b_id",
      maxIters: Int = 20): DataFrame = {
    import Checkpoints.ckptLocal
    val delta = ckptLocal(deltaPairs
      .select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    val endpoints = delta.select(col("a").as("nid"))
      .unionByName(delta.select(col("b").as("nid"))).distinct()
    def gated(df: DataFrame, n: Long): DataFrame =
      if (n <= MaxBroadcastCandidateIds) broadcast(df) else df
    // standing representatives of the delta's endpoints: ONE pass over
    // the labels, output bounded by 2·|delta|
    val repMap = ckptLocal(labels
      .select(col("doc_id").as("nid"), col("cluster_id").as("rep"))
      .join(gated(endpoints, delta.count() * 2), Seq("nid"), "left_semi"))
    val epRep = ckptLocal(endpoints.join(repMap, Seq("nid"), "left")
      .select(col("nid"), coalesce(col("rep"), col("nid")).as("rep")))
    // contracted delta graph: edges between representatives
    val contracted = delta
      .join(epRep.select(col("nid").as("a"), col("rep").as("ra")), Seq("a"))
      .join(epRep.select(col("nid").as("b"), col("rep").as("rb")), Seq("b"))
      .select(col("ra").as("a_id"), col("rb").as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
    // CC over the contracted graph only — the merge structure
    val patch = ckptLocal(
      connectedComponents(contracted, maxIters = maxIters)
        .select(col("doc_id").as("rep"), col("cluster_id").as("new_lbl")))
    val patchN = patch.count()
    // apply: standing labels patched in place (absent key = untouched
    // component), fresh nodes labeled from their own representative
    val updated = labels
      .join(gated(patch.withColumnRenamed("rep", "cluster_id"), patchN),
        Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("new_lbl"), col("cluster_id")).as("cluster_id"))
    val fresh = epRep.join(repMap.select("nid"), Seq("nid"), "left_anti")
      .join(patch, Seq("rep"), "left")
      .select(col("nid").as("doc_id"),
        coalesce(col("new_lbl"), col("rep")).as("cluster_id"))
    updated.unionByName(fresh)
  }

  // ---- embedding near-dup ----

  /** LSH-bucketed embedding near-dup: hyperplane-signature buckets over
    * multiple tables, exact-cosine verification of candidates. The scale
    * path for [[embeddingNearDups]] — candidates ∝ corpus/2^nBits per
    * table instead of all pairs. Recall < 1 by construction (tunable via
    * nTables); measured in ExtSpec, so no SQL oracle. */
  def embeddingNearDupsLsh(df: DataFrame, threshold: Double = 0.4,
      nBits: Int = 4, nTables: Int = 16, seed: Long = 42L,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    graft.ext.Similarity.lshNearDupPairs(df, threshold, nBits, nTables, seed, vecCol, idCol)

  /** Brute-force embedding-cosine near-dup pairs (exact; the LSH-bucketed
    * scale path is [[embeddingNearDupsLsh]]). */
  def embeddingNearDups(df: DataFrame, threshold: Double = 0.4,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    val a = df.select(col(idCol).as("a_id"), col(vecCol).as("va"))
    val b = df.select(col(idCol).as("b_id"), col(vecCol).as("vb"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        // codegen'd cosine: this is the O(n²) exact twin — the one place
        // the per-pair expression cost multiplies hardest
        graft.functions.VectorFunctions.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
      .select("a_id", "b_id")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): partition the corpus into embedding clusters,
    * then drop every document whose cosine similarity to an
    * earlier-id document IN THE SAME CLUSTER reaches `eps`. Clustering
    * is what makes this tractable at 100 TB — the quadratic
    * pair-verify runs per cluster (corpus²/k pairs in expectation for
    * k balanced clusters, vs corpus² for [[embeddingNearDups]]), at
    * the price of missing cross-cluster pairs; scale k with the corpus
    * to hold cluster size constant. Plan shape: the cluster
    * assignment is one scan with the k centroids broadcast (map-side
    * argmax, no vector shuffle); the verify self-join shuffles each
    * cluster's vectors to one hash bucket, so cluster size — not
    * corpus size — bounds task memory.
    *
    * Removal rule: `b` is dropped iff some `a < b` in the same cluster
    * has cosine ≥ eps — a pure pair predicate (NOT chained through
    * whether `a` itself survived), deterministic, and recomputable in
    * one SQL CTE. Same keep-first-id convention as [[keepFirst]].
    *
    * Two clustering paths:
    *  - `nIters = 0` (oracle parity): centroids are the `nClusters`
    *    corpus vectors with the lowest md5(id) — a deterministic
    *    pseudo-random draw both engines reproduce — and assignment is
    *    argmax double-cosine with a lowest-seed-id tie-break. No Lloyd
    *    averaging, so no float-summation-order divergence from the
    *    DuckDB recompute; the HOF cosine keeps the math in double like
    *    the oracle's `list_cosine_similarity` over `DOUBLE[]`.
    *  - `nIters > 0` (production): Lloyd-refined centroids via
    *    [[Similarity.ivfCentroids]]/[[Similarity.ivfAssign]] give
    *    balanced clusters on real corpora; engine-specific (float
    *    scoring, averaged centroids), spec-pinned rather than
    *    SQL-oracled — the same split as x3 (exact twin) vs x4 (scale
    *    path).
    *
    * @return (idCol, list_id) for every KEPT document. */
  def semanticDedup(df: DataFrame, nClusters: Int = 8, eps: Double = 0.4,
      nIters: Int = 0, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    val assigned = semanticClusters(df, nClusters, nIters, vecCol, idCol)
    // the assignment feeds THREE consumers (both sides of the pair
    // self-join and the kept output); un-materialized, Spark re-runs the
    // corpus-wide argmax scan for each. Checkpoint the narrow
    // (id, list_id) result once — same reliable-or-local policy as
    // connectedComponents (a RELIABLE checkpoint when the session has a
    // checkpoint dir, so the materialization survives executor loss at
    // scale; localCheckpoint as the single-JVM fallback).
    val assignedCk =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        assigned.checkpoint()
      else assigned.localCheckpoint()
    val withList = df.select(col(idCol), col(vecCol)).join(assignedCk, Seq(idCol))
    val a = withList.select(col("list_id"), col(idCol).as("a_id"), col(vecCol).as("_va"))
    val b = withList.select(col("list_id"), col(idCol).as("b_id"), col(vecCol).as("_vb"))
    val removed = a.join(b, Seq("list_id"))
      .filter(col("a_id") < col("b_id"))
      // threshold compare on the codegen'd float cosine — the x5/x7
      // precedent (oracle compares in double; no pair sits within float
      // epsilon of the threshold on this corpus, pinned by the oracle)
      .filter(graft.functions.VectorFunctions.cosine(col("_va"), col("_vb")) >= eps)
      .select(col("b_id")).distinct()
    withList.select(col(idCol), col("list_id"))
      .join(removed, col(idCol) === col("b_id"), "left_anti")
  }

  /** Embedding cluster labels for [[semanticDedup]] — exposed on its
    * own because cluster assignment is independently useful (diversity
    * analysis, stratified sampling, [[DataSplit]] keys). One corpus
    * scan: the k centroids are broadcast and the argmax runs as a
    * map-side partial `max_by` before the only exchange, which carries
    * one (id, seed_id, sim) partial per row group — the corpus vectors
    * themselves never shuffle. This is [[Similarity.ivfIngest]] with
    * the corpus as its own standing set and batch; see [[semanticDedup]]
    * for the `nIters = 0` (oracle-parity, md5-drawn raw-vector seeds)
    * vs `nIters > 0` (Lloyd-refined, [[Similarity.ivfCentroids]])
    * split. */
  def semanticClusters(df: DataFrame, nClusters: Int = 8, nIters: Int = 0,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    Similarity.ivfIngest(df, df, nClusters, nIters, vecCol, idCol)

  /** t24 — per-document novelty: the fraction of a document's distinct
    * shingles that appear in NO other document. The corpus-level
    * duplication diagnostic that decides whether a dedup pass is worth
    * running at all, and the per-doc score that ranks boilerplate
    * (novelty → 0) against genuinely fresh text (novelty → 1) —
    * the same signal RefinedWeb/Gopher report as "fraction of
    * duplicated n-grams".
    *
    * Emits (doc_id, n_shingles, n_shared, novelty) where `n_shared`
    * counts distinct shingles with corpus df ≥ 2 and `novelty` is the
    * single finishing double `1 − n_shared / n_shingles` (the oracle
    * spells the identical IEEE sequence). Documents shorter than `n`
    * tokens carry no shingles and drop out, mirrored by the oracle's
    * `len(w) >= 3` guard.
    *
    * Plan shape: [[explodedShingles]] reduces every shingle to an
    * 8-byte hash before the only wide stages — a map-side-combined df
    * aggregation and a co-partitioned hash join back onto the shingle
    * stream (both sides partitioned by the hash; no second shuffle of
    * the join input), then a (doc_id, 2 longs) aggregation. Document
    * text never shuffles. Same df-table discipline as [[jaccardPairs]];
    * collisions merge two shingles with probability ~1e-9 (the x3
    * precedent — the oracle pins there is no effect on this corpus). */
  def noveltyScores(df: DataFrame, n: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val sh = explodedShingles(df, n, textCol, idCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val dfc = sh.groupBy("shingle").agg(count(lit(1)).as("_df"))
    val agg = sh.join(dfc, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("_df") >= 2, 1L).otherwise(0L)).as("n_shared"))
    agg.select(col(idCol), col("n_shingles"), col("n_shared"),
      (lit(1.0) - col("n_shared").cast("double") /
        col("n_shingles").cast("double")).as("novelty"))
  }

  /** x18 — cross-source overlap matrix: exact shingle-set Jaccard
    * between every pair of corpus sources that share at least one
    * shingle. The corpus-composition diagnostic run before mixing
    * (t12) or dedup (x1–x9): two crawls of the same site show up as a
    * high-Jaccard pair, and the matrix says which source pairs need a
    * cross-source dedup pass at all.
    *
    * Emits (src_a, src_b, n_a, n_b, n_inter, jaccard), src_a < src_b,
    * inner-join semantics (disjoint pairs drop out); `jaccard` is the
    * one finishing double `n_inter / (n_a + n_b − n_inter)` over exact
    * integers, the [[jaccardPairs]] expression verbatim.
    *
    * Plan shape: per-source DISTINCT shingle hashes (map-side-combined
    * — the dominant reduction: |sources| · |distinct shingles| upper
    * bound, regardless of corpus row count), then a self-join keyed on
    * the 8-byte hash whose per-key fan-out is capped by |sources|², so
    * no key can skew — the x3 self-join with the unbounded doc axis
    * replaced by the bounded source axis. Text never shuffles. */
  def sourceOverlap(docs: DataFrame, n: Int = 3,
      textCol: String = "text", srcCol: String = "source"): DataFrame = {
    val sh = explodedShingles(docs, n, textCol, srcCol).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy(col(srcCol)).agg(count(lit(1)).as("n"))
    val a = sh.select(col(srcCol).as("src_a"), col("shingle"))
    val b = sh.select(col(srcCol).as("src_b"), col("shingle"))
    val inter = a.join(b, Seq("shingle"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(broadcast(sizes.select(col(srcCol).as("src_a"), col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col(srcCol).as("src_b"), col("n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_inter"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
  }

  /** x19 — snapshot diff: the change-data-capture delta between two
    * corpus snapshots. The maintenance operation a living corpus runs
    * on every crawl refresh: which documents appeared, which vanished,
    * which re-crawled with different content — the delta that drives
    * incremental dedup (x16), incremental index ingest (v9) and
    * training-set invalidation, instead of reprocessing 100 TB.
    *
    * Emits (idCol, status) for status ∈ added | removed | changed;
    * unchanged documents produce NO row, so the output is delta-sized
    * (typically ≪ corpus-sized) no matter how large the snapshots are.
    *
    * Plan shape: each side is reduced AT THE SCAN to (id, 64-char
    * sha256) — content never shuffles — then one full-outer
    * co-partitioned join on id classifies the three cases. Content
    * comparison by digest equality: two revisions colliding on sha256
    * would misread as unchanged with probability ~2⁻²⁵⁶ (the x1
    * argument). At 100 TB both sides shuffle ~72 bytes/doc, and if the
    * snapshots are stored bucketed by id the exchange disappears
    * entirely. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val o = oldSnap.select(col(idCol), sha2(col(textCol), 256).as("_old_sha"))
    val n = newSnap.select(col(idCol), sha2(col(textCol), 256).as("_new_sha"))
    o.join(n, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("_old_sha").isNull, "added")
          .when(col("_new_sha").isNull, "removed")
          .when(col("_old_sha") =!= col("_new_sha"), "changed"))
      .filter(col("status").isNotNull)
      .select(col(idCol), col("status"))
  }

  /** x21 — change magnitude: for every CHANGED document between two
    * snapshots, the n-gram Jaccard between its old and new revision —
    * the signal that separates substantive re-writes (reprocess,
    * re-embed, re-dedup) from trivial re-crawl churn (a boilerplate
    * date, an ad rotation) that should NOT invalidate downstream work.
    * Emits (idCol, n_old, n_new, n_inter, jaccard, minor) where
    * `minor` = jaccard ≥ `minorThreshold`; docs too short to shingle
    * on either side get NULL jaccard and are never `minor`.
    *
    * Two-phase so text only ever shuffles DELTA-sized: first
    * [[snapshotDiff]] finds changed ids by digest (content never
    * shuffles), then ONLY those ids pull both revisions into the
    * comparison join; the shingle sets are built per-row by the native
    * n-gram expression and never leave their row — no shingle
    * explosion, no shingle shuffle, unlike the corpus-wide dedup
    * family. At 100 TB: two digest-index joins plus per-row work on
    * the changed slice. */
  def changeMagnitude(oldSnap: DataFrame, newSnap: DataFrame, n: Int = 3,
      minorThreshold: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    graft.functions.TextExpressions.registerNgrams(oldSnap.sparkSession)
    val changedIds = snapshotDiff(oldSnap, newSnap, textCol, idCol)
      .filter(col("status") === "changed").select(idCol)
    val sh = (c: Column) => array_distinct(
      graft.functions.TextExpressions.ngrams(split(c, " "), n))
    val o = oldSnap.join(changedIds, Seq(idCol))
      .select(col(idCol), sh(col(textCol)).as("_sa"))
    val nw = newSnap.join(changedIds, Seq(idCol))
      .select(col(idCol), sh(col(textCol)).as("_sb"))
    o.join(nw, Seq(idCol))
      .select(col(idCol),
        size(col("_sa")).cast("long").as("n_old"),
        size(col("_sb")).cast("long").as("n_new"),
        size(array_intersect(col("_sa"), col("_sb"))).cast("long").as("n_inter"))
      .withColumn("jaccard",
        when(col("n_old") + col("n_new") - col("n_inter") > 0,
          col("n_inter").cast("double") /
            (col("n_old") + col("n_new") - col("n_inter"))))
      .withColumn("minor",
        coalesce(col("jaccard") >= minorThreshold, lit(false)))
  }
}
