package graft

import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Similarity, TextAnalysis}
import graft.functions.VectorFunctions
import graft.sources.Tables

class ExtSpec extends SparkSpec {

  import scala.jdk.CollectionConverters._

  private lazy val docs = Tables.documents(spark, sf())
  private lazy val emb = Tables.embeddings(spark, sf())

  test("cosine: codegen expression, HOF fallback, and manual math agree") {
    VectorFunctions.register(spark)
    val pairs = emb.limit(10).select(col("vec_id").as("a_id"), col("embedding").as("va"))
      .crossJoin(emb.limit(10).select(col("vec_id").as("b_id"), col("embedding").as("vb")))
      .filter(col("a_id") < col("b_id"))
    val both = pairs.select(
      VectorFunctions.cosine(col("va"), col("vb")).as("c1"),
      VectorFunctions.cosineHof(col("va"), col("vb")).as("c2"),
      col("va"), col("vb")).collect()
    both.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
      val a = r.getSeq[Float](2).toArray
      val b = r.getSeq[Float](3).toArray
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = a.map(x => x.toDouble * x.toDouble).sum
      val nb = b.map(x => x.toDouble * x.toDouble).sum
      val manual = dot / math.sqrt(na * nb)
      assert(math.abs(r.getDouble(0) - manual) < 1e-9)
    }
  }

  test("cosine of a vector with itself is 1") {
    VectorFunctions.register(spark)
    val got = emb.limit(20)
      .select(VectorFunctions.cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(_.getDouble(0))
    got.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
  }

  test("exact dedup finds planted duplicates and keeps min id") {
    import spark.implicits._
    val df = Seq((1L, "aa bb"), (2L, "cc dd"), (5L, "aa bb"), (9L, "aa bb"))
      .toDF("doc_id", "text")
    val groups = Dedup.exactGroups(df).collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_copies")).toMap
    assert(groups == Map(1L -> 3L, 2L -> 1L))
    val kept = Dedup.dedupKeepFirst(df).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
  }

  test("LSH candidates cover every pair the exact jaccard finds (recall)") {
    val exact = Dedup.jaccardPairs(docs, n = 3, threshold = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty) // planted near-dups in the synthetic corpus
    val lsh = Dedup.minhashNearDups(docs, n = 3, threshold = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }

  test("simhash: identical text → distance 0; near-dup pairs are close") {
    import spark.implicits._
    val df = Seq("the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy dog").toDF("text")
    val sh = df.select(Dedup.simhash(col("text")).as("s")).collect().map(_.getLong(0))
    assert(sh(0) == sh(1))
    // planted near-dups in the corpus: simhash distance well under random (~32)
    val nd = Dedup.simhashNearDups(docs, maxDist = 10)
    assert(nd.count() > 0)
    assert(nd.agg(max("dist")).collect()(0).getInt(0) <= 10)
  }

  test("ANN LSH top-k has high recall@5 against brute force") {
    VectorFunctions.register(spark)
    val queries = emb.filter(col("vec_id") < 20)
    val bf = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // corpus neighbors are weakly similar (max cos ~0.5), so use few bits
    // and many tables, plus distance-2 multiprobe on the query side:
    // per-table P(bucket match) = P(sig dist <= 2), miss ~4e-10 over 16
    // tables even at cos~0 — rank-exact here, which the shared v1/v2
    // oracle depends on
    val ann = Similarity.lshTopK(emb, queries, k = 5, nBits = 4, nTables = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann == bf, s"recall@5 = ${(bf intersect ann).size.toDouble / bf.size}")
  }

  test("redactPii replaces emails, urls, and number runs with typed tokens") {
    import spark.implicits._
    val out = Seq(
      "mail me at jane.doe+x@corp.example.org today",
      "call +1 (555) 123-4567 or 555 867 5309 now",
      "see https://example.com/a?b=1 and http://x.io",
      "clean text stays clean 42"
    ).toDF("text").select(TextAnalysis.redactPii(col("text")).as("r"))
      .as[String].collect().toSeq
    assert(out(0) == "mail me at <EMAIL> today")
    assert(out(1) == "call +<NUMBER> or <NUMBER> now")
    assert(out(2) == "see <URL> and <URL>")
    assert(out(3) == "clean text stays clean 42") // short digits untouched
  }

  test("connectedComponents: multi-hop chains collapse to min-id clusters") {
    import spark.implicits._
    // 1-2-3-4-5 is a 4-hop chain (forces several propagation rounds);
    // 10-11 a separate pair; edge direction deliberately mixed
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (11L, 10L))
      .toDF("a_id", "b_id")
    val cc = graft.ext.Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("x29: incremental CC merges, extends, and leaves untouched components alone") {
    import spark.implicits._
    // standing graph: {1,2,3} lbl 1, {10,11} lbl 10, {20,21} lbl 20
    val standingPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
      .toDF("a_id", "b_id")
    val labels = graft.ext.Dedup.connectedComponents(standingPairs)
    // delta: merges {1..3} with {10,11}; attaches fresh 40 to {10,11};
    // a brand-new pair (30,31); a redundant intra-component edge
    // (20,21) that must change nothing; a duplicate-direction edge
    val delta = Seq((3L, 10L), (40L, 11L), (30L, 31L), (21L, 20L), (10L, 3L))
      .toDF("a_id", "b_id")
    val inc = graft.ext.Dedup.connectedComponentsIncremental(labels, delta)
      .as[(Long, Long)].collect().toMap
    val full = graft.ext.Dedup.connectedComponents(
        standingPairs.unionByName(delta))
      .as[(Long, Long)].collect().toMap
    assert(inc == full)
    assert(inc(40L) == 1L && inc(10L) == 1L)   // merged + extended
    assert(inc(30L) == 30L && inc(31L) == 30L) // fresh component
    assert(inc(20L) == 20L && inc(21L) == 20L) // untouched survives
  }

  test("x29: empty delta is the identity; patch-apply join broadcasts") {
    import spark.implicits._
    val standingPairs = Seq((1L, 2L), (10L, 11L)).toDF("a_id", "b_id")
    val labels = graft.ext.Dedup.connectedComponents(standingPairs)
    val none = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val out = graft.ext.Dedup.connectedComponentsIncremental(labels, none)
    assert(out.as[(Long, Long)].collect().toMap ==
      labels.as[(Long, Long)].collect().toMap)
    // the standing labels must be patched through a broadcast hash
    // join (delta-sized build side), never a shuffle of the labels.
    // auto-broadcast is DISABLED for this probe: at fixture sizes AQE
    // would broadcast-convert any join and the assertion would pass
    // vacuously — with the threshold off, a BroadcastHashJoin in the
    // plan can only come from the operator's explicit gated broadcast()
    // hint on the delta-derived side.
    val delta = Seq((2L, 10L)).toDF("a_id", "b_id")
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val patched = graft.ext.Dedup.connectedComponentsIncremental(labels, delta)
      assert(patched.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      assert(patched.as[(Long, Long)].collect().toMap ==
        Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L))
    } finally spark.conf.set(thresholdKey, saved)
  }

  test("BuildOnce: concurrent first calls run the builder exactly once; failures retry") {
    val store = new graft.ext.BuildOnce[String, Int]
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val startGate = new java.util.concurrent.CountDownLatch(1)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val callers = (1 to 8).map(_ => Future {
      startGate.await()
      store("k") { builds.incrementAndGet(); Thread.sleep(50); 42 }
    })
    startGate.countDown()
    val got = Await.result(Future.sequence(callers), 30.seconds)
    // the race the class exists for: every caller sees the one value,
    // and the side-effectful builder ran exactly once (losers BLOCK on
    // the winner's build instead of duplicating it)
    assert(got.forall(_ == 42) && builds.get() == 1)
    // a throwing builder does not poison the key: the failed cell is
    // evicted, so the NEXT call installs and runs ITS OWN builder (not
    // the first caller's captured closure)
    val flaky = new graft.ext.BuildOnce[String, Int]
    var firstRan = 0
    intercept[RuntimeException](flaky("f") {
      firstRan += 1; sys.error("transient")
    })
    var secondRan = 0
    assert(flaky("f") { secondRan += 1; 7 } == 7)
    assert(firstRan == 1 && secondRan == 1,
      s"retry must run the retrying caller's builder, got $firstRan/$secondRan")
    // a WAITER already blocked on a failing winner must not re-run the
    // winner's captured closure (the lazy-val retry hole: a failed
    // lazy val stays uninitialized, so the blocked thread would become
    // the initializer of the DEAD cell and race a fresh cell's build);
    // it observes the memoized failure and retries with ITS OWN builder
    val racy = new graft.ext.BuildOnce[String, Int]
    val winnerRuns = new java.util.concurrent.atomic.AtomicInteger(0)
    val waiterRuns = new java.util.concurrent.atomic.AtomicInteger(0)
    val winnerIn = new java.util.concurrent.CountDownLatch(1)
    val winner = Future {
      intercept[RuntimeException](racy("r") {
        winnerRuns.incrementAndGet(); winnerIn.countDown()
        Thread.sleep(200); sys.error("winner fails")
      })
    }
    winnerIn.await()
    val waiter = Future { racy("r") { waiterRuns.incrementAndGet(); 9 } }
    assert(Await.result(waiter, 30.seconds) == 9)
    Await.result(winner, 30.seconds)
    assert(winnerRuns.get() == 1 && waiterRuns.get() == 1,
      s"waiter must run its own builder once, never the winner's " +
        s"closure again: ${winnerRuns.get()}/${waiterRuns.get()}")
  }

  test("ckptLocal requests 2-replica blocks (cluster property; placement untestable on local)") {
    import spark.implicits._
    // The MEMORY_AND_DISK_2 level is what survives a single executor
    // loss between materialization and consumption of a non-recomputable
    // localCheckpoint. Under local[*] there is only ONE executor, so the
    // second replica can never PLACE — the property this buys is
    // cluster-only (see BENCH_SCALE.md's scale notes) — but the level
    // being REQUESTED on the checkpointed RDD is assertable anywhere,
    // and is the part the code controls.
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val ck = graft.ext.Checkpoints.ckptLocal(df)
    val rdd = ck.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      case other => fail(s"expected a checkpointed LogicalRDD, got $other")
    }
    assert(rdd.getStorageLevel ==
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_2,
      s"ckptLocal must request MEMORY_AND_DISK_2, got ${rdd.getStorageLevel}")
    assert(ck.collect().length == 2) // and the frame still reads back
  }

  test("connectedComponents: empty edge set returns empty labels, no iteration blow-up") {
    import spark.implicits._
    // a fully-unique corpus produces zero near-dup pairs — the checksum
    // probe must converge immediately (null sum == null sum), not spin
    // to the maxIters failure
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    assert(graft.ext.Dedup.connectedComponents(empty).count() == 0)
  }

  test("x11 clean-corpus anti-join converts to broadcast under AQE") {
    val df = graft.analytics.ExtPipelines.cleanCorpus(spark, sf())
    df.write.format("noop").mode("overwrite").save()
    // after execution AQE has finalized the plan: the contaminated-id
    // build side is tiny, so the decontamination anti-join must run as
    // a broadcast join, not the statically-planned sort-merge
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected AQE broadcast anti-join, got:\n$plan")
  }

  test("native sign-bit signature is bit-identical to the HOF formulation") {
    VectorFunctions.register(spark)
    val planes = Similarity.hyperplanes(dim = 64, nBits = 8, seed = 7L)
    val both = emb.limit(200).select(
      VectorFunctions.signBits(col("embedding"), planes).as("n"),
      Similarity.signatureHof(col("embedding"), planes).as("h"))
      .collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("int8-quantized top-k with exact re-rank is rank-identical to brute force") {
    VectorFunctions.register(spark)
    val queries = emb.filter(col("vec_id") < 20)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = rows(Similarity.bruteForceTopK(emb, queries, k = 5))
    val quant = rows(Similarity.quantizedTopK(emb, queries, k = 5))
    assert(quant == exact, "quantized+re-ranked top-k must equal full precision")
    // the storage claim: quantized vectors really are 1 byte/dim
    val qz = Similarity.quantize(emb)
    assert(qz.schema("qvec").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = false))
    // dequantization error is bounded by half a quantization step
    val err = qz.join(emb, "vec_id")
      .select(max(aggregate(
        zip_with(col("qvec"), col("embedding"),
          (q, x) => abs(q.cast("double") * col("qscale") - x.cast("double"))),
        lit(0.0), (m, e) => greatest(m, e))
        - col("qscale").cast("double") * 0.5).as("worst"))
      .collect()(0).getDouble(0)
    assert(err <= 1e-6, s"per-element error above qscale/2: $err")
  }

  test("repetitionSignals per-row scan equals an independent explode+group computation") {
    import spark.implicits._
    val got = TextAnalysis.repetitionSignals(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // independent formulation: explode words/bigrams, count per doc
    val toks = split(col("text"), " ")
    val words = docs.select(col("doc_id"), explode(toks).as("w"))
      .groupBy("doc_id", "w").count()
      .groupBy("doc_id").agg(max("count").as("top"), sum("count").as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(1)))).toMap
    val bigrams = docs.filter(size(toks) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1)))).as("b"))
      .groupBy("doc_id", "b").count()
      .groupBy("doc_id").agg(max("count").as("top"), sum("count").as("n"),
        sum(when(col("count") >= 2, col("count")).otherwise(0L)).as("dup"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(1), r.getLong(3)))).toMap
    got.foreach { case (id, (nw, topw, nb, topb, dupb)) =>
      val (wN, wTop) = words(id)
      assert((nw, topw) == ((wN, wTop)), s"word stats diverge for doc $id")
      val (bN, bTop, bDup) = bigrams.getOrElse(id, (0L, 0L, 0L))
      assert((nb, topb, dupb) == ((bN, bTop, bDup)), s"bigram stats diverge for doc $id")
    }
    // third formulation: the pure-HOF sorted-scan agrees with the native
    // expression the pipeline actually uses
    val hof = docs.select(col("doc_id"),
        TextAnalysis.repeatStatsHof(split(col("text"), " ")).as("s"))
      .select(col("doc_id"), col("s.top"), col("s.dup")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (id, (_, topw, _, _, _)) =>
      assert(hof(id) == topw, s"HOF vs native diverge for doc $id")
    }
  }

  test("repetitionSignals plan has no shuffle — pure per-row scan") {
    val p = TextAnalysis.repetitionSignals(docs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"expected shuffle-free plan:\n$p")
  }

  test("mix emits floor(w) copies plus a deterministic fractional extra") {
    import spark.implicits._
    val base = docs.select(col("doc_id"), col("source"))
    val mixed = graft.ext.DataSplit.mix(base, "doc_id",
      Map("src0" -> 2.0, "src1" -> 1.5, "src2" -> 0.25), defaultWeight = 0.75)
    val bySrc = mixed.groupBy("source").count().as[(String, Long)].collect().toMap
    val nSrc = base.groupBy("source").count().as[(String, Long)].collect().toMap
    // src0 ×2.0 exactly — no fractional part, so the count is exact
    assert(bySrc("src0") == 2 * nSrc("src0"))
    // fractional sources land between floor and ceil of w * n
    assert(bySrc("src1") >= nSrc("src1") && bySrc("src1") <= 2 * nSrc("src1"))
    assert(bySrc.getOrElse("src2", 0L) <= nSrc("src2"))
    // copy_idx is a dense 0-based range per row
    val maxIdx = mixed.groupBy("doc_id").agg(
      max("copy_idx").as("m"), count(lit(1)).as("c"))
      .filter(col("m") =!= col("c") - 1).count()
    assert(maxIdx == 0, "copy_idx must be dense 0..copies-1")
    // deterministic: a second evaluation is identical
    val again = graft.ext.DataSplit.mix(base, "doc_id",
      Map("src0" -> 2.0, "src1" -> 1.5, "src2" -> 0.25), defaultWeight = 0.75)
    assert(mixed.exceptAll(again).isEmpty && again.exceptAll(mixed).isEmpty)
  }

  test("tokenOffsets two-level prefix sum equals the naive global window") {
    import org.apache.spark.sql.expressions.Window
    val withTok = docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("n_tokens"))
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    val naive = withTok
      .withColumn("tok_offset", coalesce(sum(col("n_tokens").cast("long")).over(w), lit(0L)))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("tok_offset"),
        expr("tok_offset DIV 100").as("seq_id"),
        (expr("(tok_offset + n_tokens - 1) DIV 100")
          - expr("tok_offset DIV 100") + 1).as("n_seqs"))
    // two bucket sizes: 4 exercises many superbuckets (sbkt = bkt DIV 4),
    // 16 exercises fewer, larger ones — both must be bit-identical to
    // the single-partition global window
    for (bs <- Seq(4L, 16L)) {
      val got = graft.ext.Packing.tokenOffsets(withTok, seqLen = 100,
        bucketSize = bs)
      assert(got.exceptAll(naive).isEmpty && naive.exceptAll(got).isEmpty,
        s"bucketSize=$bs diverges from the global window")
    }
  }

  test("tokenOffsets fails loudly on null ids or token counts") {
    import spark.implicits._
    val bad = Seq((Some(1L), Some(10L)), (Some(2L), None))
      .toDF("doc_id", "n_tokens")
    val err = intercept[Exception] {
      graft.ext.Packing.tokenOffsets(bad, seqLen = 100, bucketSize = 4).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq() else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(err).exists(_.contains("Packing.tokenOffsets")),
      s"expected a loud null failure, got: ${messages(err).mkString(" | ")}")
    // NEGATIVE counts are poison too (they'd silently shift every
    // later offset) — same loud failure
    val neg = Seq((1L, 10L), (2L, -5L)).toDF("doc_id", "n_tokens")
    val err2 = intercept[Exception] {
      graft.ext.Packing.tokenOffsets(neg, seqLen = 100, bucketSize = 4).collect()
    }
    assert(messages(err2).exists(_.contains("negative")),
      s"expected a loud negative failure, got: ${messages(err2).mkString(" | ")}")
    // a ZERO-token doc spans zero sequences regardless of where it
    // sits (the boundary case used to report 0, mid-sequence 1)
    val zero = Seq((1L, 100L), (2L, 0L), (3L, 7L), (4L, 0L))
      .toDF("doc_id", "n_tokens")
    val z = graft.ext.Packing.tokenOffsets(zero, seqLen = 100, bucketSize = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(z(2L) == 0L && z(4L) == 0L,
      s"zero-token docs must span zero sequences: $z")
    // sequenceManifest's seqLen must MATCH the offsets' — a mismatch
    // fails loudly instead of emitting mis-tiled rows
    val offs = graft.ext.Packing.tokenOffsets(
      Seq((1L, 150L), (2L, 80L)).toDF("doc_id", "n_tokens"),
      seqLen = 100, bucketSize = 4)
    val err3 = intercept[Exception] {
      graft.ext.Packing.sequenceManifest(offs, seqLen = 64).collect()
    }
    assert(messages(err3).exists(_.contains("does not")),
      s"expected a loud seqLen mismatch, got: ${messages(err3).mkString(" | ")}")
    // the sneaky mismatch shape: every offset sits below the LARGER
    // serve-time seqLen, so the first-tile check (seq_id = tok_offset
    // DIV seqLen) passes on every row — only the last-tile check can
    // see that doc 2 (offset 900, 300 tokens, stored n_seqs = 2 under
    // seqLen = 1024) cannot span two sequences under seqLen = 2048
    val offsSneaky = graft.ext.Packing.tokenOffsets(
      Seq((1L, 900L), (2L, 300L)).toDF("doc_id", "n_tokens"),
      seqLen = 1024, bucketSize = 4)
    val err4 = intercept[Exception] {
      graft.ext.Packing.sequenceManifest(offsSneaky, seqLen = 2048).collect()
    }
    assert(messages(err4).exists(_.contains("does not")),
      s"expected a loud seqLen mismatch, got: ${messages(err4).mkString(" | ")}")
  }

  test("sequenceManifest tiles every sequence exactly with no gaps or overlaps") {
    val withTok = docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("n_tokens"))
    val offsets = graft.ext.Packing.tokenOffsets(withTok, seqLen = 100, bucketSize = 64)
    val man = graft.ext.Packing.sequenceManifest(offsets, seqLen = 100)
    // every sequence except the final partial one holds exactly seqLen
    // tokens; within a sequence the slices start where the previous ended
    val bySeq = man.groupBy("seq_id").agg(
      sum("n_tok").as("tot"), min("seq_start").as("first"),
      max(col("seq_start") + col("n_tok")).as("end"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val lastSeq = bySeq.map(_._1).max
    bySeq.foreach { case (s, tot, first, end) =>
      assert(first == 0L, s"seq $s does not start at 0")
      assert(end == tot, s"seq $s has gaps or overlaps")
      if (s != lastSeq) assert(tot == 100L, s"seq $s holds $tot tokens, not 100")
    }
    // total tokens conserved: manifest slices sum to the corpus total
    val corpusTokens = withTok.agg(sum(col("n_tokens").cast("long")))
      .collect()(0).getLong(0)
    assert(bySeq.map(_._2).sum == corpusTokens)
  }

  test("dedupSegments drops cross-doc boilerplate, keeps rare segments in order") {
    import spark.implicits._
    // segment size 2: "b1 b2" is boilerplate (3 docs); each doc's other
    // segments are unique and must survive in original order
    val corpus = Seq(
      (1L, "b1 b2 u1 u2 u3 u4"),
      (2L, "b1 b2 v1 v2"),
      (3L, "b1 b2"),
      (4L, "w1 w2 w3")).toDF("doc_id", "text")
    val out = Dedup.dedupSegments(corpus, segWords = 2, maxDf = 2)
      .as[(Long, String)].collect().toMap
    assert(out == Map(
      1L -> "u1 u2 u3 u4",
      2L -> "v1 v2",
      3L -> "",            // all segments boilerplate — kept as empty, not dropped
      4L -> "w1 w2 w3"))   // trailing partial segment "w3" survives
  }

  test("t33: Misra-Gries summary is exact under k, bounded over k, at any partitioning") {
    import spark.implicits._
    val mg8 = udaf(new graft.functions.FreqItemsAggregator(8))
    // ≤ k distinct tokens → the summary IS the exact count map
    val small = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val exactM = small.toDF("tok").agg(mg8(col("tok"))).head.getMap[String, Long](0)
    assert(exactM.toMap == Map("a" -> 5L, "b" -> 3L, "c" -> 1L))
    // hot token + 400 unique junk, k=8: N=500, undercount ≤ N/9 ≈ 55.6
    // < 100 = true count, so "hot" is GUARANTEED found with a bounded
    // estimate under any partitioning (compactions differ; the
    // guarantee cannot). 50 hots would sit exactly AT the bound and
    // can legally drop to est=0 — the margin must dominate, as the
    // t33 query's 100-vs-513 thresholds do.
    val stream = Seq.fill(100)("hot") ++ (1 to 400).map("junk" + _)
    for (parts <- Seq(1, 7)) {
      val m = stream.toDF("tok").repartition(parts)
        .agg(mg8(col("tok"))).head.getMap[String, Long](0).toMap
      val est = m.getOrElse("hot", 0L)
      assert(est > 0 && est <= 100, s"parts=$parts est=$est")
      assert((100 - est) * 9 <= 500, s"parts=$parts undercount too large: $est")
    }
    // the registered query: every heavy token found, every bound held
    val rows = graft.analytics.ExtPipelines.heavyHitters(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(2) && r.getBoolean(3), r.toString)
    }
  }

  test("t35: q-digest is exact when nothing folds, rank-bounded at any partitioning") {
    import spark.implicits._
    import graft.functions.{QDigest, QDigestAggregator}
    val m = 10
    val k = 128
    val qd = udaf(new QDigestAggregator(k, m))
    // node↔range geometry: root covers the whole universe, leaves pin
    // their own value
    assert(QDigest.range(1L, m) == (0L, 1023L))
    assert(QDigest.range(1024L, m) == (0L, 0L))
    assert(QDigest.range(2047L, m) == (1023L, 1023L))
    assert(QDigest.range(512L + 3L, m) == (6L, 7L)) // depth 9, span 2
    // no-fold regime: every leaf holds count 2 > τ = 1, so the digest
    // IS the histogram and the walk answers the exact rank quantile
    val dup = (1L to 40L).flatMap(v => Seq(v, v))
    val dg = dup.toDF("v").agg(qd(col("v"))).head.getMap[Long, Long](0).toMap
    assert(dg == (1L to 40L).map(v => (1024L + v) -> 2L).toMap)
    assert(QDigest.quantile(dg, m, 50L, 100L) == 20L) // cum hits 40 at v=20
    assert(QDigest.quantile(dg, m, 99L, 100L) == 40L)
    assert(QDigest.quantile(dg, m, 1L, 100L) == 1L)
    // skewed stream: the ε·n rank bound (ε = m/k) holds under any
    // partitioning/merge tree, and the finished digest stays ≤ 3k
    val stream = Seq.fill(600)(5L) ++ (0L until 1024L) ++
      Seq.fill(300)(900L) ++ (0L until 1024L by 2)
    val nTot = stream.size
    val sorted = stream.sorted.toArray
    for (parts <- Seq(1, 7, 32)) {
      val dgp = stream.toDF("v").repartition(parts)
        .agg(qd(col("v"))).head.getMap[Long, Long](0).toMap
      assert(dgp.size <= 3 * k, s"parts=$parts size=${dgp.size}")
      assert(dgp.valuesIterator.sum == nTot)
      for (phi <- Seq(10, 50, 90, 99)) {
        val est = QDigest.quantile(dgp, m, phi.toLong, 100L)
        val target = (nTot.toLong * phi + 99) / 100
        val rankIncl = sorted.count(_ <= est).toLong
        val rankExcl = sorted.count(_ < est).toLong
        assert(rankIncl * k >= target * k - m.toLong * nTot &&
          rankExcl * k <= target * k + m.toLong * nTot,
          s"parts=$parts phi=$phi est=$est incl=$rankIncl excl=$rankExcl " +
            s"target=$target")
      }
    }
    // the registered query: sources × 4 φs, every contract row green
    val rows = graft.analytics.ExtPipelines.quantileSketch(spark, sf())
      .collect()
    assert(rows.length == 20 * 4)
    rows.foreach(r => assert(r.getBoolean(4), r.toString))
  }

  test("s20: the streamed q-digest satisfies the same order-independent contract") {
    // the digest CONTENTS may differ from the batch run's (micro-batch
    // merge tree), but every emitted fact must not — that is the
    // mergeable-summaries contract the streaming monitor rides on
    val rows = graft.analytics.ExtPipelines.streamQuantileSketch(spark, sf())
      .collect()
    assert(rows.length == 20 * 4)
    rows.foreach(r => assert(r.getBoolean(4), r.toString))
  }

  test("t36: day→week digest rollup keeps the bound through the persisted-merge path") {
    val rows = graft.analytics.ExtPipelines.quantileRollup(spark, sf())
      .collect()
    assert(rows.nonEmpty && rows.length % 4 == 0)
    rows.foreach(r => assert(r.getBoolean(4), r.toString))
    // the merge aggregator alone: merging two finished digests
    // conserves mass and keeps the compressed size bound
    import graft.functions.{QDigest, QDigestAggregator, QDigestMergeAggregator}
    val b = new QDigestAggregator(128, 10)
    val mg = new QDigestMergeAggregator(128, 10)
    val d1 = b.finish((0L until 500L).foldLeft(b.zero)((acc, v) => b.reduce(acc, v % 1024)))
    val d2 = b.finish((0L until 700L).foldLeft(b.zero)((acc, v) => b.reduce(acc, (v * 7) % 1024)))
    val merged = mg.finish(mg.reduce(mg.reduce(mg.zero, d1), d2))
    assert(merged.valuesIterator.sum == 1200L)
    assert(merged.size <= 3 * 128)
    // the merged digest must answer within the ε·n rank bound of the
    // UNION stream — the actual mergeability claim, checked against a
    // driver-side recompute of the deterministic union
    val union = ((0L until 500L).map(_ % 1024) ++
      (0L until 700L).map(v => (v * 7) % 1024)).sorted.toArray
    for (phi <- Seq(10, 50, 90, 99)) {
      val est = QDigest.quantile(merged, 10, phi.toLong, 100L)
      val target = (1200L * phi + 99) / 100
      val rankIncl = union.count(_ <= est).toLong
      val rankExcl = union.count(_ < est).toLong
      assert(rankIncl * 128 >= target * 128 - 10L * 1200 &&
        rankExcl * 128 <= target * 128 + 10L * 1200,
        s"phi=$phi est=$est incl=$rankIncl excl=$rankExcl target=$target")
    }
  }

  test("s21: the streamed Misra-Gries summary satisfies the same order-independent contract") {
    val rows = graft.analytics.ExtPipelines.streamHeavyHitters(spark, sf())
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getBoolean(2) && r.getBoolean(3), r.toString))
  }

  test("x31: describe tracks the index lifecycle and sees a live lease; never takes one") {
    import spark.implicits._
    import graft.ext.IndexLayout
    val corpus = (1L to 30L).map(i => (i, s"alpha beta gamma delta token$i text body"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_x31_spec")
    val p = s"$tmp/idx"
    try {
      Dedup.saveMinhashIndex(corpus, p)
      val (m0, f0, t0, h0, r0) = IndexLayout.describeIndex(spark, p)
      assert(m0("format") == Dedup.MinhashIndexFormat && m0("gen") == "0")
      assert(f0.map(_.name).toSet ==
        Set("bands", "shingles", "sizes", "tombstones"))
      assert(f0.forall(_.nEntries == 1) && t0 == 0L && !h0 && r0 == 0)
      // a delete shows up as backlog, not as a generation change; a
      // second OVERLAPPING delete call must not double-count — the
      // dashboard reports distinct doomed ids, the autopilots' basis
      Dedup.deleteFromMinhashIndex(Seq(3L, 7L).toDF("doc_id"), p)
      Dedup.deleteFromMinhashIndex(Seq(7L).toDF("doc_id"), p)
      val (_, _, t1, h1, _) = IndexLayout.describeIndex(spark, p)
      assert(t1 == 2L && !h1) // distinct ids; delete's lease released
      // compaction: backlog resolved, generation flipped, retired dirs
      // tracked for their grace interval
      Dedup.compactMinhashTombstones(spark, p)
      val (m2, _, t2, _, r2) = IndexLayout.describeIndex(spark, p)
      assert(m2("gen") == "1" && t2 == 0L && r2 > 0)
      // describe is lock-free but SEES a live writer's lease
      IndexLayout.withMaintenanceLease(spark, p) { _ =>
        val (_, _, _, held, _) = IndexLayout.describeIndex(spark, p)
        assert(held)
      }
      val (_, _, _, hEnd, _) = IndexLayout.describeIndex(spark, p)
      assert(!hEnd)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    // the registered two-leg report: every fact as the oracle states it
    val rows = graft.analytics.ExtPipelines.indexDescribe(spark, sf())
      .collect().map(r => r.getString(0) -> r).toMap
    val mh = rows("minhash"); val ivf = rows("ivf")
    assert(mh.getString(1) == "graft-minhash-index" && mh.getLong(4) == 4L)
    assert(ivf.getString(1) == "graft-ivf-index" && ivf.getLong(4) == 3L)
    assert(mh.getLong(6) > 0 && ivf.getLong(6) > 0) // backlogs counted
    assert(mh.getBoolean(7) && ivf.getBoolean(7))   // leases free
  }

  test("x32: autopilot — idle no-op, backlog compacts, outgrown rebuckets and subsumes the compact") {
    import spark.implicits._
    import graft.ext.IndexLayout
    val corpus = (1L to 40L).map(i => (i, s"alpha beta gamma delta tok$i body text"))
      .toDF("doc_id", "text")
    val dels = (1L to 8L).toDF("doc_id") // 8/32 live = 25% backlog
    val tmp = java.nio.file.Files.createTempDirectory("graft_x32_spec")
    try {
      // idle: exact sizing-rule count (ceil(40/10) = 4), nothing deleted
      val p0 = s"$tmp/idle"
      Dedup.saveMinhashIndex(corpus, p0, idBuckets = 4)
      assert(Dedup.maintainMinhashIndex(spark, p0,
        maxTombstonePct = 10, targetDocsPerBucket = 10L) == ((false, false)))
      val (m0, _, t0, _, _) = IndexLayout.describeIndex(spark, p0)
      assert(m0("gen") == "0" && m0("buckets") == "4" && t0 == 0L)
      // backlog: same count, 25% deleted → compact fires, count stands
      val p1 = s"$tmp/backlog"
      Dedup.saveMinhashIndex(corpus, p1, idBuckets = 4)
      Dedup.deleteFromMinhashIndex(dels, p1)
      assert(Dedup.maintainMinhashIndex(spark, p1,
        maxTombstonePct = 10, targetDocsPerBucket = 10L) == ((true, false)))
      val (m1, _, t1, _, _) = IndexLayout.describeIndex(spark, p1)
      assert(m1("gen") == "1" && m1("buckets") == "4" && t1 == 0L)
      // outgrown: stored 1 vs desired ceil(32/10) = 4 ≥ 2×1 → rebucket
      // at 4; its rewrite resolves the tombstones, so no compact
      val p2 = s"$tmp/outgrown"
      Dedup.saveMinhashIndex(corpus, p2, idBuckets = 1)
      Dedup.deleteFromMinhashIndex(dels, p2)
      assert(Dedup.maintainMinhashIndex(spark, p2,
        maxTombstonePct = 10, targetDocsPerBucket = 10L) == ((false, true)))
      val (m2, _, t2, _, _) = IndexLayout.describeIndex(spark, p2)
      assert(m2("gen") == "1" && m2("buckets") == "4" && t2 == 0L)
      // the deleted docs are really gone from the rebucketed frames
      assert(IndexLayout.readFrame(spark, p2,
        Dedup.minhashIndexParams(spark, p2), "sizes")
        .filter(col("doc_id") <= 8).count() == 0L)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    // the registered three-leg fixture, facts as the oracle states them
    val rows = graft.analytics.ExtPipelines.minhashIndexMaintain(spark, sf())
      .collect().map(r => r.getString(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(rows("idle") == ((false, false, 10L, 0L, 0L)))
    assert(rows("backlog")._1 && !rows("backlog")._2)
    assert(!rows("outgrown")._1 && rows("outgrown")._2)
    assert(rows("backlog")._5 == 0L && rows("outgrown")._5 == 0L)
  }

  test("v25: IVF autopilot — backlog boundary exact; compaction removes the doomed rows") {
    import spark.implicits._
    val basis = (0 until 4).map(d => Array.tabulate(4)(i => if (i == d) 1.0f else 0.0f))
    val corpus = (0 until 40).map(i => (i.toLong, basis(i % 4)))
      .toDF("vec_id", "embedding")
    val cents = (0 until 4).map(d => (d.toLong, basis(d).map(_.toDouble).toSeq))
      .toDF("list_id", "cvec")
    val tmp = java.nio.file.Files.createTempDirectory("graft_v25_spec")
    try {
      val p = s"$tmp/idx"
      Similarity.saveIvfIndexWithCentroids(corpus, cents, p)
      // 3 dead of 37 live = 8.1% — UNDER the 10% policy, no fire; the
      // deletes strike lists 0..2 once each, so the live occupancy
      // (9,9,9,10) vs the stored baseline (10,10,10,10) is exact-TV
      // 20270µ — far under the imbalance threshold too
      Similarity.deleteFromIvfIndex(Seq(0L, 1L, 2L).toDF("vec_id"), p)
      assert(Similarity.maintainIvfIndex(spark, p, maxTombstonePct = 10)
        == ((false, false)))
      // one more (4 of 36 = 11.1%) crosses the backlog policy: compact
      // fires (occupancy 9/9/9/9 vs baseline is TV = 0 — proportional
      // deletes never masquerade as imbalance), backlog resolved
      Similarity.deleteFromIvfIndex(Seq(3L).toDF("vec_id"), p)
      assert(Similarity.maintainIvfIndex(spark, p, maxTombstonePct = 10)
        == ((false, true)))
      val (m, _, t, _, _) = graft.ext.IndexLayout.describeIndex(spark, p)
      assert(m("gen") == "1" && t == 0L)
      assert(graft.ext.IndexLayout.readFrame(spark, p, m, "lists")
        .filter(col("vec_id") < 4).count() == 0L)
      // the idempotent-takedown scenario: the cumulative delete list is
      // re-submitted after the compaction already removed those rows —
      // the policy counts DEAD rows (tombstones striking the index),
      // not tombstone rows, so nothing re-fires against zero dead data
      Similarity.deleteFromIvfIndex((0L to 3L).toDF("vec_id"), p)
      assert(Similarity.maintainIvfIndex(spark, p, maxTombstonePct = 10)
        == ((false, false)))
      val (m2, _, _, _, _) = graft.ext.IndexLayout.describeIndex(spark, p)
      assert(m2("gen") == "1") // no second flip
      // IMBALANCE leg, exact TV: kill all of lists 2,3 and 8 of list 1
      // → live (9,1,0,0)/10 … vs baseline (9,9,9,9)/36 — wait: the
      // baseline was RESET by nothing (compaction keeps trainOcc), so
      // baseline is still (10,10,10,10): live (9,1,0,0) n=10 →
      // TV = ½(|9/10−¼| + |1/10−¼| + ¼ + ¼) = 13/20 = 650000µ > 500000
      // → RETRAIN fires and SUBSUMES the compact (one flip, tombstones
      // resolved, baseline reset to the live occupancy)
      Similarity.deleteFromIvfIndex(
        corpus.filter(col("vec_id") >= 4 &&
          pmod(col("vec_id"), lit(4)).isin(2, 3)).select("vec_id")
          .unionByName(Seq(9L, 13L, 17L, 21L, 25L, 29L, 33L, 37L)
            .toDF("vec_id")), p)
      assert(Similarity.maintainIvfIndex(spark, p, maxTombstonePct = 10)
        == ((true, false)))
      val (m3, _, t3, _, _) = graft.ext.IndexLayout.describeIndex(spark, p)
      assert(m3("gen") == "2" && t3 == 0L,
        s"retrain must flip once and resolve the tombstones (gen=${m3("gen")}, t=$t3)")
      val lives = graft.ext.IndexLayout.readFrame(spark, p, m3, "lists")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(lives == ((4L until 40L by 4).toSet ++ Set(5L)),
        s"retrain must preserve exactly the live rows: $lives")
      // the baseline reset: a re-run against the retrained index sees
      // TV = 0 exactly and no backlog — nothing fires
      assert(Similarity.maintainIvfIndex(spark, p, maxTombstonePct = 10)
        == ((false, false)))
      val (m4, _, _, _, _) = graft.ext.IndexLayout.describeIndex(spark, p)
      assert(m4("gen") == "2")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    // the registered three-leg fixture
    val rows = graft.analytics.ExtPipelines.ivfIndexMaintain(spark, sf())
      .collect().map(r => r.getString(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(rows("idle") == ((false, false, 0L, 0L, rows("idle")._5)))
    assert(rows("backlog")._1 == false && rows("backlog")._2 &&
      rows("backlog")._3 == 1L && rows("backlog")._4 == 0L)
    assert(rows("imbalanced")._1 && rows("imbalanced")._2 == false &&
      rows("imbalanced")._3 == 1L && rows("imbalanced")._4 == 0L)
    assert(rows("idle")._5 > rows("backlog")._5 &&
      rows("backlog")._5 > rows("imbalanced")._5)
  }

  test("x35/v27: composition-length fold trigger — batch roots past the bound fold in one flip, data and serves unchanged, other triggers cold") {
    import spark.implicits._
    import graft.ext.IndexLayout
    // MinHash family: append-only index, 5 committed batches
    val corpus = (1L to 40L).map(i =>
      (i, s"alpha beta gamma delta tok$i body text")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_fold_spec")
    try {
      val p = s"$tmp/mh"
      Dedup.saveMinhashIndex(corpus.filter(col("doc_id") <= 15), p,
        idBuckets = 4)
      (0 until 5).foreach(k => Dedup.appendToMinhashIndex(
        corpus.filter(col("doc_id") > 15 + 5 * k &&
          col("doc_id") <= 20 + 5 * k), p))
      val m0 = IndexLayout.requireManifest(spark, p, Dedup.MinhashIndexFormat)
      assert(IndexLayout.maxBatchRootCount(m0) == 5,
        s"five committed appends = five batch roots (${m0.filter(_._1.startsWith("frames."))})")
      val rows0 = IndexLayout.readFrame(spark, p, m0, "sizes")
        .collect().map(_.getLong(0)).toSet
      // bound not yet crossed: autopilot no-op (fanout 5 ≤ 5)
      assert(Dedup.maintainMinhashIndex(spark, p, maxTombstonePct = 10,
        targetDocsPerBucket = 10L, maxAppendBatches = 5) == ((false, false)))
      // bound crossed: the FOLD fires (reported as compacted), one flip
      assert(Dedup.maintainMinhashIndex(spark, p, maxTombstonePct = 10,
        targetDocsPerBucket = 10L, maxAppendBatches = 4) == ((true, false)))
      val m1 = IndexLayout.requireManifest(spark, p, Dedup.MinhashIndexFormat)
      assert(m1("gen") == "1" && IndexLayout.maxBatchRootCount(m1) == 0,
        s"fold must consolidate every batch root (gen=${m1("gen")})")
      // every frame's composition is back under partitions + 1
      Seq("bands", "shingles", "sizes").foreach { fr =>
        assert(IndexLayout.frameEntries(m1, fr).size <= 4 + 1,
          s"$fr: ${IndexLayout.frameEntries(m1, fr)}")
      }
      // the fold preserved every row (empty tombstone set = pure fold)
      assert(IndexLayout.readFrame(spark, p, m1, "sizes")
        .collect().map(_.getLong(0)).toSet == rows0)
      // idempotent: a re-run sees zero batch roots — nothing fires
      assert(Dedup.maintainMinhashIndex(spark, p, maxTombstonePct = 10,
        targetDocsPerBucket = 10L, maxAppendBatches = 4) == ((false, false)))

      // IVF family: same discipline on the vector index
      val basis = (0 until 4).map(d =>
        Array.tabulate(4)(i => if (i == d) 1.0f else 0.0f))
      val emb = (0 until 40).map(i => (i.toLong, basis(i % 4)))
        .toDF("vec_id", "embedding")
      val cents = (0 until 4).map(d =>
        (d.toLong, basis(d).map(_.toDouble).toSeq)).toDF("list_id", "cvec")
      val q = s"$tmp/ivf"
      Similarity.saveIvfIndexWithCentroids(emb.filter(col("vec_id") < 20),
        cents, q)
      (0 until 5).foreach(k => Similarity.appendToIvfIndex(spark, q,
        emb.filter(col("vec_id") >= 20 + 4 * k &&
          col("vec_id") < 24 + 4 * k)))
      val qm0 = IndexLayout.requireManifest(spark, q, Similarity.IvfIndexFormat)
      assert(IndexLayout.maxBatchRootCount(qm0) == 5)
      val queries = emb.filter(col("vec_id") < 3)
      val served0 = graft.ext.Checkpoints.ckptLocal(
        Similarity.ivfTopKFromIndex(spark, q, queries, k = 3, nProbe = 4))
      // retrain arithmetic-cold at threshold 1,000,000µ (TV ≤ 1 by
      // definition), backlog cold (nothing deleted) → only fanout fires
      assert(Similarity.maintainIvfIndex(spark, q, maxTombstonePct = 10,
        imbalanceTvThresholdMu = 1000000L, maxAppendBatches = 4)
        == ((false, true)))
      val qm1 = IndexLayout.requireManifest(spark, q, Similarity.IvfIndexFormat)
      assert(qm1("gen") == "1" && IndexLayout.maxBatchRootCount(qm1) == 0)
      val served1 = Similarity.ivfTopKFromIndex(spark, q, queries,
        k = 3, nProbe = 4)
      assert(served0.exceptAll(served1).isEmpty &&
        served1.exceptAll(served0).isEmpty,
        "the fold must not change any serve result")
      assert(Similarity.maintainIvfIndex(spark, q, maxTombstonePct = 10,
        imbalanceTvThresholdMu = 1000000L, maxAppendBatches = 4)
        == ((false, false)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    // the registered two-leg fixtures, facts as the oracles state them
    Seq(graft.analytics.ExtPipelines.minhashIndexFold(spark, sf()),
      graft.analytics.ExtPipelines.ivfIndexFold(spark, sf())).foreach { df =>
      val rows = df.collect().map(r => r.getString(0) -> r).toMap
      assert(!rows("under").getBoolean(1) && !rows("under").getBoolean(2))
      assert(rows("under").getLong(3) == 2L && rows("under").getLong(4) == 2L
        && rows("under").getLong(5) == 0L)
      assert(rows("over").getBoolean(1) && !rows("over").getBoolean(2))
      assert(rows("over").getLong(3) == 4L && rows("over").getLong(4) == 0L
        && rows("over").getLong(5) == 1L)
      assert(rows.values.forall(r =>
        r.getLong(6) == 0L && r.getBoolean(7)))
    }
    // the as-of audits (x33/v26) and the streamed IVF takedown (s19):
    // one row each, a positive probe count, every pin TRUE
    Seq(graft.analytics.ExtPipelines.minhashIndexAsOf(spark, sf()),
      graft.analytics.ExtPipelines.ivfIndexAsOf(spark, sf()),
      graft.analytics.ExtPipelines.streamIvfDelete(spark, sf())).foreach { df =>
      val Array(r) = df.collect()
      assert(r.getLong(0) > 0L, r.toString)
      val pins = df.schema.fields.zipWithIndex.collect {
        case (f, i) if f.dataType == org.apache.spark.sql.types.BooleanType =>
          f.name -> r.getBoolean(i)
      }
      assert(pins.nonEmpty && pins.forall(_._2), s"${df.columns.mkString(",")}: $r")
    }
  }

  test("g38 store: sketch-store lifecycle — save, manifest-committed day appends, range serve, fold; foreign kind refused") {
    import spark.implicits._
    import graft.ext.{IndexLayout, SketchStore}
    // deterministic daily rows: 6 days, tiny hand-made sketches
    val days = (1 to 6).map(d => f"2024-01-$d%02d")
    val daily = days.zipWithIndex.map { case (d, i) =>
      ("2024-01-01", d, Seq(i.toLong, 100L + i))
    }.toDF("week", "day", "sk")
    val tmp = java.nio.file.Files.createTempDirectory("graft_store_spec")
    try {
      val p = s"$tmp/store"
      SketchStore.save(daily.filter(col("day") <= days(3)), p, "test-kind")
      // two incremental day appends = two manifest-committed batches
      SketchStore.appendDays(daily.filter(col("day") === days(4)), p, "test-kind")
      SketchStore.appendDays(daily.filter(col("day") === days(5)), p, "test-kind")
      val m0 = IndexLayout.requireManifest(spark, p, SketchStore.SketchStoreFormat)
      assert(IndexLayout.seqOf(m0) == 2 && IndexLayout.maxBatchRootCount(m0) == 2)
      // readAll sees every committed day; the range serve prunes
      def allRows() = SketchStore.readAll(spark, p, "test-kind")
        .collect().map(r => r.getString(1) -> r.getSeq[Long](2).toList).toMap
      val before = allRows()
      assert(before.keySet == days.toSet && before(days(4)) == List(4L, 104L))
      assert(SketchStore.readRange(spark, p, "test-kind", days(1), days(3))
        .collect().map(_.getString(1)).toSet == days.slice(1, 4).toSet)
      // a serve pointed at the wrong sketch family fails loudly
      val e = intercept[IllegalStateException](
        SketchStore.readAll(spark, p, "hll-user-daily"))
      assert(e.getMessage.contains("test-kind"), e.getMessage)
      // the FOLD consolidates the two day batches; data unchanged
      SketchStore.fold(spark, p, "test-kind")
      val m1 = IndexLayout.requireManifest(spark, p, SketchStore.SketchStoreFormat)
      assert(m1("gen") == "1" && IndexLayout.maxBatchRootCount(m1) == 0)
      assert(IndexLayout.frameEntries(m1, "sketches").size <= days.size + 1)
      assert(allRows() == before, "the fold must preserve every stored row")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    // the registered g38 row's facts at the smallest SF: the stored
    // serve answers identically to the in-query build (bit-identity
    // pin) and every 10σ retention pin holds
    val g38 = graft.analytics.Pipelines.thetaStoreServe(spark, sf()).collect()
    assert(g38.nonEmpty)
    assert(g38.forall(_.getAs[Boolean]("store_matches_direct")))
    assert(g38.forall(_.getAs[Boolean]("returning_ok")))
    assert(g38.forall(_.getAs[Long]("n_days_stored") > 1L))
  }

  test("g39/t37: the HLL and q-digest rollups served from the persisted store — every contract pin holds at the smallest SF") {
    // g39: the store-served weekly estimate must EQUAL the in-query
    // union's (binary registers round-trip parquet bit-identically,
    // HLL union is a per-register max — order cannot move the double)
    val g39 = graft.analytics.Pipelines.hllStoreServe(spark, sf()).collect()
    assert(g39.nonEmpty)
    assert(g39.forall(_.getAs[Boolean]("hll_ok")))
    assert(g39.forall(_.getAs[Boolean]("merge_ok")))
    assert(g39.forall(_.getAs[Boolean]("store_matches_inquery")))
    assert(g39.forall(_.getAs[Long]("n_days_stored") > 1L))
    // t37: the ε·n bound holds under ANY merge tree — including the
    // store round trip plus the incremental day append
    val t37 = graft.analytics.ExtPipelines.quantileStoreServe(spark, sf())
      .collect()
    assert(t37.nonEmpty)
    assert(t37.forall(_.getAs[Boolean]("sketch_ok")))
    assert(t37.forall(_.getAs[Long]("n_days_stored") > 1L))
  }

  test("store retention + as-of: the horizon drop retires whole day partitions, survivors stay bit-identical, and pinned serves still see history") {
    import spark.implicits._
    import graft.ext.{IndexLayout, SketchStore}
    val days = (1 to 6).map(d => f"2024-02-$d%02d")
    val daily = days.zipWithIndex.map { case (d, i) =>
      ("2024-02-01", d, Seq(i.toLong, 200L + i))
    }.toDF("week", "day", "sk")
    val tmp = java.nio.file.Files.createTempDirectory("graft_store_retain")
    try {
      // keep retired dirs alive for the whole spec (as-of reads below
      // deliberately straddle the retention flip)
      spark.conf.set(IndexLayout.RetiredGraceConfKey,
        (60 * 60 * 1000L).toString)
      val p = s"$tmp/store"
      SketchStore.save(daily.filter(col("day") <= days(3)), p, "test-kind") // seq 0
      IndexLayout.setManifestKeep(spark, p, 10)                             // seq 1
      SketchStore.appendDays(daily.filter(col("day") === days(4)), p, "test-kind") // seq 2
      SketchStore.appendDays(daily.filter(col("day") === days(5)), p, "test-kind") // seq 3
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getString(1) -> r.getSeq[Long](2).toList).toMap
      val before = rows(SketchStore.readAll(spark, p, "test-kind"))
      assert(before.keySet == days.toSet)
      // AS-OF pinned before the day appends: only the bulk-built days
      val preAppend = rows(SketchStore.readRangeAt(spark, p, "test-kind",
        days.head, days.last, seq = 1))
      assert(preAppend.keySet == days.take(4).toSet)
      assert(preAppend == before.view.filterKeys(days.take(4).toSet).toMap)
      // RETENTION: horizon at days(2) — the two older days leave at a
      // compaction flip; the committed batch roots fold as a bonus
      SketchStore.retainFrom(spark, p, "test-kind", minDay = days(2))
      val m1 = IndexLayout.requireManifest(spark, p,
        SketchStore.SketchStoreFormat)
      assert(m1("gen") == "1" && IndexLayout.seqOf(m1) == 4)
      assert(IndexLayout.maxBatchRootCount(m1) == 0)
      val after = rows(SketchStore.readAll(spark, p, "test-kind"))
      assert(after.keySet == days.drop(2).toSet,
        "exactly the days before the horizon must be gone")
      assert(after == before.view.filterKeys(days.drop(2).toSet).toMap,
        "surviving days must round-trip bit-identically")
      // AS-OF pinned before the retention still serves the dropped
      // days: the retired directories live out the grace window
      val preDrop = rows(SketchStore.readRangeAt(spark, p, "test-kind",
        days.head, days.last, seq = 3))
      assert(preDrop == before)
      // a fold after retention preserves the post-horizon rows
      SketchStore.fold(spark, p, "test-kind")
      assert(rows(SketchStore.readAll(spark, p, "test-kind")) == after)
    } finally {
      spark.conf.unset(IndexLayout.RetiredGraceConfKey)
      org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    }
  }

  test("v24: occupancy drift gate — exact TV on a crafted grid; stable appends, collapsed retrains") {
    import spark.implicits._
    // 4 orthogonal lists, 10 standing vectors each (occupancy 10/10/10/10)
    val basis = (0 until 4).map(d => Array.tabulate(4)(i => if (i == d) 1.0f else 0.0f))
    val standing = (0 until 40).map(i => (i.toLong, basis(i % 4)))
      .toDF("vec_id", "embedding")
    val cents = (0 until 4).map(d => (d.toLong, basis(d).map(_.toDouble).toSeq))
      .toDF("list_id", "cvec")
    val tmp = java.nio.file.Files.createTempDirectory("graft_v24_spec")
    try {
      // stable: 2 per list → proportions equal → TV exactly 0, no retrain
      val p1 = s"$tmp/stable"
      Similarity.saveIvfIndexWithCentroids(standing, cents, p1)
      val stableBatch = (0 until 8).map(i => (100L + i, basis(i % 4)))
        .toDF("vec_id", "embedding")
      val (tv1, r1) = Similarity.driftGateIvfIndex(spark, p1, stableBatch,
        tvThresholdMu = 500000L, retrainNList = 3, nIters = 1)
      assert(tv1 == 0L && !r1)
      val m1 = Similarity.ivfIndexParams(spark, p1)
      assert(m1("nList").toLong == 4L)
      assert(graft.ext.IndexLayout.readFrame(spark, p1, m1, "lists")
        .count() == 48L) // appended even when not retraining
      // collapsed: all 8 into list 0 → TV = (240+80·3)/(2·40·8) = 0.75
      val p2 = s"$tmp/drifted"
      Similarity.saveIvfIndexWithCentroids(standing, cents, p2)
      val driftBatch = (0 until 8).map(i => (100L + i, basis(0)))
        .toDF("vec_id", "embedding")
      val (tv2, r2) = Similarity.driftGateIvfIndex(spark, p2, driftBatch,
        tvThresholdMu = 500000L, retrainNList = 3, nIters = 1)
      assert(tv2 == 750000L && r2)
      val m2 = Similarity.ivfIndexParams(spark, p2)
      // the fixture is DEGENERATE by design (4 distinct directions), so
      // Lloyd may drop an empty list — the verb's contract is that the
      // stored nList equals the SURVIVING centroid count (≤ requested);
      // the registered real-embeddings fixture pins the exact 12
      val nl2 = m2("nList").toLong
      assert(nl2 <= 3L && nl2 == graft.ext.IndexLayout
        .readFrame(spark, p2, m2, "centroids").count())
      assert(graft.ext.IndexLayout.readFrame(spark, p2, m2, "lists")
        .count() == 48L)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    // the registered two-leg fixture: decisions by construction
    val rows = graft.analytics.ExtPipelines.ivfIndexDriftGate(spark, sf())
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getBoolean(2), r.getLong(3)))).toMap
    assert(rows("stable") == ((500L, false, 8L)))
    assert(rows("drifted") == ((500L, true, 12L)))
  }

  test("v16: MMR demotes an exact duplicate below a diverse candidate; partitioning-invariant") {
    import spark.implicits._
    // query 0 ∥ nothing exactly; c1 and c2 are identical (sim=1), c3 is
    // relevant-but-diverse: 7·rel₃−3·sim₃₁ ≈ 3.97e6 beats c2's
    // 7·0.98−3·1 = 3.86e6, so greedy picks 3 before the duplicate 2 —
    // exactly the behavior plain top-k cannot produce
    val crafted = Seq(
      (0L, Array(1.0f, 0f, 0f, 0f)),
      (1L, Array(0.98f, 0.199f, 0f, 0f)),
      (2L, Array(0.98f, 0.199f, 0f, 0f)),
      (3L, Array(0.92f, -0.39f, 0f, 0f))).toDF("vec_id", "embedding")
    val picks = Similarity.mmrTopK(crafted, nQueries = 1, nCand = 3, k = 3)
      .orderBy("step").select("pick_id").as[Long].collect().toSeq
    assert(picks == Seq(1L, 3L, 2L))
    // real corpus: deterministic under any input partitioning
    val a = graft.analytics.ExtPipelines.mmrTopK(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Similarity.mmrTopK(emb.repartition(7), nQueries = 10, nCand = 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b && a.size == 50)
  }

  test("x27: containment catches a quoted subset that jaccard misses; cap is semantics-preserving") {
    import spark.implicits._
    val quoted = (1 to 12).map("a" + _).mkString(" ")   // 10 shingles at n=3
    val corpus = Seq(
      (1L, quoted),
      (2L, quoted + " " + (1 to 30).map("c" + _).mkString(" ")), // host: 40 shingles
      (3L, (1 to 12).map("z" + _).mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(corpus, n = 3, threshold = 0.6,
      minShingles = 10).as[(Long, Long, Double)].collect().toSet
    // 1 fully inside 2; the reverse direction (10/40) and doc 3 filtered
    assert(pairs == Set((1L, 2L, 1.0)))
    // symmetric jaccard at the x3 threshold misses it: 10/(10+40-10) = 0.25
    assert(Dedup.jaccardPairs(corpus, n = 3, threshold = 0.5).isEmpty)
    // the x3-style skew cap (far above any df here) changes nothing
    val uncapped = graft.analytics.ExtPipelines.containmentDups(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.containmentPairs(docs, n = 3, threshold = 0.6,
      minShingles = 10, maxShingleDf = Some(100))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == capped && uncapped.nonEmpty)
  }

  test("cluster split never separates a near-dup pair across train/test") {
    val split = graft.analytics.ExtPipelines.clusterSplit(spark, sf())
    val pairs = Dedup.jaccardPairs(docs, n = 3, threshold = 0.5,
      maxShingleDf = Some(100))
    val straddling = pairs
      .join(split.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("split", "sa"), "a_id")
      .join(split.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("split", "sb"), "b_id")
      .filter(col("sa") =!= col("sb")).count()
    assert(straddling == 0, s"$straddling near-dup pairs straddle the split")
    // and it still splits: both sides non-empty
    val sides = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sides.getOrElse("train", 0L) > 0 && sides.getOrElse("test", 0L) > 0)
  }

  test("dedupSpans excises shared spans at any alignment, merging overlaps") {
    import spark.implicits._
    // docs 1 and 2 share the 4-token run "d1 d2 d3 d4" at DIFFERENT
    // offsets (the fixed-grid segment dedup would miss this); with
    // window=3 the duplicated windows are (d1 d2 d3) and (d2 d3 d4),
    // whose coverage merges into the single span d1..d4. Doc 3 is clean.
    val corpus = Seq(
      (1L, "a1 a2 d1 d2 d3 d4 a3"),
      (2L, "d1 d2 d3 d4 b1 b2 b3"),
      (3L, "c1 c2 c3 c4 c5")).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(corpus, window = 3)
      .as[(Long, String)].collect().toMap
    assert(out == Map(
      1L -> "a1 a2 a3",
      2L -> "b1 b2 b3",
      3L -> "c1 c2 c3 c4 c5"))
  }

  test("contaminationPairs maxShingleDf drops boilerplate shingles before the join") {
    import spark.implicits._
    // `common` appears in 4 train docs (> cap 2) so it must not count
    // toward overlap: (E1, T1) share 5 shingles but one is boilerplate
    // → 4 after the cap → excluded at minShared=5. (E2, T2) share 5
    // rare shingles → kept. Unigram shingles (n=1) keep the sets exact.
    val train = Seq(
      (1L, "common r1 r2 r3 r4"),
      (2L, "common s1 s2 s3 s4 s5"),
      (3L, "common x1"),
      (4L, "common x2")).toDF("doc_id", "text")
    val test = Seq(
      (101L, "common r1 r2 r3 r4"),
      (102L, "s1 s2 s3 s4 s5")).toDF("doc_id", "text")
    val capped = Dedup.contaminationPairs(train, test, n = 1, minShared = 5,
      maxShingleDf = Some(2)).as[(Long, Long, Long)].collect().toSet
    assert(capped == Set((102L, 2L, 5L)))
    // control: without the cap the boilerplate shingle completes (E1, T1)
    val uncapped = Dedup.contaminationPairs(train, test, n = 1, minShared = 5,
      maxShingleDf = None).as[(Long, Long, Long)].collect().toSet
    assert(uncapped == Set((101L, 1L, 5L), (102L, 2L, 5L)))
  }

  test("connectedComponents uses reliable checkpoints when a dir is set") {
    import spark.implicits._
    // NOTE: SparkContext has no unset API, so the shared session keeps
    // this dir — later CC calls in this JVM also run in reliable mode,
    // which is the mode a real cluster would use anyway. The temp dir is
    // valid for the JVM's lifetime.
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (11L, 10L))
      .toDF("a_id", "b_id")
    val cc = graft.ext.Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
    // checkpoint files actually landed on (fault-tolerant) storage
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, "expected reliable checkpoint files under the dir")
    // superseded rounds' snapshots were deleted eagerly (cleanCheckpoints
    // is off by default and would never remove them) — only the edges
    // table and the final labels remain on disk
    val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isDirectory(p)
        && p.getFileName.toString.startsWith("rdd-")).count()
    assert(rddDirs == 2,
      s"expected exactly edges + final labels checkpoints, found $rddDirs")
  }

  test("IVF top-k is exact within its probed lists, with a recall floor") {
    VectorFunctions.register(spark)
    val queries = emb.filter(col("vec_id") < 20)
    val ivf = Similarity.ivfTopK(emb, queries, k = 5,
      nList = 16, nProbe = 8, nIters = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    // the defining IVF property: the result equals the EXACT top-k
    // restricted to the probed lists — recompute probes + restricted
    // brute force independently and demand equality
    val cent = Similarity.ivfCentroids(emb, nList = 16, nIters = 1)
    val assigned = Similarity.ivfAssign(emb, cent)
      .select(col("vec_id").as("neighbor_id"), col("list_id"))
    val probes = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(broadcast(cent))
      .select(col("query_id"), col("list_id"),
        VectorFunctions.cosineHof(col("qv"), col("cvec")).as("s"))
    import org.apache.spark.sql.expressions.Window
    val topProbes = probes
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("s").desc, col("list_id"))))
      .filter(col("rk") <= 8).select("query_id", "list_id")
    val allowed = topProbes.join(assigned, "list_id")
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val cv = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val scoredAll = cv.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.cosineHof(col("qv"), col("cv")).as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = scoredAll
      .filter(t => allowed.contains((t._1, t._2)))
      .groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
        rows.sortBy(t => (-t._3, t._2)).take(5).zipWithIndex
          .map { case (t, i) => (qid, t._2, i + 1) }
      }.toSet
    assert(ivf == expected, "IVF result must be the exact top-k over its probed lists")

    // recall floor vs unrestricted brute force: this corpus is near-
    // random (no cluster structure — IVF's worst case); real embedding
    // corpora cluster and recall approaches 1
    val bf = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect ivf.map(t => (t._1, t._2))).size.toDouble / bf.size
    assert(recall >= 0.6, s"recall@5 = $recall")
  }

  test("IVF assignment covers every vector exactly once") {
    val cent = Similarity.ivfCentroids(emb, nList = 16, nIters = 1)
    val assigned = Similarity.ivfAssign(emb, cent)
    assert(assigned.count() == emb.count())
    assert(assigned.select("list_id").distinct().count() >= 2) // quantizer actually splits
  }

  test("PQ top-k is the exact top-k within its ADC candidate set; recall floored") {
    val k = 5; val numSub = 8; val numCents = 256; val overFetch = 8
    val queries = emb.filter(col("vec_id") < 10)
    val got = Similarity.pqTopK(emb, queries, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    // driver-side mirror of the whole PQ pipeline, bit-for-bit: same
    // codebooks (pqTrain is deterministic), same double math in the
    // same order as the PqEncode/PqLut/AdcDot kernels
    val cb = Similarity.pqTrain(emb, 2048, numSub, numCents, 5)
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val dim = vecs.values.head.length
    val dsub = dim / numSub
    val bits = 32 - java.lang.Integer.numberOfLeadingZeros(numCents - 1)
    val mask = (1L << bits) - 1L
    def encode(v: Array[Float]): (Long, Double) = {
      var code = 0L
      var s = 0
      while (s < numSub) {
        var best = Double.MaxValue; var bc = 0; var c = 0
        while (c < numCents) {
          val base = (s * numCents + c) * dsub
          var dist = 0.0; var d = 0
          while (d < dsub) {
            val diff = v(s * dsub + d).toDouble - cb(base + d); dist += diff * diff; d += 1
          }
          if (dist < best) { best = dist; bc = c }
          c += 1
        }
        code |= bc.toLong << (s * bits)
        s += 1
      }
      (code, math.sqrt(v.map(x => x.toDouble * x.toDouble).sum))
    }
    def lut(q: Array[Float]): (Array[Double], Double) = {
      val t = new Array[Double](numSub * numCents)
      for (s <- 0 until numSub; c <- 0 until numCents) {
        val base = (s * numCents + c) * dsub
        var dot = 0.0; var d = 0
        while (d < dsub) { dot += q(s * dsub + d).toDouble * cb(base + d); d += 1 }
        t(s * numCents + c) = dot
      }
      (t, math.sqrt(q.map(x => x.toDouble * x.toDouble).sum))
    }
    def cosExact(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    val codes = vecs.map { case (id, v) => id -> encode(v) }
    val qids = vecs.keys.filter(_ < 10).toSeq.sorted
    val expected = qids.flatMap { qid =>
      val (t, qn) = lut(vecs(qid))
      val approx = codes.toSeq.filter(_._1 != qid).map { case (id, (code, nrm)) =>
        val adc = (0 until numSub).map(s =>
          t(s * numCents + ((code >>> (s * bits)) & mask).toInt)).sum
        (id, if (qn == 0.0 || nrm == 0.0) 0.0 else adc / (qn * nrm))
      }
      val cand = approx.sortBy { case (id, c) => (-c, id) }.take(k * overFetch).map(_._1)
      cand.map(id => (id, cosExact(vecs(qid), vecs(id))))
        .sortBy { case (id, c) => (-c, id) }.take(k).zipWithIndex
        .map { case ((id, _), i) => (qid, id, i + 1) }
    }.toSet
    assert(got == expected, "PQ result must equal the driver-mirrored pipeline")

    // recall floor vs brute force (random vectors — PQ's worst case)
    val bf = Similarity.bruteForceTopK(emb, queries, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect got.map(t => (t._1, t._2))).size.toDouble / bf.size
    info(f"PQ recall@5 = $recall%.2f")
    assert(recall >= 0.4, s"recall@5 = $recall")
  }

  test("embedding LSH near-dup pairs match brute force exactly (multiprobe)") {
    val exact = Dedup.embeddingNearDups(emb, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDupsLsh(emb, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // verification step => exact precision; distance-1 multiprobe over
    // 16 tables => per-pair miss ~6e-6 at cos 0.4 — equality is what the
    // shared x5/x7 oracle depends on
    assert(lsh == exact, s"recall = ${lsh.size.toDouble / math.max(exact.size, 1)}")
  }

  test("incremental ingest: admits only batch docs that duplicate nothing") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),   // exact dup of corpus 1
      (11L, "one two three four five nine ten"),      // 5 shared shingles? below
      (12L, "totally fresh content nothing shared"),
      (13L, "totally fresh content nothing shared"),  // intra-batch dup of 12
      (14L, "unrelated words entirely distinct here")).toDF("doc_id", "text")
    // doc 11 shares shingles of "one two three four five": 3-grams
    // {one two three, two three four, three four five} = 3 < minShared=5
    // at the default — so with minShared = 3 it is dropped, with 5 kept
    val strict = Dedup.incrementalIngest(corpus, batch, n = 3, minShared = 3)
      .collect().map(_.getLong(0)).toSet
    assert(strict == Set(12L, 14L))
    val loose = Dedup.incrementalIngest(corpus, batch, n = 3, minShared = 5)
      .collect().map(_.getLong(0)).toSet
    assert(loose == Set(11L, 12L, 14L))
  }

  test("semantic dedup: removal rule recomputed brute-force on the driver") {
    val kept = Dedup.semanticDedup(emb, nClusters = 8, eps = 0.4, nIters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // driver-side recompute: same seeds (lowest md5), same argmax
    // assignment, same pair rule — over the full fixture corpus
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = a.map(x => x * x).sum; val nb = b.map(x => x * x).sum
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    val seedIds = vecs.keys.toSeq.sortBy(id => (md5hex(id.toString), id)).take(8)
    val assign = vecs.map { case (id, v) =>
      id -> seedIds.map(s => (s, cos(v, vecs(s)))).minBy { case (s, c) => (-c, s) }._1
    }
    val removedSet = (for {
      a <- vecs.keys; b <- vecs.keys
      if a < b && assign(a) == assign(b) && cos(vecs(a), vecs(b)) >= 0.4
    } yield b).toSet
    val expected = vecs.keys.filterNot(removedSet).map(id => id -> assign(id)).toMap
    assert(kept == expected)
  }

  test("semantic dedup production path (Lloyd iters): partition + dedup invariants") {
    val kept = Dedup.semanticDedup(emb, nClusters = 8, eps = 0.4, nIters = 1)
    // schema is identical to the oracle path
    assert(kept.columns.toSeq == Seq("vec_id", "list_id"))
    val rows = kept.collect().map(r => (r.getLong(0), r.getLong(1)))
    // kept set is unique and a subset of the corpus
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.length <= emb.count())
    // within every surviving cluster, no remaining pair reaches eps
    VectorFunctions.register(spark)
    val keptDf = kept.join(emb, "vec_id")
    val a = keptDf.select(col("list_id"), col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = keptDf.select(col("list_id"), col("vec_id").as("b_id"), col("embedding").as("vb"))
    val survivors = a.join(b, Seq("list_id"))
      .filter(col("a_id") < col("b_id"))
      .filter(VectorFunctions.cosine(col("va"), col("vb")) >= 0.4)
    // the greedy pair rule guarantees the kept set is eps-separated
    // WITHIN clusters (pairs are dropped by lower-id precedence, and
    // any surviving b with a surviving similar a<b would contradict
    // the removal rule)
    assert(survivors.count() == 0)
  }

  test("adaptive quality gate: per source, every kept doc outscores every dropped one") {
    val kept = graft.analytics.ExtPipelines.qualityGateAdaptive(spark, sf())
      .collect().map(r => (r.getString(1), r.getLong(0), r.getDouble(2)))
    val all = graft.ext.TextAnalysis.qualityScore(
        graft.ext.TextAnalysis.qualitySignals(docs))
      .select("source", "doc_id", "quality")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val keptIds = kept.map(_._2).toSet
    all.groupBy(_._1).foreach { case (src, rows) =>
      val (k, d) = rows.partition(r => keptIds(r._2))
      // the gate keeps a top segment: no dropped doc outscores a kept one
      assert(d.isEmpty || k.map(_._3).min >= d.map(_._3).max, src)
      // roughly the top half survives (>= half, duplicates at the
      // median can push it higher; never everything when scores vary)
      assert(k.size >= rows.size / 2, s"$src kept ${k.size}/${rows.size}")
    }
  }

  test("kNN graph: clustered path is exact within clusters and recalls enough overall") {
    val exact = Similarity.knnGraph(emb, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val clustered = Similarity.knnGraphClustered(
      emb, k = 3, nList = 8, nProbe = 2, nIters = 1)
    val cl = clustered.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // exactness within the probed candidate set: for each query, the
    // clustered result IS the exact top-k among members of its nProbe
    // nearest lists (membership + centroids collected from the engine)
    VectorFunctions.register(spark)
    val cent = Similarity.ivfCentroids(emb, nList = 8, nIters = 1)
    val centv = cent.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val assigned = Similarity.ivfAssign(emb, cent)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val expected = (for ((id, _) <- assigned.toSeq) yield {
      val probed = centv.toSeq
        .map { case (l, cv) => (l, cos(vecs(id), cv)) }
        .sortBy { case (l, c) => (-c, l) }.take(2).map(_._1).toSet
      val peers = assigned.filter { case (o, l) => probed(l) && o != id }.keys
      peers.toSeq.map(p => (p, cos(vecs(id), vecs(p))))
        .sortBy { case (p, c) => (-c, p) }.take(3).map(p => (id, p._1))
    }).flatten.toSet
    assert(cl == expected)

    // overall edge recall vs exact — pinned with margin under the floor
    // v7b certifies (random vectors are IVF's worst case)
    val recall = (cl intersect exact).size.toDouble / exact.size
    assert(recall >= 0.30, s"recall = $recall")
  }

  test("jaccard frequent-shingle cap is semantics-preserving on non-skewed data") {
    val off = Dedup.jaccardPairs(docs, n = 3, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val on = Dedup.jaccardPairs(docs, n = 3, threshold = 0.5,
      maxShingleDf = Some(100)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(on == off) // max shingle df here is far below the cap
  }

  test("normalize lowercases, strips punctuation, collapses whitespace") {
    import spark.implicits._
    val got = Seq("  Hello,   WORLD!! 42 ").toDF("text")
      .select(TextAnalysis.normalize(col("text"))).collect()(0).getString(0)
    assert(got == "hello world 42")
  }

  test("langId identifies real multilingual sentences") {
    import spark.implicits._
    val samples = Seq(
      ("the cat sat on the mat and it was happy", "en"),
      ("el perro corre por la calle con los niños", "es"),
      ("der hund läuft auf die straße und das ist gut", "de"),
      ("le chien court dans les rues et la ville est belle", "fr"),
      ("这是一个中文句子用来测试语言识别", "zh"))
    val got = samples.map(_._1).toDF("text")
      .select(TextAnalysis.langId(col("text")).as("l")).collect().map(_.getString(0))
    assert(got.toSeq == samples.map(_._2))
  }

  test("fingerprint is stable under a suffix edit (rolling-min property)") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val df = Seq(base.trim, (base + "omega").trim).toDF("text")
    val fps = df.select(TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(_.getLong(0))
    assert(fps(0) == fps(1)) // min over shared windows dominates
  }

  test("train/test split is deterministic and near the 80/20 target") {
    val a = graft.ext.DataSplit.withSplit(docs.select("doc_id"), "doc_id")
    val b = graft.ext.DataSplit.withSplit(
      docs.select("doc_id").repartition(13), "doc_id") // different partitioning
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty) // partition-independent
    val frac = a.filter(col("split") === "train").count().toDouble / a.count()
    assert(frac > 0.72 && frac < 0.88, s"train fraction $frac")
  }

  test("TopKAggregator: bounded buffer, deterministic tie-break") {
    val agg = new graft.functions.TopKAggregator(2)
    val buf = Seq((5.0, 10L), (5.0, 3L), (7.0, 99L), (1.0, 1L))
      .foldLeft(agg.zero)(agg.reduce)
    assert(buf._1.length == 2)                    // buffer never exceeds k
    assert(agg.finish(buf) == Seq(99L, 3L))       // score desc, id asc on tie
    val merged = agg.merge(buf, agg.reduce(agg.zero, (6.0, 42L)))
    assert(agg.finish(merged) == Seq(99L, 42L))
    // reduce must not mutate a rejected-into buffer (early-exit path
    // returns the SAME arrays — callers rely on value semantics)
    val same = agg.reduce(merged, (0.5, 7L))
    assert(same._1.sameElements(merged._1) && same._2.sameElements(merged._2))
  }

  test("TopKAggregator: equals naive sort on adversarial bot-group input") {
    // a single degenerate group: 50k rows, heavy score ties, ids shuffled
    // deterministically — the early-exit reduce and the linear merge must
    // agree exactly with the brute-force sort at every split point
    val k = 10
    val agg = new graft.functions.TopKAggregator(k)
    val rows = (0 until 50000).map { i =>
      ((i * 2654435761L % 97).toDouble, (i * 40503L) % 50021L)
    }
    val expected = rows.sorted(
      Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) })
      .take(k).map(_._2)
    val whole = rows.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(whole) == expected)
    // partial-aggregate shape: fold per slice, then merge the partials
    val partials = rows.grouped(1331).map(_.foldLeft(agg.zero)(agg.reduce))
    val merged = partials.foldLeft(agg.zero)(agg.merge)
    assert(agg.finish(merged) == expected)
  }

  test("TopKAggregator: NaN scores rank last and are evicted by real scores") {
    // NaN is not ordered by `>`: a naive comparison would let a NaN that
    // reaches the k-th slot block every later row via the early-exit.
    // The NaN-explicit total order ranks NaN as -inf, so finite scores
    // arriving AFTER the NaNs must still evict them.
    val agg = new graft.functions.TopKAggregator(2)
    val buf = Seq((Double.NaN, 1L), (Double.NaN, 2L), (5.0, 30L), (7.0, 40L))
      .foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(buf) == Seq(40L, 30L))
    // a NaN survives only while there is room, always at the end, with
    // the id tie-break keeping the order deterministic
    val partial = Seq((3.0, 9L), (Double.NaN, 8L), (Double.NaN, 4L))
      .foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(partial) == Seq(9L, 4L))
    // merge path agrees: NaNs in either partial lose to finite scores
    val other = agg.reduce(agg.zero, (1.0, 5L))
    assert(agg.finish(agg.merge(partial, other)) == Seq(9L, 5L))
  }

  test("quality signals are bounded and deterministic") {
    val q = graft.analytics.ExtPipelines.qualitySignals(spark, sf())
    assert(q.filter(col("quality") < 0 || col("quality") > 1).count() == 0)
    assert(q.filter(col("stopword_ratio") < 0 || col("stopword_ratio") > 1).count() == 0)
  }

  test("bloom ingest: planted dups always rejected; subset of exact; bounded excess") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta"),
      (3L, "epsilon zeta")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha beta"), (11L, "gamma delta"),
      (12L, "fresh doc one"), (13L, "another new doc"),
      (14L, "epsilon zeta")).toDF("doc_id", "text")
    val admitted = Dedup.bloomIngest(corpus, batch)
      .collect().map(_.getLong(0)).toSet
    // one-sided error: a text present in the corpus can NEVER be admitted
    assert((admitted intersect Set(10L, 11L, 14L)).isEmpty, admitted)
    assert(admitted.subsetOf(Set(12L, 13L)), admitted)

    // real corpus at the x16/x17 split: bloom-admitted ⊆ join-admitted
    // and the false-positive excess is within the x17b bound
    val split = graft.ext.DataSplit.withSplit(
      docs.select("doc_id", "text"), "doc_id")
    val corpus2 = split.filter(col("split") === "train")
    val batch2 = split.filter(col("split") === "test")
    val bloomAdm = Dedup.bloomIngest(corpus2, batch2)
      .collect().map(_.getLong(0)).toSet
    val exactAdm = batch2.select(col("doc_id"), sha2(col("text"), 256).as("s"))
      .join(corpus2.select(sha2(col("text"), 256).as("s")).distinct(),
        Seq("s"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bloomAdm.subsetOf(exactAdm),
      s"bloom admitted a true dup: ${(bloomAdm diff exactAdm).take(5)}")
    val bound = math.max(5L, batch2.count() / 100)
    assert(exactAdm.size - bloomAdm.size <= bound,
      s"excess rejections ${exactAdm.size - bloomAdm.size} > $bound")
  }

  test("bloom sketch is partitioning-invariant (merge = OR is lossless)") {
    import spark.implicits._
    val corpus = docs.select("doc_id", "text").limit(100)
    val batch = docs.select("doc_id", "text").limit(300)
    val one = Dedup.bloomIngest(corpus.repartition(1), batch)
      .collect().map(_.getLong(0)).toSet
    val many = Dedup.bloomIngest(corpus.repartition(7), batch)
      .collect().map(_.getLong(0)).toSet
    assert(one == many,
      s"partitioning changed the sketch: ${(one diff many) ++ (many diff one)}")
  }

  test("TermFreqs: one-pass dl/tf matches hand counts and the HOF recompute") {
    import spark.implicits._
    graft.functions.TextExpressions.registerTermFreqs(spark)
    val terms = Seq("spark", "vector", "stream")
    val tiny = Seq(
      (1L, "spark spark stream a"), // adjacent duplicates
      (2L, ""),                     // string_split('') = [''] => dl 1
      (3L, "a  spark b"),           // double space => empty token counts
      (4L, "vector")).toDF("doc_id", "text")
    val got = tiny.select(col("doc_id"),
        graft.functions.TextExpressions.termFreqs(col("text"), terms).as("s"))
      .select(col("doc_id"), col("s.dl").as("dl"), col("s.tf").as("tf"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2).toList))).toMap
    assert(got(1L) == ((4L, List(2L, 0L, 1L))))
    assert(got(2L) == ((1L, List(0L, 0L, 0L))))
    assert(got(3L) == ((4L, List(1L, 0L, 0L))))
    assert(got(4L) == ((1L, List(0L, 1L, 0L))))
    // property on the real corpus: the native pass ≡ the declarative
    // split + per-term HOF filter it replaces
    val native = docs.select(col("doc_id"),
        graft.functions.TextExpressions.termFreqs(col("text"), terms).as("s"))
      .select(col("doc_id"), col("s.dl").as("dl"), col("s.tf").as("tf"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2).toList))).toMap
    val hof = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl"),
        array(terms.map(t =>
          size(filter(split(col("text"), " "), x => x === lit(t))).cast("long")): _*).as("tf"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2).toList))).toMap
    assert(native == hof)
  }

  test("bm25 matches a driver-side recompute; only term-matching docs kept") {
    val terms = Seq("spark", "vector", "stream")
    val k1 = 1.2; val b = 0.75
    val got = TextAnalysis.bm25(docs, terms).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("bm25"))).toMap
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val n = rows.length.toDouble
    val sumDl = rows.map(_._2.length.toLong).sum.toDouble
    val dfs = terms.map(t => rows.count(_._2.contains(t)).toDouble)
    val expected = rows.map { case (id, toks) =>
      val dl = toks.length.toDouble
      id -> terms.zipWithIndex.map { case (t, i) =>
        val tf = toks.count(_ == t).toDouble
        val idf = math.log(1.0 + (n - dfs(i) + 0.5) / (dfs(i) + 0.5))
        idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl * n / sumDl))
      }.sum
    }.filter(_._2 > 0).toMap
    assert(got.keySet == expected.keySet,
      s"kept sets differ: ${(got.keySet diff expected.keySet).take(5)} / " +
      s"${(expected.keySet diff got.keySet).take(5)}")
    got.foreach { case (id, s) =>
      assert(math.abs(s - expected(id)) < 1e-9, s"doc $id: $s vs ${expected(id)}")
    }
  }

  private def bigramsOf(toks: Seq[String]): Seq[String] =
    toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq

  test("t20: LM coverage matches a driver-side recompute of the bigram LM") {
    val got = graft.ext.LmQuality.lmCoverage(docs).collect().map { r =>
      r.getLong(r.fieldIndex("doc_id")) ->
        ((r.getLong(r.fieldIndex("n_bigrams")), r.getLong(r.fieldIndex("n_known")),
          r.getLong(r.fieldIndex("known_mass")), r.getDouble(r.fieldIndex("coverage")),
          r.getDouble(r.fieldIndex("familiarity")), r.getBoolean(r.fieldIndex("keep"))))
    }.toMap
    val rows = docs.select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1).toSeq))
    val lm = rows.filter(_._2 == "en").flatMap(r => bigramsOf(r._3))
      .groupBy(identity).view.mapValues(_.size.toLong).filter(_._2 >= 2).toMap
    val scored = rows.filter(_._3.length >= 2)
    assert(got.keySet == scored.map(_._1).toSet)
    scored.foreach { case (id, _, toks) =>
      val bgs = bigramsOf(toks)
      val nb = bgs.length.toLong
      val nk = bgs.count(lm.contains).toLong
      val mass = bgs.map(b => lm.getOrElse(b, 0L)).sum
      val (gnb, gnk, gmass, cov, fam, keep) = got(id)
      assert(gnb == nb && gnk == nk && gmass == mass, s"doc $id integer masses")
      assert(math.abs(cov - nk.toDouble / nb) < 1e-12, s"doc $id coverage")
      assert(math.abs(fam - math.log(1.0 + mass.toDouble / nb)) < 1e-12, s"doc $id familiarity")
      assert(keep == (nk * 5 >= nb * 3), s"doc $id keep")
    }
  }

  test("v13: Lloyd k-means matches a driver-side recompute; partitioning-invariant") {
    val emb = sources.Tables.embeddings(spark, sf())
    val got = graft.ext.Similarity.kmeansLloyd(emb, k = 4, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // plain-loop mirror of the algorithm on collected vectors
    val vecs = emb.selectExpr("cast(vec_id as long)", "cast(embedding as array<double>)")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    var cents = vecs.take(4).zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    def assign(v: Array[Double]): Long = {
      var best = Double.PositiveInfinity; var bc = Long.MaxValue
      for ((cid, c) <- cents) {
        var d = 0.0; var i = 0
        while (i < v.length) { val t = v(i) - c(i); d += t * t; i += 1 }
        if (d < best) { best = d; bc = cid }
      }
      bc
    }
    for (_ <- 0 until 2) {
      val byC = vecs.groupBy(x => assign(x._2))
      cents = cents.map { case (cid, old) =>
        val members = byC.getOrElse(cid, Array.empty)
        if (members.isEmpty) (cid, old)
        else {
          val dim = old.length
          val m = Array.tabulate(dim) { i =>
            val mean = members.map(_._2(i)).sum / members.length
            math.floor(mean * 10000.0 + 0.5) / 10000.0
          }
          (cid, m)
        }
      }
    }
    val want = vecs.map { case (id, v) => id -> assign(v) }.toMap
    // driver mirror sums means in a fixed order vs Spark's partial
    // aggregation — the 1e-4 quantization absorbs it (the determinism
    // contract), so assignments must agree exactly
    assert(got == want)
    val re = graft.ext.Similarity.kmeansLloyd(emb.repartition(7), k = 4, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == got)
  }

  test("x25: JaroWinkler matches the DuckDB convention on canonical + edge cases") {
    import graft.functions.JaroWinklerExpr.similarity
    // textbook pairs (Winkler 1990), floored-transposition convention
    assert(similarity("MARTHA", "MARHTA") == 0.9611111111111111)
    assert(similarity("DWAYNE", "DUANE") == 0.8400000000000001)
    assert(similarity("abc", "abc") == 1.0)
    // empty inputs score 0 — DuckDB convention, incl. both-empty
    assert(similarity("", "abc") == 0.0)
    assert(similarity("ab", "") == 0.0)
    assert(similarity("", "") == 0.0)
    // boost threshold: jaro = 0.5 <= 0.7 → prefix bonus NOT applied
    assert(similarity("abcdefgh", "abzzzzzz") == 0.5)
    // window = max/2 - 1 = 0 → adjacent transposition can't match
    assert(similarity("ab", "ba") == 0.0)
    // NON-ASCII: the match runs over UTF-8 BYTES like DuckDB's (both
    // values probed against duckdb 1.0.0) — the 2-byte é shifts 'x'
    // outside the window, impossible under code-unit matching
    assert(similarity("éx", "ex") == 0.0)
    assert(similarity("日本語", "日本誤") == 0.9555555555555556)
    // blocked pairs: equi-join on the block key, no cartesian
    val df = graft.ext.Dedup.jaroWinklerPairs(
      sources.Tables(spark, sf(), "part"), "p_partkey", "p_name", "p_brand")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"blocking must plan an equi-join:\n$p")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getDouble(2) >= 0.9 && r.getLong(0) < r.getLong(1)))
  }

  test("x25b: blocked twin equals x25's exact all-pairs result, jw doubles included") {
    val part = sources.Tables(spark, sf(), "part")
    val exact = graft.ext.Dedup.jaroWinklerPairs(
        part, "p_partkey", "p_name", "p_brand")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val blocked = graft.ext.Dedup.jaroWinklerPairsBlocked(
        part, "p_partkey", "p_name", "p_brand")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty)
    assert(blocked == exact,
      s"missed=${(exact -- blocked).take(5)} extra=${(blocked -- exact).take(5)}")
  }

  test("x25b: zero recall loss on adversarial lengths/prefixes (driver all-pairs oracle)") {
    import graft.functions.JaroWinklerExpr.similarity
    // names chosen to stress every branch the part table doesn't:
    // differing lengths across the class grid, shared suffix with
    // differing FIRST char ('old ring'/'cold ring' — a 2-gram-prefix
    // block would lose it), repeated chars (occurrence indexes),
    // single chars, an empty string, and identical-name groups
    val names = Seq(
      "old ring", "cold ring", "bold ring", "old rings", "ring old",
      "aaaa", "aaab", "aaaaa", "a", "b", "", "zq", "zqzqzqzq",
      "mississippi", "missisippi", "mississippee", "banana", "bananas",
      "large bolt", "large plate", "small gear", "hot widget", "hot widget")
    import spark.implicits._
    val df = names.zipWithIndex
      .map { case (n, i) => (i.toLong, "B1", n) }.toDF("id", "blk", "nm")
    // three thresholds: the class cap l/(5t-4), the overlap bound
    // (5t-3)·l1·l2/(l1+l2) and the prefix sizes all move with t — a
    // 0.9-only test would leave the generalized arithmetic unexercised
    for (t <- Seq(0.85, 0.9, 0.95)) {
      val got = graft.ext.Dedup
        .jaroWinklerPairsBlocked(df, "id", "nm", "blk", threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = (for {
        i <- names.indices; j <- names.indices if i < j
        jw = similarity(names(i), names(j)) if jw >= t
      } yield (i.toLong, j.toLong, jw)).toSet
      assert(want.nonEmpty, s"t=$t fixture must exercise matches")
      assert(got == want,
        s"t=$t missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("x25b: pairwise verify runs on the distinct-name table, not the corpus") {
    // the corpus-side quadratic hazard is gone by construction: the
    // candidate stage input is distinct (blk, nm). Pin that by feeding
    // a corpus with massive identical-name duplication and checking
    // the name-pair stage sees only the distinct names.
    import spark.implicits._
    val dn = Seq(("B1", "alpha part"), ("B1", "alpha pert"), ("B1", "beta part"))
      .toDF("blk", "nm")
    val pairs = graft.ext.Dedup.jaroWinklerNamePairs(dn)
      .collect().map(r => (r.getString(1), r.getString(2), r.getDouble(3)))
    // alpha part / alpha pert differ in one char: jw >= 0.9; the beta
    // pair does not reach threshold
    assert(pairs.map(p => (p._1, p._2)).toSet == Set(("alpha part", "alpha pert")))
    import graft.functions.JaroWinklerExpr.similarity
    assert(pairs.head._3 == similarity("alpha part", "alpha pert"))
  }

  test("t31: bigram NLL matches a driver-side recompute; partitioning-invariant") {
    val result = graft.ext.LmQuality.bigramNll(docs)
    val got = result.collect().map { r =>
      r.getLong(r.fieldIndex("doc_id")) ->
        ((r.getLong(r.fieldIndex("n_bigrams")),
          r.getLong(r.fieldIndex("nll_unats")),
          r.getDouble(r.fieldIndex("nll"))))
    }.toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).filter(_._2.length >= 2)
    def charBigrams(t: String): Seq[String] =
      (0 until t.length - 1).map(i => t.substring(i, i + 2))
    val model = texts.flatMap(t => charBigrams(t._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pre = model.toSeq.groupBy(_._1.charAt(0)).view
      .mapValues(_.map(_._2).sum).toMap
    val vocab = (model.keys.map(_.charAt(0)) ++ model.keys.map(_.charAt(1)))
      .toSet.size
    val unat: Map[String, Long] = model.map { case (b, cbg) =>
      b -> math.round(math.log((cbg + 1.0) / (pre(b.charAt(0)) + vocab.toDouble))
        * -1000000.0)
    }
    assert(got.keySet == texts.map(_._1).toSet)
    texts.foreach { case (id, t) =>
      val bgs = charBigrams(t)
      val total = bgs.map(unat).sum
      val (gn, gu, gnll) = got(id)
      assert(gn == bgs.length.toLong && gu == total, s"doc $id integer masses")
      assert(math.abs(gnll - total.toDouble / (bgs.length * 1000000.0)) < 1e-12)
    }
    // the integer-µnat sum is aggregation-order-exact: any partitioning
    // of the corpus produces bit-identical rows
    val re = graft.ext.LmQuality.bigramNll(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(re == result.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet)
  }

  test("t32: NB quality log-odds matches a driver-side recompute; partitioning-invariant") {
    val result = graft.ext.LmQuality.nbQualityScore(docs)
    val got = result.collect().map { r =>
      r.getLong(r.fieldIndex("doc_id")) ->
        ((r.getLong(r.fieldIndex("n_tokens")),
          r.getLong(r.fieldIndex("logodds_unats")),
          r.getBoolean(r.fieldIndex("keep"))))
    }.toMap
    val rows = docs.select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val toks = rows.map { case (id, lang, t) => (id, lang, t.split(" ", -1).toSeq) }
    val counts = scala.collection.mutable.Map[String, (Long, Long)]()
    toks.foreach { case (_, lang, ts) =>
      ts.foreach { t =>
        val (a, ct) = counts.getOrElse(t, (0L, 0L))
        counts(t) = (a + 1, ct + (if (lang == "en") 1 else 0))
      }
    }
    val nT = counts.values.map(_._2).sum
    val nO = counts.values.map(v => v._1 - v._2).sum
    val v = counts.size.toLong
    val dT = rows.count(_._2 == "en").toLong
    val dO = rows.length - dT
    val w: Map[String, Long] = counts.filter(_._2._1 >= 2).map {
      case (t, (cAll, cT)) =>
        t -> math.round(math.log(((cT + 1.0) * (nO + v.toDouble)) /
          ((cAll - cT + 1.0) * (nT + v.toDouble))) * 1000000.0)
    }.toMap
    val wUnk = math.round(
      math.log((nO + v.toDouble) / (nT + v.toDouble)) * 1000000.0)
    val prior = math.round(math.log((dT + 1.0) / (dO + 1.0)) * 1000000.0)
    assert(got.keySet == rows.map(_._1).toSet)
    toks.foreach { case (id, _, ts) =>
      val lo = prior + ts.map(t => w.getOrElse(t, wUnk)).sum
      val (gn, gl, gk) = got(id)
      assert(gn == ts.length.toLong && gl == lo, s"doc $id NB masses")
      assert(gk == (lo > 0L))
    }
    // pruned-model path: minCount above every count forces ALL tokens
    // through the smoothed unknown weight — logodds degrades to
    // prior + n_tokens·w_unk exactly
    val allUnk = graft.ext.LmQuality
      .nbQualityScore(docs, minCount = Int.MaxValue).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    toks.foreach { case (id, _, ts) =>
      assert(allUnk(id) == prior + ts.length * wUnk, s"doc $id unk path")
    }
    // integer µnat sums are aggregation-order-exact under any partitioning
    val re = graft.ext.LmQuality.nbQualityScore(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toSet
    assert(re == result.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toSet)
  }

  test("t21: importance selection is the exact global top-100 of the hashed-feature ratio") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def feat(b: String): Int = {
      val hex = md.digest(b.getBytes("UTF-8")).take(2)
        .map(x => f"$x%02x").mkString
      Integer.parseInt(hex, 16)
    }
    val rows = docs.select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1).toSeq))
      .filter(_._3.length >= 2)
    val feats = rows.map { case (id, lang, toks) =>
      (id, lang, bigramsOf(toks).map(feat)) }
    val cS = feats.flatMap(_._3).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cT = feats.filter(_._2 == "en").flatMap(_._3)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = feats.map { case (id, _, fs) =>
      val t = fs.map(f => cT.getOrElse(f, 0L)).sum
      val s = fs.map(f => cS(f)).sum
      (id, t, s, (t.toDouble + 1.0) / (s.toDouble + 1.0))
    }.sortBy { case (id, _, _, r) => (-r, id) }.take(100)
    val sel = graft.ext.LmQuality.importanceRatio(docs).collect().map { r =>
      (r.getLong(r.fieldIndex("doc_id")), r.getLong(r.fieldIndex("target_mass")),
        r.getLong(r.fieldIndex("source_mass")), r.getDouble(r.fieldIndex("ratio")))
    }
    assert(sel.length == expected.length)
    sel.zip(expected).foreach { case ((gi, gt, gs, gr), (ei, et, es, er)) =>
      assert(gi == ei && gt == et && gs == es, s"doc $gi vs $ei")
      assert(gr == er, s"ratio must be bit-identical (one exact division): $gr vs $er")
      assert(gt <= gs, "target subset mass cannot exceed source mass")
    }
  }

  test("t24: novelty matches a driver-side shingle-df recompute") {
    import spark.implicits._
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    def shinglesOf(toks: Seq[String]): Set[Seq[String]] =
      if (toks.length < 3) Set.empty else toks.sliding(3).map(_.toSeq).toSet
    val perDoc = rows.map { case (id, t) => id -> shinglesOf(t) }
      .filter(_._2.nonEmpty)
    val dfc = perDoc.flatMap(_._2).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val got = Dedup.noveltyScores(docs).collect().map { r =>
      r.getLong(r.fieldIndex("doc_id")) ->
        ((r.getLong(r.fieldIndex("n_shingles")),
          r.getLong(r.fieldIndex("n_shared")),
          r.getDouble(r.fieldIndex("novelty"))))
    }.toMap
    assert(got.keySet == perDoc.map(_._1).toSet,
      "every doc with >= 3 tokens is scored, shorter docs drop out")
    perDoc.foreach { case (id, sh) =>
      val shared = sh.count(s => dfc(s) >= 2).toLong
      val (gn, gs, gnov) = got(id)
      assert(gn == sh.size.toLong && gs == shared, s"doc $id integer counts")
      assert(gnov == 1.0 - shared.toDouble / sh.size.toDouble,
        s"doc $id novelty must be the exact finishing double")
    }
    // planted: a doc duplicated verbatim has novelty 0 for both copies
    val planted = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val p = Dedup.noveltyScores(planted).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(p(1L) == 0.0 && p(2L) == 0.0 && p(3L) == 1.0)
  }

  test("x18: source overlap matches a driver-side pairwise set recompute") {
    import spark.implicits._
    val rows = docs.select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).toSeq))
    val bySrc = rows.groupBy(_._1).view.mapValues(_.flatMap { case (_, t) =>
      if (t.length < 3) Seq.empty else t.sliding(3).map(_.mkString(" ")).toSeq
    }.toSet).toMap
    val expected = (for {
      (sa, setA) <- bySrc; (sb, setB) <- bySrc if sa < sb
      i = (setA & setB).size if i > 0
    } yield (sa, sb) -> ((setA.size.toLong, setB.size.toLong, i.toLong,
      i.toDouble / (setA.size.toLong + setB.size.toLong - i)))).toMap
    val got = Dedup.sourceOverlap(docs).collect().map { r =>
      (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
    }.toMap
    assert(got.keySet == expected.keySet, "exactly the overlapping pairs")
    expected.foreach { case (k, (na, nb, ni, j)) =>
      val (gna, gnb, gni, gj) = got(k)
      assert(gna == na && gnb == nb && gni == ni, s"pair $k integer counts")
      assert(gj == j, s"pair $k jaccard must be the exact finishing double")
    }
    // planted: disjoint sources produce no row at all
    val planted = Seq(
      (1L, "a b c d", "s1"), (2L, "x y z w", "s2")).toDF("doc_id", "text", "source")
    assert(Dedup.sourceOverlap(planted).collect().isEmpty)
  }

  test("x19: snapshot diff classifies added/removed/changed, drops unchanged") {
    import spark.implicits._
    val oldSnap = Seq(
      (1L, "stays the same"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text")
    val newSnap = Seq(
      (1L, "stays the same"), (2L, "has changed"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val got = Dedup.snapshotDiff(oldSnap, newSnap).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
    // identical snapshots → empty delta, regardless of corpus size
    assert(Dedup.snapshotDiff(docs.select("doc_id", "text"),
      docs.select("doc_id", "text")).collect().isEmpty)
    // the x19 pipeline emits all three statuses on the real table and
    // never emits a doc outside the union of the two snapshots
    val d = graft.analytics.ExtPipelines.snapshotDiff(spark, sf()).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(d.map(_._2).toSet == Set("added", "removed", "changed"))
    assert(d.map(_._1).distinct.length == d.length, "one row per doc_id")
  }

  test("t26: BPE pair stats match a driver-side recompute; cut is total-ordered") {
    import spark.implicits._
    val planted = Seq(
      (1L, "low low lower"), (2L, "low newest")).toDF("doc_id", "text")
    // word freqs: low×3, lower×1, newest×1 → lo=4, ow=4, we=2 (lower +
    // newest), then er/ne/ew/es/st ×1; ties order pair-asc
    val got = TextAnalysis.bpePairStats(planted, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("lo", 4L), ("ow", 4L), ("we", 2L)))
    // full driver recompute on the real table, including the exact cut
    val docs2 = docs.select("text").collect().map(_.getString(0))
    val wordFreq = docs2.flatMap(_.split(" ", -1)).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    val pairCount = new scala.collection.mutable.HashMap[String, Long]()
    wordFreq.foreach { case (w, n) =>
      w.sliding(2).filter(_.length == 2).foreach(p =>
        pairCount(p) = pairCount.getOrElse(p, 0L) + n)
    }
    val expected = pairCount.toSeq.sortBy { case (p, n) => (-n, p) }.take(50)
    val full = TextAnalysis.bpePairStats(docs).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(full == expected, "top-50 identical including order of the cut")
  }

  test("x21: change magnitude separates trivial churn from rewrites") {
    import spark.implicits._
    val oldSnap = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six"),
      (3L, "same text here ok"),
      (4L, "gone entirely")).toDF("doc_id", "text")
    val newSnap = Seq(
      // trivial: one token appended — most shingles survive
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      // rewrite: nothing in common
      (2L, "completely different content now appears here"),
      (3L, "same text here ok"),                  // unchanged → no row
      (5L, "newly added")).toDF("doc_id", "text") // added → no row
    val got = Dedup.changeMagnitude(oldSnap, newSnap).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]), r.getBoolean(5)))).toMap
    assert(got.keySet == Set(1L, 2L), "only changed docs emit a row")
    // doc 1: old has 6 trigrams, new has 7, 6 shared → jaccard 6/7
    assert(got(1L)._1 == 6L && got(1L)._2 == 7L && got(1L)._3 == 6L)
    assert(got(1L)._4.contains(6.0 / 7.0) && got(1L)._5, "trivial churn is minor")
    // doc 2: disjoint shingles → jaccard 0, substantive
    assert(got(2L)._3 == 0L && got(2L)._4.contains(0.0) && !got(2L)._5)
    // short-text edge: both sides under n tokens → NULL jaccard, not minor
    val short = Dedup.changeMagnitude(
      Seq((9L, "a b")).toDF("doc_id", "text"),
      Seq((9L, "c d")).toDF("doc_id", "text")).collect().head
    assert(short.isNullAt(4) && !short.getBoolean(5))
  }

  test("round-9 ops are invariant to input partitioning") {
    val d1 = docs.repartition(1)
    val d13 = docs.repartition(13)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    assert(rows(Dedup.snapshotDiff(d1, d1.filter(col("doc_id") < 400))) ==
      rows(Dedup.snapshotDiff(d13, d13.filter(col("doc_id") < 400))))
    assert(rows(TextAnalysis.bpePairStats(d1)) ==
      rows(TextAnalysis.bpePairStats(d13)))
    assert(rows(TextAnalysis.sourceDrift(d1)) ==
      rows(TextAnalysis.sourceDrift(d13)))
    // v10's bottom-k sample rides TopKAggregator partial merges — the
    // centroid (and so every score) must not depend on merge order
    val ej = emb.join(
      docs.select(col("doc_id").as("vec_id"), col("source")), "vec_id")
    assert(rows(Similarity.centroidOutliers(ej.repartition(1))) ==
      rows(Similarity.centroidOutliers(ej.repartition(13))))
    def mutate(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" tail"))).otherwise(col("text")))
    val cm1 = rows(Dedup.changeMagnitude(d1, mutate(d1)))
    assert(cm1 == rows(Dedup.changeMagnitude(d13, mutate(d13))))
    assert(cm1.nonEmpty, "the mutated band must register as changed")
  }

  test("t27: source drift matches hand-computed KL; Gibbs bound holds") {
    import spark.implicits._
    // srcA: stopword profile 3×the, 1×of; srcB: 1×the, 3×of
    // corpus: the=4, of=4 → q=(1/2,1/2); p_A=(3/4,1/4)
    // KL(p_A||q) = .75·ln(1.5) + .25·ln(.5) (identical for B by symmetry)
    val planted = Seq(
      (1L, "the the the of x", "srcA"), (2L, "the of of of y", "srcB"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceDrift(planted).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val expected = 0.75 * math.log(0.75 / 0.5) + 0.25 * math.log(0.25 / 0.5)
    assert(got("srcA")._1 == 4L && got("srcB")._1 == 4L)
    assert(math.abs(got("srcA")._2 - expected) < 1e-12)
    assert(math.abs(got("srcB")._2 - expected) < 1e-12)
    // stopword-free source scores exactly 0 by the zero-term rule
    val bare = TextAnalysis.sourceDrift(
      planted.union(Seq((3L, "xyz qqq", "srcC")).toDF("doc_id", "text", "source")))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(bare("srcC") == 0.0)
    // real corpus: KL(p||q) ≥ 0 for every source (Gibbs), masses positive
    val real = graft.analytics.ExtPipelines.sourceDrift(spark, sf()).collect()
    assert(real.nonEmpty)
    real.foreach { r =>
      assert(r.getDouble(2) >= -1e-15, s"negative KL for ${r.getString(0)}")
      assert(r.getLong(1) > 0)
    }
  }

  test("x22: next snapshot is exactly x20's decisions applied") {
    val decisions = graft.analytics.ExtPipelines.corpusRefresh(spark, sf())
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2))))
      .toMap
    val next = graft.analytics.ExtPipelines.nextSnapshot(spark, sf())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val mag = graft.analytics.ExtPipelines.changeMagnitude(spark, sf())
      .collect().map(_.getLong(0)).toSet
    val all = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    decisions.foreach { case (id, (status, action)) =>
      action match {
        case "admit_new" | "admit_update" =>
          assert(next.contains(id), s"admitted $id must land in next")
          assert(status == "added" || next(id) != all(id),
            s"admitted update $id must carry the NEW revision")
        case "reject_quality" | "reject_dup" if status == "changed" =>
          assert(next(id) == all(id),
            s"rejected update $id must keep its OLD revision")
        case _ => // rejected adds: simply absent
          assert(status == "added" && !next.contains(id))
      }
    }
    // every changed doc scored by x21 received a decision in x20
    assert(mag.subsetOf(decisions.keySet))
    // unchanged survivors keep their old text untouched
    val unchanged = next.keySet.filterNot(decisions.contains)
    assert(unchanged.nonEmpty)
    unchanged.foreach(id => assert(next(id) == all(id)))
  }

  test("x20: corpus refresh decisions match a driver-side recompute") {
    val bucketOf: Long => Int = id => {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id#snap".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(hex.take(4), 16)
    }
    val all = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val old = all.filter { case (id, _) => bucketOf(id) < 58982 }.toMap
    val nw = all.filter { case (id, _) => bucketOf(id) >= 6554 }.map {
      case (id, t) =>
        val bk = bucketOf(id)
        id -> (if (bk >= 26214 && bk < 32768) t + " [recrawled]" else t)
    }.toMap
    val oldTexts = old.values.toSet
    val stop = graft.ext.TextAnalysis.stopwords.toSet
    def quality(t: String): Double = {
      val toks = t.split(" ", -1)
      val nTok = toks.length
      val nStop = toks.count(stop)
      val len = t.length
      val stopR = if (nTok == 0) 0.0 else nStop.toDouble / nTok
      val punctR = if (len == 0) 0.0 else
        t.replaceAll("[A-Za-z0-9\\s]", "").length.toDouble / len
      math.min(nTok / 100.0, 1.0) * 0.4 +
        math.min(stopR * 5.0, 1.0) * 0.3 +
        (1.0 - math.min(punctR * 10.0, 1.0)) * 0.3
    }
    val expected = nw.flatMap { case (id, t) =>
      val status = old.get(id) match {
        case None => Some("added")
        case Some(ot) if ot != t => Some("changed")
        case _ => None
      }
      status.map { s =>
        val action =
          if (oldTexts(t)) "reject_dup"
          else if (quality(t) < 0.5) "reject_quality"
          else if (s == "added") "admit_new"
          else "admit_update"
        id -> ((s, action))
      }
    }
    val got = graft.analytics.ExtPipelines.corpusRefresh(spark, sf())
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2))))
      .toMap
    assert(got == expected)
    assert(got.values.map(_._2).toSet.subsetOf(Set(
      "admit_new", "admit_update", "reject_dup", "reject_quality")))
  }

  test("v10: centroid outliers match a driver-side fixed-point recompute") {
    import spark.implicits._
    // planted: group g1 has two aligned vectors and one orthogonal
    // stray; k large enough that the sample is the whole group
    val planted = Seq(
      (1L, Array(1.0f, 0.0f), "g1"), (2L, Array(0.9f, 0.1f), "g1"),
      (3L, Array(0.0f, 1.0f), "g1"), (4L, Array(0.5f, 0.5f), "g2"))
      .toDF("vec_id", "embedding", "source")
    val got = Similarity.centroidOutliers(planted, k = 16).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5)))).toMap
    // fixed-point: f1=(10000,0) f2=(9000,1000) f3=(0,10000) → centroid
    // g1 = (19000,11000); doc1 dot=19e7, na=1e8, nb=482e6
    assert(got(1L)._1 == 190000000L && got(1L)._2 == 100000000L &&
      got(1L)._3 == 482000000L)
    assert(math.abs(got(1L)._4 - 190000000.0 /
      (math.sqrt(100000000.0) * math.sqrt(482000000.0))) < 1e-15)
    // the stray scores lowest in its group; the singleton g2 scores 1
    assert(got(3L)._4 < got(1L)._4 && got(3L)._4 < got(2L)._4)
    assert(math.abs(got(4L)._4 - 1.0) < 1e-12)
    // sample determinism: k=1 keeps exactly the bottom-(bucket,id) doc,
    // recomputed driver-side with the same salted-md5 rule
    val bucketOf: Long => Int = id => {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id#cent".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      Integer.parseInt(hex.take(4), 16)
    }
    val keep = Seq(1L, 2L, 3L).minBy(id => (bucketOf(id), id))
    val k1 = Similarity.centroidOutliers(planted, k = 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    assert(math.abs(k1(keep) - 1.0) < 1e-12,
      "with k=1 the sampled doc IS the centroid")
    // real table: every embedding scored exactly once, cos in [-1,1]
    val full = graft.analytics.ExtPipelines.centroidOutliers(spark, sf())
    val rows = full.collect()
    assert(rows.length == emb.count())
    rows.foreach(r => assert(math.abs(r.getDouble(5)) <= 1.0 + 1e-12))
  }

  test("v9: ivf ingest matches a driver-side argmax and commutes with batching") {
    val bucketOf: Long => Int = id => {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8")).take(2)
        .map(x => f"$x%02x").mkString
      Integer.parseInt(hex, 16)
    }
    val all = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val standingIds = all.map(_._1).filter(id => bucketOf(id) < 52428).toSet
    val standing = emb.filter(col("vec_id").isInCollection(standingIds))
    val batch = emb.filter(!col("vec_id").isInCollection(standingIds))
    // driver-side oracle: md5-ordered seed draw from standing, then
    // double-cosine argmax with lowest-seed-id tie-break per batch vec
    val md5hex: Long => String = id => {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(id.toString.getBytes("UTF-8")).map(x => f"$x%02x").mkString
    }
    val seeds = all.filter(v => standingIds(v._1))
      .sortBy(v => (md5hex(v._1), v._1)).take(8)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    val expected = all.filterNot(v => standingIds(v._1)).map { case (id, v) =>
      id -> seeds.map { case (sid, sv) => (sid, cos(v, sv)) }
        .maxBy { case (sid, s) => (s, -sid) }._1
    }.toMap
    val got = Similarity.ivfIngest(standing, batch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, "batch assignment must match the driver argmax")
    // commutativity: two sub-batches yield exactly the one-batch rows
    val ids = expected.keySet.toSeq.sorted
    val (half1, half2) = ids.splitAt(ids.length / 2)
    val gotSplit =
      Similarity.ivfIngest(standing, batch.filter(col("vec_id").isInCollection(half1)))
        .unionByName(
          Similarity.ivfIngest(standing, batch.filter(col("vec_id").isInCollection(half2))))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotSplit == got, "daily ingests must equal the merged batch")
    // production path (Lloyd-refined centroids) assigns every batch id
    val prod = Similarity.ivfIngest(standing, batch, nList = 4, nIters = 1)
      .collect().map(r => r.getLong(0)).toSet
    assert(prod == expected.keySet)
  }

  test("ivf index: persisted index answers identically and prunes partitions") {
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    Similarity.saveIvfIndex(emb, path, nList = 8, nIters = 1)
    val queries = emb.filter(col("vec_id") < 10)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet // (query, neighbor, rank)
    val mem = key(Similarity.ivfTopK(emb, queries, k = 5,
      nList = 8, nProbe = 4, nIters = 1))
    val fromIdx = Similarity.ivfTopKFromIndex(spark, path, queries,
      k = 5, nProbe = 4)
    // float vectors and double centroids round-trip parquet bit-exactly
    // and the probe/re-rank stage is shared code, so equality is exact
    assert(key(fromIdx) == mem && mem.nonEmpty)
    // the probe join must dynamic-partition-prune the lists scan —
    // the point of the list_id directory layout
    val plan = fromIdx.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"lists scan must carry a dynamic pruning filter:\n$plan")
    // the pq storage: the in-memory IVF-PQ serve runs the same codec
    // (codebook trained on the same residual sample) and the same
    // probe-and-rank stage as the persisted pq index
    val pqPath = java.nio.file.Files.createTempDirectory("graft-ivf-pq")
      .toString + "/idx"
    Similarity.saveIvfIndex(emb, pqPath, nList = 8, nIters = 1,
      storage = "pq")
    val pqMem = key(Similarity.ivfPqTopK(emb, queries, k = 5))
    assert(key(Similarity.ivfTopKFromIndex(spark, pqPath, queries,
      k = 5, nProbe = 4, overFetch = 8)) == pqMem && pqMem.nonEmpty)
  }

  test("v18: appendToIvfIndex equals a same-centroid rebuild; appended layout still DPPs") {
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString + "/idx"
    val standing = emb.filter(col("vec_id") < 300)
    val batch = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    Similarity.saveIvfIndex(standing, path, nList = 8, nIters = 1)
    Similarity.appendToIvfIndex(spark, path, batch)
    // the appended lists equal a one-pass assignment of the union under
    // the SAME stored centroids (assignment is per-row independent)
    val cent = Similarity.loadIvfCentroids(spark, path)
    def listRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("list_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val m18 = graft.ext.IndexLayout.requireManifest(spark, path,
      Similarity.IvfIndexFormat)
    val got = listRows(graft.ext.IndexLayout.readFrame(spark, path, m18, "lists"))
    val want = listRows(Similarity.ivfAssign(standing.unionByName(batch), cent))
    assert(got == want && want.nonEmpty)
    // the appended index is SERVED through the same pruned probe: DPP
    // still fires on the (partially appended) list_id directories, and
    // appended vectors are reachable as neighbors
    val queries = emb.filter(col("vec_id") < 10)
    val served = Similarity.ivfTopKFromIndex(spark, path, queries,
      k = 5, nProbe = 8)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"appended lists scan must keep the dynamic pruning filter:\n$plan")
    // nProbe = nList makes the probe exhaustive, so the served top-k is
    // exactly brute force over standing ∪ batch — appended rows included
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(key(served) ==
      key(Similarity.bruteForceTopK(standing.unionByName(batch), queries, k = 5)))
    // end-to-end pipeline identity row
    val row = graft.analytics.ExtPipelines.ivfIndexAppend(spark, sf()).collect()
    assert(row.length == 1 && row(0).getBoolean(1), row.mkString)
  }

  test("v19: IVF tombstones free top-k slots; compaction removes rows and spares untouched lists") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-del").toString
    val path = s"$root/idx"
    val standing = emb.filter(col("vec_id") < 300)
    val queries = emb.filter(col("vec_id") < 10)
    Similarity.saveIvfIndex(standing, path, nList = 8, nIters = 1)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // the doomed vector is query 0's CURRENT top neighbor, so the
    // delete must both remove it and REFILL the freed slot (nProbe =
    // nList ⇒ the probe is exhaustive and serve ≡ brute force)
    val doomedId = Similarity.bruteForceTopK(standing, queries, k = 1)
      .filter(col("query_id") === 0).collect()(0).getLong(1)
    assert(key(Similarity.ivfTopKFromIndex(spark, path, queries,
        k = 5, nProbe = 8)).exists(r => r._1 == 0L && r._2 == doomedId))
    // an EMPTY delete must leave no phantom tombstones (an
    // unpartitioned empty write would emit a footer'd file that reads
    // back as standing-tombstones-present, taxing every later serve)
    Similarity.deleteFromIvfIndex(
      emb.filter(col("vec_id") < 0).select("vec_id"), path)
    assert(Similarity.loadIvfTombstones(spark, path).isEmpty,
      "an empty delete must not create standing tombstones")
    Similarity.deleteFromIvfIndex(Seq(doomedId).toDF("vec_id"), path)
    val servedTomb = Similarity.ivfTopKFromIndex(spark, path, queries,
      k = 5, nProbe = 8)
    // DPP must survive the tombstone anti-join (it is applied ABOVE
    // the probe join, so the rule still sees scan-under-join)
    val plan = servedTomb.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"tombstoned serve must keep the dynamic pruning filter:\n$plan")
    val wantAfter =
      key(Similarity.bruteForceTopK(
        standing.filter(col("vec_id") =!= doomedId), queries, k = 5))
    assert(key(servedTomb) == wantAfter,
      "tombstoned serve must equal brute force over the survivors")
    // compaction: physical removal, pruned to the doomed vector's list
    def lists(p: String) = graft.ext.IndexLayout.readFrame(spark, p,
      graft.ext.IndexLayout.requireManifest(spark, p, Similarity.IvfIndexFormat),
      "lists")
    val doomedList = lists(path)
      .filter(col("vec_id") === doomedId)
      .select(col("list_id").cast("long")).collect()(0).getLong(0)
    val spared = new java.io.File(s"$path/lists/g0").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("list_id=") &&
        f.getName != s"list_id=$doomedList").head
    val sparedBefore = spared.listFiles().map(_.getName).toSet
    Similarity.compactIvfTombstones(spark, path)
    assert(spared.listFiles().map(_.getName).toSet == sparedBefore,
      "compaction must not rewrite lists holding no tombstoned ids")
    // tombstone DATA leaves the composition at the flip; the retired
    // dir survives one grace interval (IndexLayout contract)
    assert(lists(path).filter(col("vec_id") === doomedId).count() == 0)
    assert(Similarity.loadIvfTombstones(spark, path).isEmpty)
    assert(key(Similarity.ivfTopKFromIndex(spark, path, queries,
      k = 5, nProbe = 8)) == wantAfter)
    // fully-deleted list edge: an index whose one list loses every
    // vector must end with that list's directory GONE (a dynamic
    // partition overwrite would silently leave the stale files)
    val p2 = s"$root/idx2"
    Similarity.saveIvfIndex(standing, p2, nList = 8, nIters = 1)
    val lists2 = lists(p2)
    val (lid2, n2) = lists2.groupBy(col("list_id").cast("long").as("l"))
      .agg(count(lit(1)).as("n")).orderBy(col("n")).collect()(0) match {
        case r => (r.getLong(0), r.getLong(1))
      }
    val victims = lists2.filter(col("list_id").cast("long") === lid2)
      .select("vec_id")
    assert(victims.count() == n2)
    Similarity.deleteFromIvfIndex(victims, p2)
    Similarity.compactIvfTombstones(spark, p2)
    // the fully-deleted list leaves the COMPOSITION at the flip; its
    // directory survives the grace interval and the next compaction
    // physically drops it
    assert(lists(p2).filter(col("list_id").cast("long") === lid2).count() == 0,
      "a fully-deleted list must leave the composition")
    // TOTAL wipe-out: deleting EVERY vector must leave the lists
    // layout readable (emptiness is a manifest state) and serving empty
    Similarity.deleteFromIvfIndex(standing.select("vec_id"), p2)
    Similarity.compactIvfTombstones(spark, p2)
    assert(!new java.io.File(s"$p2/lists/g0/list_id=$lid2").exists(),
      "the second compaction must drop the dirs the first retired")
    assert(lists(p2).count() == 0,
      "an emptied lists layout must read as zero rows, not throw")
    assert(Similarity.ivfTopKFromIndex(spark, p2, queries,
      k = 5, nProbe = 8).count() == 0)
    // end-to-end pipeline identity row
    val row = graft.analytics.ExtPipelines.ivfIndexDelete(spark, sf()).collect()
    assert(row.length == 1 && row(0).getBoolean(1), row.mkString)
  }

  test("v20: IVF refresh swaps re-embedded vectors in place under the stored quantizer") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-refresh").toString
    val path = s"$root/idx"
    val standing = emb.filter(col("vec_id") < 300)
    Similarity.saveIvfIndex(standing, path, nList = 8, nIters = 1)
    // the epoch: id 5 leaves the corpus, id 7 is RE-EMBEDDED (new
    // vector borrowed from row 600 — a real unit vector the stored
    // quantizer has never assigned), ids [300, 305) arrive new. Id 7
    // re-uses its id: the case that forces the compact inside refresh.
    val reembedded = emb.filter(col("vec_id") === 600)
      .select(lit(7L).as("vec_id"), col("embedding"))
    val adds = emb.filter(col("vec_id") >= 300 && col("vec_id") < 305)
      .select("vec_id", "embedding")
    val admitted = reembedded.unionByName(adds)
    Similarity.refreshIvfIndex(spark, path,
      deletedIds = Seq(5L, 7L).toDF("vec_id"), admittedVecs = admitted)
    assert(Similarity.loadIvfTombstones(spark, path).isEmpty,
      "refresh must leave no standing tombstones")
    // identity: refreshed lists ≡ stored-quantizer assignment over
    // survivors ∪ admitted (per-row independent, so exact)
    val m20 = graft.ext.IndexLayout.requireManifest(spark, path,
      Similarity.IvfIndexFormat)
    val cent = graft.ext.IndexLayout.readFrame(spark, path, m20, "centroids")
    val nextCorpus = standing.filter(!col("vec_id").isin(5L, 7L))
      .select("vec_id", "embedding").unionByName(admitted)
    val cols = Seq(col("vec_id").cast("long"), col("list_id").cast("long"),
      col("embedding").cast("array<float>"))
    val want = Similarity.ivfAssign(nextCorpus, cent).select(cols: _*)
    val got = graft.ext.IndexLayout.readFrame(spark, path, m20, "lists")
      .select(cols: _*)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "refreshed lists must equal a same-quantizer assignment of the next corpus")
    // serve: the exhaustive probe over the refreshed index ≡ brute
    // force over the next corpus (id 7 found through its NEW vector)
    val queries = emb.filter(col("vec_id") < 3)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(key(Similarity.ivfTopKFromIndex(spark, path, queries,
        k = 5, nProbe = 8)) ==
      key(Similarity.bruteForceTopK(nextCorpus, queries, k = 5)))
  }

  test("v14: IVF-PQ neighbors come from probed lists; re-rank is exact-cosine ordered; recall floored") {
    VectorFunctions.register(spark)
    import org.apache.spark.sql.expressions.Window
    val queries = emb.filter(col("vec_id") < 10)
    val got = Similarity.ivfPqTopK(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.nonEmpty)
    // (1) containment: recompute coarse quantizer + probes with the
    // library's own pieces at the default settings (nList=8, nProbe=4);
    // every returned neighbor must sit in one of its query's probed lists
    val cent = Similarity.ivfCentroids(emb, nList = 8, nIters = 1)
    val assigned = Similarity.ivfAssign(emb, cent)
      .select(col("vec_id").as("neighbor_id"), col("list_id"))
    val centF = cent.select(col("list_id"),
      col("cvec").cast("array<float>").as("cvecf"))
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(broadcast(centF))
      .select(col("query_id"), col("list_id"),
        VectorFunctions.cosine(col("qv"), col("cvecf")).as("s"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("s").desc, col("list_id"))))
      .filter(col("rk") <= 4).select("query_id", "list_id")
    val allowed = probes.join(assigned, "list_id")
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    got.foreach { case (q, n, _) =>
      assert(allowed.contains((q, n)), s"($q,$n) outside probed lists")
    }
    // (2) the final re-rank is EXACT cosine: within each query's
    // returned set, rank order equals the exact-cosine order
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cosE(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    got.groupBy(_._1).foreach { case (q, rows) =>
      val byRank = rows.sortBy(_._3).map(_._2).toSeq
      val byCos = rows.map(t => (t._2, cosE(vecs(q), vecs(t._2))))
        .sortBy(t => (-t._2, t._1)).map(_._1).toSeq
      assert(byRank == byCos, s"query $q re-rank order")
    }
    // (3) recall floor vs brute force — random vectors are the worst
    // case for BOTH stacked approximations; real corpora cluster
    val bf = Similarity.bruteForceTopK(emb, queries, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall =
      (bf intersect got.map(t => (t._1, t._2)).toSet).size.toDouble / bf.size
    assert(recall >= 0.4, s"recall@5 = $recall")
  }

  test("x26: minhash index ingest — stored frames match memory; planted dups rejected") {
    import spark.implicits._
    val base = docs.select("doc_id", "text")
    val standing = base.filter(col("doc_id") < 150)
    val fresh = base.filter(col("doc_id") >= 150 && col("doc_id") < 200)
    val standTexts = standing.orderBy("doc_id").limit(2).collect()
      .map(_.getString(1))
    val freshFirst = fresh.orderBy("doc_id").limit(1).collect()
    val freshId = freshFirst(0).getLong(0)
    val planted = Seq(
      (9001L, standTexts(0)), // exact dup of a standing doc
      (9002L, standTexts(1)), // exact dup of a standing doc
      (9003L, freshFirst(0).getString(1))) // intra-batch dup, higher id
      .toDF("doc_id", "text")
    val batch = fresh.unionByName(planted)
    val path =
      java.nio.file.Files.createTempDirectory("graft-mh-spec").toString + "/idx"
    Dedup.saveMinhashIndex(standing, path)
    val (ib, ish, isz) = Dedup.loadMinhashIndex(spark, path)
    val fromIdx = Dedup.nearDupIngest(ib, ish, isz, batch)
      .collect().map(_.getLong(0)).toSet
    val (mb, msh, msz) = Dedup.minhashIndexFrames(standing)
    val mem = Dedup.nearDupIngest(mb, msh, msz, batch)
      .collect().map(_.getLong(0)).toSet
    msh.unpersist() // nearDupIngest is eager at its rejected-id set
    // the v12 discipline: stored and in-memory frames run the same
    // probe code; signatures/shingles round-trip parquet exactly
    assert(fromIdx == mem && fromIdx.nonEmpty)
    // exact dups of standing always collide (identical signatures) and
    // verify at j=1 — never admitted
    assert(!fromIdx.contains(9001L) && !fromIdx.contains(9002L))
    // intra-batch keep-first: the higher id of the pair is rejected,
    // the lower stays
    assert(!fromIdx.contains(9003L))
    assert(fromIdx.contains(freshId))
    // and the registered pipeline's fact row holds
    val row = graft.analytics.ExtPipelines.minhashIndexIngest(spark, sf())
      .collect()
    assert(row.length == 1 && row(0).getBoolean(1) && row(0).getLong(2) == 0L,
      row.mkString)
  }

  test("x26: stored index is doc-bucketed; the candidate probe partition-prunes the standing scan") {
    import spark.implicits._
    val standing = docs.select("doc_id", "text").filter(col("doc_id") < 150)
    val path =
      java.nio.file.Files.createTempDirectory("graft-mh-dpp").toString + "/idx"
    Dedup.saveMinhashIndex(standing, path)
    // layout: shingles and sizes land in bucket=N directories under
    // the fresh build's generation root — the precondition for
    // partition pruning
    for (sub <- Seq("shingles", "sizes")) {
      val d = new java.io.File(s"$path/$sub/g0")
      assert(d.listFiles().exists(f =>
        f.isDirectory && f.getName.startsWith("bucket=")), sub)
    }
    val (_, ish, _) = Dedup.loadMinhashIndex(spark, path)
    val candIds = Seq(3L, 7L, 11L).toDF("b_id").distinct()
    val candBuckets = candIds
      .select(pmod(xxhash64(col("b_id")), lit(Dedup.MinhashIndexBuckets))
        .cast("int").as("bk"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val pruned = Dedup.pruneStandingToCandidates(ish, candIds,
      useBroadcast = true, "doc_id", candBuckets)
    // the candidates' bucket list must land in the scan's
    // PartitionFilters — the scan then READS only those directories
    // (the v12 discipline; without it every ingest batch scans the
    // whole corpus-scale frame)
    val p = pruned.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator
      .find(l => l.contains("FileScan parquet") && l.contains("shingles"))
      .getOrElse(fail(s"no shingle scan in plan:\n$p"))
    assert(scanLine.matches(""".*PartitionFilters: \[[^\]]*bucket#\d+ IN.*"""),
      s"bucket IN (…) must be a partition filter on the standing scan:\n$scanLine")
    // the prune is a pure semi-join: exactly the candidates' rows
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("b_id"), col("shingle"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = key(ish.filter(col("doc_id").isin(3L, 7L, 11L))
      .withColumnRenamed("doc_id", "b_id"))
    assert(key(pruned) == want && want.nonEmpty)
    // the too-many-candidates fallback (no broadcast hint — AQE must
    // stay free to pick the join strategy) returns the same rows
    val fallback = Dedup.pruneStandingToCandidates(ish, candIds,
      useBroadcast = false, "doc_id", candBuckets)
    assert(key(fallback) == want)
  }

  test("x26c: appendToMinhashIndex equals a full rebuild; appended layout still prunes") {
    import spark.implicits._
    val standing = docs.select("doc_id", "text").filter(col("doc_id") < 150)
    val batch = docs.select("doc_id", "text")
      .filter(col("doc_id") >= 150 && col("doc_id") < 180)
    val root = java.nio.file.Files.createTempDirectory("graft-mh-append").toString
    Dedup.saveMinhashIndex(standing, s"$root/inc")
    Dedup.appendToMinhashIndex(batch, s"$root/inc")
    Dedup.saveMinhashIndex(standing.unionByName(batch), s"$root/rebuild")
    // frame-SET equality — the property that makes append serving-equal
    // to rebuild under ANY probe, not just one measured batch: every
    // index row is a per-doc function of the text, so
    // frames(standing ∪ batch) = frames(standing) ∪ frames(batch)
    val (ab, ash, asz) = Dedup.loadMinhashIndex(spark, s"$root/inc")
    val (rb, rsh, rsz) = Dedup.loadMinhashIndex(spark, s"$root/rebuild")
    def rows(df: org.apache.spark.sql.DataFrame) = {
      val cols = df.columns.sorted.map(col).toSeq
      df.select(cols: _*).collect().map(_.toSeq).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
    }
    assert(rows(ab) == rows(rb), "bands diverge from rebuild")
    assert(rows(ash) == rows(rsh), "shingles diverge from rebuild")
    assert(rows(asz) == rows(rsz), "sizes diverge from rebuild")
    // appended rows land in their idBucket partitions, so the
    // candidate-bucket literal filter keeps pruning them: probe with an
    // APPENDED doc's id and require both the PartitionFilters pin and
    // the appended rows in the result
    val candIds = Seq(160L).toDF("b_id")
    val candBuckets = candIds
      .select(pmod(xxhash64(col("b_id")), lit(Dedup.MinhashIndexBuckets))
        .cast("int").as("bk")).collect().map(_.getInt(0)).toSeq
    val pruned = Dedup.pruneStandingToCandidates(ash, candIds,
      useBroadcast = true, "doc_id", candBuckets)
    val scanLine = pruned.queryExecution.executedPlan.toString.linesIterator
      .find(l => l.contains("FileScan parquet") && l.contains("shingles"))
      .getOrElse(fail("no shingle scan in plan"))
    // one candidate bucket compiles to `bucket = N` instead of `IN`
    assert(scanLine.matches(""".*PartitionFilters: \[[^\]]*bucket#\d+ (IN|=).*"""),
      s"the bucket list must stay a partition filter on the appended layout:\n$scanLine")
    assert(pruned.count() ==
      ash.filter(col("doc_id") === 160L).count() && pruned.count() > 0)
    // the registered pipeline's identity row holds end-to-end
    val row = graft.analytics.ExtPipelines.minhashIndexAppend(spark, sf())
      .collect()
    assert(row.length == 1 && row(0).getBoolean(1), row.mkString)
  }

  test("langIdFrame: the staged form is value-identical to the single-Column langId") {
    import graft.ext.TextAnalysis
    val d = docs.select("doc_id", "text")
    val staged = TextAnalysis.langIdFrame(d).select("doc_id", "lang_pred")
    val inline = d.select(col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang_pred"))
    assert(graft.analytics.ExtPipelines.multisetEq(staged, inline))
    // the staging survives the optimizer: the executed plan computes
    // the tokenize ONCE (one `split(lower(` occurrence), where the
    // inline form re-evaluates it per reference
    val planStr = staged.queryExecution.executedPlan.toString
    val splits = "split\\(lower\\(".r.findAllIn(planStr).size
    assert(splits == 1, s"expected one staged tokenize, got $splits")
  }

  test("multisetEq: exactly the two-sided exceptAll boolean, including nulls and multiplicity") {
    import spark.implicits._
    def eqBoth(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Unit = {
      val expected = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      assert(graft.analytics.ExtPipelines.multisetEq(a, b) == expected,
        s"multisetEq diverged from two-sided exceptAll (expected $expected)")
    }
    val base = Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("k", "v")
    eqBoth(base, Seq((2L, "b"), (1L, "a"), (1L, "a")).toDF("k", "v")) // true
    eqBoth(base, Seq((1L, "a"), (2L, "b")).toDF("k", "v")) // multiplicity
    eqBoth(base, Seq((1L, "a"), (1L, "a"), (3L, "c")).toDF("k", "v")) // value
    eqBoth(base, base.limit(0)) // one side empty
    // NULL keys group and join NULL-SAFELY (<=>): equal multisets with
    // nulls must compare true — a plain equi-join would orphan them
    val withNullA = Seq((Some(1L), "a"), (None, "n"), (None, "n"))
      .toDF("k", "v")
    val withNullB = Seq((None, "n"), (Some(1L), "a"), (None, "n"))
      .toDF("k", "v")
    eqBoth(withNullA, withNullB) // true
    eqBoth(withNullA, Seq((Some(1L), "a"), (None, "n")).toDF("k", "v"))
    // nullability is not schema: a non-null long equals a nullable one
    eqBoth(base, withNullA.limit(0).union(base))
    // a user column may carry the old count-column names
    eqBoth(Seq((1L, 2L)).toDF("__ca", "__cb"), Seq((1L, 2L)).toDF("__ca", "__cb"))
    // column names, order or types that differ fail loudly, never compare
    Seq(Seq((1L, "a")).toDF("k", "w"), Seq(("a", 1L)).toDF("v", "k"),
        Seq((1, "a")).toDF("k", "v")).foreach { other =>
      val err = intercept[IllegalArgumentException](
        graft.analytics.ExtPipelines.multisetEq(base, other))
      assert(err.getMessage.contains("differ in schema"), err.getMessage)
    }
  }

  test("saveMinhashIndexFromFrames: a per-doc filter of shared frames equals a from-text build") {
    import spark.implicits._
    val corpus = docs.select("doc_id", "text").filter(col("doc_id") < 120)
    val keep = col("doc_id") < 60
    val root = java.nio.file.Files
      .createTempDirectory("graft-mh-fromframes").toString
    val (fb, fsh, fsz) = Dedup.minhashIndexFrames(corpus)
    Dedup.saveMinhashIndexFromFrames(fb.filter(keep), fsh.filter(keep),
      fsz.filter(keep), s"$root/shared", idBuckets = 4)
    fsh.unpersist()
    Dedup.saveMinhashIndex(corpus.filter(keep), s"$root/text", idBuckets = 4)
    val (ab, ash, asz) = Dedup.loadMinhashIndex(spark, s"$root/shared")
    val (tb, tsh, tsz) = Dedup.loadMinhashIndex(spark, s"$root/text")
    assert(graft.analytics.ExtPipelines.multisetEq(ab, tb), "bands diverge")
    assert(graft.analytics.ExtPipelines.multisetEq(ash, tsh), "shingles diverge")
    assert(graft.analytics.ExtPipelines.multisetEq(asz, tsz), "sizes diverge")
    // the manifests agree on every layout parameter
    assert(Dedup.minhashIndexParams(spark, s"$root/shared") ==
      Dedup.minhashIndexParams(spark, s"$root/text"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("appendToMinhashIndexFromFrames: equals the from-text append; refuses a family mismatch") {
    import spark.implicits._
    val standing = docs.select("doc_id", "text").filter(col("doc_id") < 100)
    val batch = docs.select("doc_id", "text")
      .filter(col("doc_id") >= 100 && col("doc_id") < 130)
    val root = java.nio.file.Files
      .createTempDirectory("graft-mh-appframes").toString
    Dedup.saveMinhashIndex(standing, s"$root/a")
    Dedup.saveMinhashIndex(standing, s"$root/b")
    Dedup.appendToMinhashIndex(batch, s"$root/a")
    val (bb, bsh, bsz) = Dedup.minhashIndexFrames(batch)
    Dedup.appendToMinhashIndexFromFrames(spark, s"$root/b", bb, bsh, bsz)
    val (ab, ash, asz) = Dedup.loadMinhashIndex(spark, s"$root/a")
    val (xb, xsh, xsz) = Dedup.loadMinhashIndex(spark, s"$root/b")
    assert(graft.analytics.ExtPipelines.multisetEq(ab, xb), "bands diverge")
    assert(graft.analytics.ExtPipelines.multisetEq(ash, xsh), "shingles diverge")
    assert(graft.analytics.ExtPipelines.multisetEq(asz, xsz), "sizes diverge")
    // frames computed under a DIFFERENT family must be refused loudly —
    // appending them would mis-sign every later probe
    val err = intercept[IllegalArgumentException] {
      Dedup.appendToMinhashIndexFromFrames(spark, s"$root/b", bb, bsh, bsz,
        numHashes = 8, bands = 4)
    }
    assert(err.getMessage.contains("mis-sign"))
    bsh.unpersist()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("nearDupIngestFromPath with pre-computed batch frames serves identically") {
    import spark.implicits._
    val standing = docs.select("doc_id", "text").filter(col("doc_id") < 150)
    val batch = docs.select("doc_id", "text").filter(col("doc_id") >= 150)
    val root = java.nio.file.Files
      .createTempDirectory("graft-mh-servebf").toString
    val path = s"$root/idx"
    Dedup.saveMinhashIndex(standing, path)
    val fromText = Dedup.nearDupIngestFromPath(spark, path, batch)
    val bf = Dedup.minhashIndexFrames(batch)
    val fromFrames = Dedup.nearDupIngestFromPath(spark, path, batch,
      batchFrames = Some(bf))
    bf._2.unpersist()
    assert(graft.analytics.ExtPipelines.multisetEq(fromText, fromFrames),
      "pre-computed batch frames changed the admitted set")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("nearDupIngestFromPath refuses batch frames signed under another family than the index stores") {
    val standing = docs.select("doc_id", "text").filter(col("doc_id") < 150)
    val batch = docs.select("doc_id", "text").filter(col("doc_id") >= 150)
    val root = java.nio.file.Files
      .createTempDirectory("graft-mh-servefam").toString
    try {
      val path = s"$root/idx"
      Dedup.saveMinhashIndex(standing, path, numHashes = 8, bands = 4)
      // default-family frames: (n, numHashes, bands, rows) = (3, 16, 8, 2)
      val bf = Dedup.minhashIndexFrames(batch)
      val err = intercept[IllegalArgumentException] {
        Dedup.nearDupIngestFromPath(spark, path, batch,
          batchFrames = Some(bf))
      }
      bf._2.unpersist()
      assert(err.getMessage.contains("numHashes"), err.getMessage)
      assert(err.getMessage.contains("mis-sign"), err.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("one near-dup probe: colliding, tombstoned and chained ids admit what fresh ids admit") {
    import spark.implicits._
    // planted texts: mutually shingle-disjoint, sharing no token with
    // the fixture corpus
    def text(p: String) = "abcdef".map(c => s"$p$c").mkString(" ")
    val (tS1, tS2, tX, tY) = (text("vv"), text("ww"), text("kk"), text("jj"))
    val root = java.nio.file.Files.createTempDirectory("graft-mh-probe").toString
    try {
      val path = s"$root/idx"
      val corpus = docs.select("doc_id", "text")
      Dedup.saveMinhashIndex(corpus.filter(col("doc_id") < 150)
        .unionByName(Seq((9100L, tS1), (9101L, tS2)).toDF("doc_id", "text")),
        path)
      Dedup.deleteFromMinhashIndex(Seq(9101L).toDF("doc_id"), path)
      val planted = Seq(
        (9100L, tX),  // the id of standing 9100 with another text
        (9150L, tX),  // in-batch dup of the lower batch id 9100
        (9101L, tY),  // the tombstoned id, reused
        (9160L, tY),  // in-batch dup of 9101
        (9170L, tS2), // dup of the tombstoned standing doc
        (9180L, tS1), // dup of standing 9100
        (9190L, tS1)) // dup of standing 9100 and of batch 9180
        .toDF("doc_id", "text")
      val batch = corpus.filter(col("doc_id") >= 150 && col("doc_id") < 200)
        .unionByName(planted)
      // the same batch under ids shifted past every stored and
      // tombstoned id: order is kept, so keep-first is unchanged
      val offset = 1000000L
      def admitted(b: org.apache.spark.sql.DataFrame, shift: Long): Set[Long] =
        Dedup.nearDupIngestFromPath(spark, path,
            b.withColumn("doc_id", col("doc_id") + shift))
          .as[Long].collect().map(_ - shift).toSet
      val got = admitted(batch, 0L)
      assert(got == admitted(batch, offset),
        "the admitted set depends on id collisions")
      // a batch id never stands for the standing doc it shares an id
      // with, and a tombstone strikes standing rows only: the reused
      // tombstoned id still rejects its higher-id in-batch dup
      assert(Set(9100L, 9101L, 9170L).subsetOf(got), got)
      assert((Set(9150L, 9160L, 9180L, 9190L) & got).isEmpty, got)
      // a batch with no band collisions at all admits every doc
      val lone = Seq((9200L, text("gg")), (9201L, text("hh")))
        .toDF("doc_id", "text")
      assert(admitted(lone, 0L) == Set(9200L, 9201L))
      assert(admitted(lone, offset) == Set(9200L, 9201L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("a near-dup serve submits fewer jobs: standing and in-batch candidates share one probe") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-mh-serve-jobs")
      .toString
    try {
      val path = s"$root/idx"
      val corpus = docs.select("doc_id", "text")
      Dedup.saveMinhashIndex(corpus.filter(col("doc_id") < 150), path)
      Dedup.appendToMinhashIndex(
        corpus.filter(col("doc_id") >= 150 && col("doc_id") < 170), path)
      Dedup.deleteFromMinhashIndex(Seq(4L).toDF("doc_id"), path)
      // fixture docs plus a planted in-batch dup of the first of them
      val fresh = corpus.filter(col("doc_id") >= 170 && col("doc_id") < 210)
      val batch = fresh.unionByName(
        fresh.filter(col("doc_id") === 170).withColumn("doc_id", lit(9003L)))
      var admitted = Set.empty[Long]
      val jobs = jobsSubmitted {
        admitted = Dedup.nearDupIngestFromPath(spark, path, batch)
          .as[Long].collect().toSet
      }
      assert(admitted.nonEmpty && !admitted.contains(9003L), admitted)
      // separate standing and in-batch verify pipelines took 35-36
      // jobs here, the one probe 29-30 (counts move by 1-2 per run)
      assert(jobs <= 32, s"one serve submitted $jobs jobs")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("inParallel: every closure completes before the first failure propagates, in argument order") {
    import graft.ext.IndexLayout
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      IndexLayout.inParallel[Int](Seq(
        () => { Thread.sleep(50); throw new IllegalStateException("first") },
        () => { Thread.sleep(400); slowDone.set(true); 2 },
        () => { Thread.sleep(100); throw new IllegalStateException("second") }))
    }
    // the FIRST failure in argument order is the one thrown, with every
    // later failure attached as suppressed rather than swallowed...
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    // ...and only after every sibling finished: no zombie staging
    // writer survives the call (the lease-release race ADVICE flagged)
    assert(slowDone.get,
      "inParallel propagated a failure while a sibling closure still ran")
    // the success path returns results in argument order
    assert(IndexLayout.inParallel(Seq(() => 1, () => 2, () => 3)) ==
      Seq(1, 2, 3))
  }

  test("x26d: tombstones un-reject immediately; compaction removes rows and spares untouched buckets") {
    import spark.implicits._
    def bucketOf(id: Long): Int = Seq(id).toDF("i")
      .select(pmod(xxhash64(col("i")), lit(Dedup.MinhashIndexBuckets))
        .cast("int")).head.getInt(0)
    // the donor is PLANTED: gibberish shingles shared with no fixture
    // doc, so after its delete NOTHING in standing can reject its dup
    // (a mined donor could keep rejecting through an exact or near-dup
    // twin — the fixture corpus carries both by design)
    val (donorId, donorText) =
      (9000L, "zyx wvu tsr qpo nml kji hgf edc ba")
    val standing = docs.select("doc_id", "text").filter(col("doc_id") < 150)
      .unionByName(Seq((donorId, donorText)).toDF("doc_id", "text"))
    val root = java.nio.file.Files.createTempDirectory("graft-mh-delete").toString
    val path = s"$root/idx"
    Dedup.saveMinhashIndex(standing, path)
    val dup = Seq((9001L, donorText)).toDF("doc_id", "text")
    val (b0, s0, z0) = Dedup.loadMinhashIndex(spark, path)
    assert(Dedup.nearDupIngest(b0, s0, z0, dup).count() == 0,
      "before the delete, the exact dup must be rejected")
    // an EMPTY delete must not create phantom standing tombstones (a
    // deletion-free refresh epoch relies on the bucket-partitioned
    // empty write leaving no footer — pin it against Spark changes)
    Dedup.deleteFromMinhashIndex(
      standing.filter(col("doc_id") < 0).select("doc_id"), path)
    assert(Dedup.loadMinhashTombstones(spark, path).isEmpty,
      "an empty delete must not create standing tombstones")
    // tombstone delete: REJECTION FLIPS TO ADMISSION with the standing
    // data untouched — deletion is semantically immediate
    Dedup.deleteFromMinhashIndex(Seq(donorId).toDF("doc_id"), path)
    val admittedTomb = Dedup.nearDupIngest(b0, s0, z0, dup,
      tombstones = Dedup.loadMinhashTombstones(spark, path))
    assert(admittedTomb.collect().map(_.getLong(0)).toSeq == Seq(9001L))
    // pin an UNTOUCHED bucket's physical files across the compaction:
    // pruned compaction must not rewrite (or even list) spared buckets
    val donorBucket = bucketOf(donorId)
    val spared = new java.io.File(s"$path/shingles/g0").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket=") &&
        f.getName != s"bucket=$donorBucket").head
    val sparedBefore = spared.listFiles().map(_.getName).toSet
    Dedup.compactMinhashTombstones(spark, path)
    assert(spared.listFiles().map(_.getName).toSet == sparedBefore,
      "compaction must not rewrite buckets with no tombstoned ids")
    // the tombstone DATA is cleared in the manifest flip; the retired
    // directory itself survives one compaction interval for in-flight
    // readers of the old manifest (the IndexLayout grace contract)
    assert(Dedup.loadMinhashTombstones(spark, path).isEmpty,
      "compaction must clear the tombstones from the composition")
    // physical removal: no trace of the donor in any frame; bare serve
    // (no tombstones) now admits the dup
    val (b1, s1, z1) = Dedup.loadMinhashIndex(spark, path)
    for ((f, nm) <- Seq((b1, "bands"), (s1, "shingles"), (z1, "sizes")))
      assert(f.filter(col("doc_id") === donorId).count() == 0, nm)
    assert(Dedup.loadMinhashTombstones(spark, path).isEmpty)
    assert(Dedup.nearDupIngest(b1, s1, z1, dup)
      .collect().map(_.getLong(0)).toSeq == Seq(9001L))
    // empty-bucket edge: a bucket whose EVERY row is deleted must end
    // with its directory gone (dynamic-overwrite-style compaction would
    // silently leave the stale files in place)
    val p2 = s"$root/idx2"
    val two = Seq((1L, "aa bb cc dd ee"), (2L, "ff gg hh ii jj"))
      .toDF("doc_id", "text")
    Dedup.saveMinhashIndex(two, p2)
    Dedup.deleteFromMinhashIndex(Seq(1L).toDF("doc_id"), p2)
    Dedup.compactMinhashTombstones(spark, p2)
    // after ONE compaction the fully-deleted bucket leaves the manifest
    // composition (reads exclude it) but its directory survives the
    // grace interval; the NEXT compaction physically drops it
    val (_, xs, _) = Dedup.loadMinhashIndex(spark, p2)
    assert(xs.filter(col("doc_id") === 1L).count() == 0 &&
      xs.filter(col("doc_id") === 2L).count() > 0)
    // TOTAL wipe-out: deleting EVERY remaining doc must leave the
    // layout readable — emptiness is a MANIFEST state (stored frame
    // schemas), not a magic anchor file: an empty index that admits
    // everything, not one that throws at schema inference
    Dedup.deleteFromMinhashIndex(Seq(2L).toDF("doc_id"), p2)
    Dedup.compactMinhashTombstones(spark, p2)
    if (bucketOf(1L) != bucketOf(2L))
      assert(!new java.io.File(s"$p2/shingles/g0/bucket=${bucketOf(1L)}").exists(),
        "the second compaction must drop the dirs the first retired")
    val (eb, es, ez) = Dedup.loadMinhashIndex(spark, p2)
    assert(eb.count() == 0 && es.count() == 0 && ez.count() == 0)
    assert(Dedup.nearDupIngest(eb, es, ez,
        Seq((5L, "aa bb cc dd ee")).toDF("doc_id", "text"))
      .collect().map(_.getLong(0)).toSeq == Seq(5L),
      "an emptied index must admit a dup of its deleted content")
    // the registered pipeline's identity row holds end-to-end
    val row = graft.analytics.ExtPipelines.minhashIndexDelete(spark, sf())
      .collect()
    assert(row.length == 1 && row(0).getBoolean(1), row.mkString)
  }

  test("x26e: refresh applies an epoch's decisions — removals un-reject, updates swap revisions, adds reject") {
    import spark.implicits._
    // four planted standing docs, mutually shingle-disjoint gibberish:
    // A will be REMOVED, B UPDATED (to the equally-disjoint B'),
    // C untouched, D arrives as an ADD
    val ta = "qqa qqb qqc qqd qqe qqf"
    val tb = "rra rrb rrc rrd rre rrf"
    val tb2 = "ssa ssb ssc ssd sse ssf"
    val tc = "tta ttb ttc ttd tte ttf"
    val td = "uua uub uuc uud uue uuf"
    val standing = Seq((1L, ta), (2L, tb), (3L, tc)).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft-mh-refresh").toString
    val path = s"$root/idx"
    Dedup.saveMinhashIndex(standing, path)
    // the epoch: delete {A, old-B}, admit {new-B, D} — note B RE-USES
    // its id, the case that forces the compact between delete and
    // append (a standing tombstone would shadow the re-appended rows)
    Dedup.refreshMinhashIndex(spark, path,
      deletedIds = Seq(1L, 2L).toDF("doc_id"),
      admittedDocs = Seq((2L, tb2), (4L, td)).toDF("doc_id", "text"))
    val (b1, s1, z1) = Dedup.loadMinhashIndex(spark, path)
    def admits(id: Long, text: String): Boolean =
      Dedup.nearDupIngest(b1, s1, z1, Seq((id, text)).toDF("doc_id", "text"))
        .count() == 1
    assert(admits(100L, ta), "a dup of the REMOVED doc must now admit")
    assert(admits(101L, tb), "a dup of the update's OLD revision must now admit")
    assert(!admits(102L, tb2), "a dup of the update's NEW revision must reject")
    assert(!admits(103L, tc), "a dup of the untouched survivor must still reject")
    assert(!admits(104L, td), "a dup of the ADDED doc must reject")
    assert(Dedup.loadMinhashTombstones(spark, path).isEmpty,
      "refresh must leave no standing tombstones")
    // frame-multiset identity vs a fresh build over the next snapshot
    val rbPath = s"$root/rebuild"
    Dedup.saveMinhashIndex(
      Seq((2L, tb2), (3L, tc), (4L, td)).toDF("doc_id", "text"), rbPath)
    val (rb, rs, rz) = Dedup.loadMinhashIndex(spark, rbPath)
    def eq(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(eq(b1, rb) && eq(s1, rs) && eq(z1, rz),
      "refreshed frames must equal a fresh build over the next snapshot")
    // the registered pipeline's identity row holds end-to-end
    val row = graft.analytics.ExtPipelines.minhashIndexRefresh(spark, sf())
      .collect()
    assert(row.length == 1 && row(0).getBoolean(1), row.mkString)
  }

  test("index manifest: layout parameters are stored per index; verbs fail loudly on foreign or missing manifests") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    val mh = s"$root/mh"
    val standing = docs.select("doc_id", "text").filter(col("doc_id") < 80)
    val batch = docs.select("doc_id", "text")
      .filter(col("doc_id") >= 80 && col("doc_id") < 120)
    // a NON-default bucket count is a stored build parameter
    Dedup.saveMinhashIndex(standing, mh, idBuckets = 7)
    val m = Dedup.minhashIndexParams(spark, mh)
    assert(m("buckets") == "7" && m("n") == "3" && m("numHashes") == "16" &&
      m("bands") == "8" && m("rows") == "2")
    // the layout really is 7-bucketed…
    val bucketDirs = new java.io.File(s"$mh/shingles/g0").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket=")).map(_.getName)
    assert(bucketDirs.nonEmpty &&
      bucketDirs.forall(_.stripPrefix("bucket=").toInt < 7))
    // …and bucketing is LAYOUT, not semantics: the path serve (which
    // reads the count back from the manifest) admits exactly what an
    // identically-parameterized default-count index admits
    val mhDef = s"$root/mh_def"
    Dedup.saveMinhashIndex(standing, mhDef)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val a7 = ids(Dedup.nearDupIngestFromPath(spark, mh, batch))
    assert(a7 == ids(Dedup.nearDupIngestFromPath(spark, mhDef, batch)) &&
      a7.nonEmpty)
    // maintenance against a path with NO manifest fails loudly (the
    // pre-manifest failure mode was a silent mis-bucketed append)
    val raw = s"$root/raw"
    standing.write.parquet(raw)
    val e1 = intercept[IllegalStateException] {
      Dedup.appendToMinhashIndex(batch, raw)
    }
    assert(e1.getMessage.contains("no _manifest.json"), e1.getMessage)
    // cross-family: a MinHash verb pointed at an IVF index (and the
    // reverse) refuses instead of misreading the layout
    val ivf = s"$root/ivf"
    Similarity.saveIvfIndex(emb.filter(col("vec_id") < 100), ivf,
      nList = 4, nIters = 1)
    val e2 = intercept[IllegalStateException] {
      Dedup.deleteFromMinhashIndex(Seq(1L).toDF("doc_id"), ivf)
    }
    assert(e2.getMessage.contains(Similarity.IvfIndexFormat), e2.getMessage)
    val e3 = intercept[IllegalStateException] {
      Similarity.appendToIvfIndex(spark, mh,
        emb.filter(col("vec_id") < 1))
    }
    assert(e3.getMessage.contains(Dedup.MinhashIndexFormat), e3.getMessage)
    // IVF params are stored too, and the dim guard is loud: a probe
    // embedded at the wrong dimension would otherwise score a
    // silently-wrong truncated cosine
    val mi = Similarity.ivfIndexParams(spark, ivf)
    assert(mi("metric") == "cosine" && mi("nList") == "4" &&
      mi("dim").toInt == 64)
    val wrongDim = Seq((9000L, Array(0.1f, 0.2f))).toDF("vec_id", "embedding")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq() else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val e5 = intercept[Exception] {
      Similarity.ivfTopKFromIndex(spark, ivf, wrongDim).collect()
    }
    assert(msgs(e5).exists(_.contains("dimension")), msgs(e5).mkString(" | "))
    // a manifest written by NEWER code is refused, not misread
    val newer = graft.ext.IndexLayout.readManifest(spark, mh).get +
      ("schemaVersion" -> "99")
    graft.ext.IndexLayout.writeManifest(spark, mh, newer)
    val e4 = intercept[IllegalStateException] {
      Dedup.loadMinhashIndex(spark, mh)
    }
    assert(e4.getMessage.contains("newer"), e4.getMessage)
  }

  test("one relation per index frame: the IVF serve plans one lists scan with DPP whatever the composition") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-one-rel")
      .toString + "/idx"
    Similarity.saveIvfIndex(emb.filter(col("vec_id") < 200), path,
      nList = 8, nIters = 1)
    Seq((200, 250), (250, 300), (300, 350)).foreach { case (lo, hi) =>
      Similarity.appendToIvfIndex(spark, path,
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi))
    }
    Similarity.deleteFromIvfIndex(Seq(3L, 260L).toDF("vec_id"), path)
    val m = Similarity.ivfIndexParams(spark, path)
    assert(graft.ext.IndexLayout.batchRootCount(m, "lists") == 3)
    val queries = emb.filter(col("vec_id") < 5)
    val served = Similarity.ivfTopKFromIndex(spark, path, queries,
      k = 5, nProbe = 8)
    val plan = served.queryExecution.executedPlan.toString
    val listScans = plan.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("/lists/"))
      .toSeq
    assert(listScans.size == 1,
      s"expected one lists scan over g0 + 3 batch roots:\n$plan")
    assert(listScans.head.toLowerCase.contains("dynamicpruning"),
      s"the lists scan must carry the dynamic pruning filter:\n$plan")
    // nProbe = nList: the one scan serves exactly brute force over the
    // live vectors
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(key(served) == key(Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 350 && !col("vec_id").isin(3L, 260L)),
      queries, k = 5)))
  }

  test("one relation per index frame: reading a 64-bucket MinHash index over batch roots submits no Spark job") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-no-jobs")
      .toString + "/idx"
    val corpus = docs.select("doc_id", "text")
    Dedup.saveMinhashIndex(corpus.filter(col("doc_id") < 150), path)
    Seq((150, 170), (170, 190), (190, 210)).foreach { case (lo, hi) =>
      Dedup.appendToMinhashIndex(
        corpus.filter(col("doc_id") >= lo && col("doc_id") < hi), path)
    }
    Dedup.deleteFromMinhashIndex(Seq(4L).toDF("doc_id"), path)
    val m = Dedup.minhashIndexParams(spark, path)
    assert(m("buckets") == "64", m("buckets"))
    assert(graft.ext.IndexLayout.batchRootCount(m, "shingles") >= 3)
    // past 32 root paths Spark would list with a job, and a footer read
    // to infer a schema is a job too: the read must do neither
    var frames = Seq.empty[org.apache.spark.sql.DataFrame]
    val jobs = jobsSubmitted {
      frames = Seq("bands", "shingles", "sizes", "tombstones").map(
        graft.ext.IndexLayout.readFrame(spark, path, m, _))
    }
    assert(jobs == 0, s"reading the index frames submitted $jobs jobs")
    val nDocs = corpus.filter(col("doc_id") < 210).count()
    // the counter does count: the first action on a frame submits jobs
    assert(jobsSubmitted(assert(frames(2).count() == nDocs)) > 0)
    assert(frames(3).collect().map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("compiled code is reused across index days: the second day's serves compile almost nothing") {
    import spark.implicits._
    import org.apache.spark.metrics.source.CodegenMetrics
    val root = java.nio.file.Files.createTempDirectory("graft-codegen-reuse")
      .toString
    val (mh, ivf) = (s"$root/mh", s"$root/ivf")
    val corpus = docs.select("doc_id", "text")
    Dedup.saveMinhashIndex(corpus.filter(col("doc_id") < 150), mh)
    Similarity.saveIvfIndex(emb.filter(col("vec_id") < 150), ivf,
      nList = 4, nIters = 1)
    // a day's batch is a local relation: no day's bounds land in
    // generated code as literals
    def local(df: org.apache.spark.sql.DataFrame) =
      spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
    def batch(lo: Int) = (
      local(corpus.filter(col("doc_id") >= lo && col("doc_id") < lo + 20)),
      local(emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 20)))
    def compiles(body: => Unit): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    def serve(lo: Int): Seq[Long] = {
      val (d, v) = batch(lo)
      Similarity.ivfTopKFromIndex(spark, ivf, v, k = 5, nProbe = 4).collect()
      Dedup.nearDupIngestFromPath(spark, mh, d).select("doc_id").as[Long]
        .collect().toSeq
    }
    def appendAndDelete(lo: Int, admitted: Seq[Long], gone: Long): Unit = {
      val (d, v) = batch(lo)
      Dedup.appendToMinhashIndex(d.filter(col("doc_id").isin(admitted: _*)), mh)
      Similarity.appendToIvfIndex(spark, ivf,
        v.filter(col("vec_id").isin(admitted: _*)))
      Dedup.deleteFromMinhashIndex(Seq(gone).toDF("doc_id"), mh)
      Similarity.deleteFromIvfIndex(Seq(gone).toDF("vec_id"), ivf)
    }
    // tombstones exist before the first serve, so both days serve the
    // same plan shape
    appendAndDelete(130, Nil, 0L)
    appendAndDelete(150, serve(150), 1L)
    val second = compiles(serve(170))
    assert(second <= 12, s"the second day's serves compiled $second classes")
    // the counter does count: a fresh literal is new generated code
    assert(compiles(spark.range(3).selectExpr(s"id + ${System.nanoTime()}")
      .collect()) > 0)
  }

  test("a delete stages its tombstones with one write and no probe job") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-delete-jobs")
      .toString
    val (mh, ivf) = (s"$root/mh", s"$root/ivf")
    Dedup.saveMinhashIndex(docs.select("doc_id", "text")
      .filter(col("doc_id") < 100), mh)
    Similarity.saveIvfIndex(emb.filter(col("vec_id") < 100), ivf,
      nList = 4, nIters = 1)
    val ids = (1L to 10L).toSeq
    // the distinct's shuffle and the write: no persist-and-take probe
    val mhJobs = jobsSubmitted(Dedup.deleteFromMinhashIndex(ids.toDF("doc_id"), mh))
    val ivfJobs = jobsSubmitted(Similarity.deleteFromIvfIndex(ids.toDF("vec_id"), ivf))
    assert(mhJobs <= 2 && ivfJobs <= 2,
      s"deletes took $mhJobs (MinHash) and $ivfJobs (IVF) jobs")
    assert(Dedup.loadMinhashTombstones(spark, mh).get.as[Long].collect()
      .toSet == ids.toSet)
    assert(Similarity.loadIvfTombstones(spark, ivf).get.as[Long].collect()
      .toSet == ids.toSet)
  }

  test("one relation per index frame: a mixed composition reads exactly its committed rows") {
    import spark.implicits._
    import graft.ext.IndexLayout
    val path = java.nio.file.Files.createTempDirectory("graft-mixed")
      .toString + "/idx"
    def write(df: org.apache.spark.sql.DataFrame, dir: String,
        part: Option[String]): Unit =
      part.fold(df.write.parquet(s"$path/$dir"))(p =>
        df.write.partitionBy(p).parquet(s"$path/$dir"))
    val rows = Seq("g0" -> Seq((1L, "a", 0), (2L, "b", 1)),
      "a1" -> Seq((3L, "c", 1)),
      "g1" -> Seq((4L, "d", 2), (5L, "e", 3)))
    rows.foreach { case (root, rs) =>
      write(rs.toDF("id", "v", "bucket"), s"t/$root", Some("bucket"))
    }
    // a killed write's output under a hidden directory is not committed
    write(Seq((99L, "z", 0)).toDF("id", "v", "bucket"),
      "t/g0/_temporary/0", Some("bucket"))
    // tombstones: a legacy batch_id=N directory inside the old open
    // root, plus a batch root of bare files
    write(Seq(7L).toDF("id"), "tombstones/g0/batch_id=0", None)
    write(Seq(8L).toDF("id"), "tombstones/a2", None)
    val schemas = Map(
      "t" -> org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, v STRING, bucket INT"),
      "tombstones" -> org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT"))
    // g1 holds buckets 2 and 3, but only its bucket=2 partition is an
    // entry (a compaction kept it sealed); g2 is an open root nothing
    // was written to
    val m = IndexLayout.newManifest("test-mixed", Map.empty, schemas) ++ Map(
      "frames.t" -> "t/g0,t/a1,t/g1/bucket=2,t/g2",
      "frames.tombstones" -> "tombstones/g0,tombstones/a2,tombstones/g1")
    val t = IndexLayout.readFrame(spark, path, m, "t")
    assert(t.schema == IndexLayout.frameSchema(m, "t"), t.schema.treeString)
    assert(t.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .sortBy(_._1).toSeq ==
      Seq((1L, "a", 0), (2L, "b", 1), (3L, "c", 1), (4L, "d", 2)))
    val tomb = IndexLayout.readFrame(spark, path, m, "tombstones")
    assert(tomb.schema == IndexLayout.frameSchema(m, "tombstones"),
      tomb.schema.treeString)
    assert(tomb.collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 8L))
    // an entry list with no committed data reads the empty frame
    val empty = IndexLayout.readFrame(spark, path,
      m + ("frames.t" -> "t/g2"), "t")
    assert(empty.schema == IndexLayout.frameSchema(m, "t") && empty.isEmpty)
  }

  test("compaction is lock-free for readers: a plan resolved before the flip serves the pre-flip answer after it") {
    import spark.implicits._
    VectorFunctions.register(spark)
    val root = java.nio.file.Files.createTempDirectory("graft-online").toString
    // --- IVF: the in-flight reader is a serve whose parquet file
    // listings were pinned (at read()/plan time) BEFORE the compaction
    // flipped the manifest — exactly the state of a query (or a
    // foreachBatch micro-batch, which runs this same serve code) that
    // started just before the flip. The generation discipline keeps
    // its files alive for one grace interval, so executing it AFTER
    // the flip returns the exact pre-flip answer — no torn mix, no
    // vanished-file crash. Pre ≡ post here BY the merge-on-read
    // identity; the property under test is consistency, not the value.
    val ipath = s"$root/ivf"
    val standing = emb.filter(col("vec_id") < 300)
    val queries = emb.filter(col("vec_id") < 5)
    Similarity.saveIvfIndex(standing, ipath, nList = 8, nIters = 1)
    Similarity.deleteFromIvfIndex(
      standing.filter(col("vec_id") >= 250).select("vec_id"), ipath)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = key(Similarity.bruteForceTopK(
      standing.filter(col("vec_id") < 250), queries, k = 5))
    val inFlight = Similarity.ivfTopKFromIndex(spark, ipath, queries,
      k = 5, nProbe = 8) // plan + file listings resolved HERE
    Similarity.compactIvfTombstones(spark, ipath) // …the flip happens…
    assert(key(inFlight) == want,
      "in-flight serve must return the exact pre-flip answer")
    assert(key(Similarity.ivfTopKFromIndex(spark, ipath, queries,
      k = 5, nProbe = 8)) == want,
      "a fresh post-flip serve must return the post-compaction answer")
    // --- MinHash: same shape — frames loaded (file listings pinned)
    // before the flip, the ingest call runs after it
    val mpath = s"$root/mh"
    val donorText = "zzq zzw zze zzr zzt zzy"
    val corpus = docs.select("doc_id", "text").filter(col("doc_id") < 120)
      .unionByName(Seq((9000L, donorText)).toDF("doc_id", "text"))
    Dedup.saveMinhashIndex(corpus, mpath)
    Dedup.deleteFromMinhashIndex(Seq(9000L).toDF("doc_id"), mpath)
    val (fb, fsh, fsz) = Dedup.loadMinhashIndex(spark, mpath) // pinned
    val tomb = Dedup.loadMinhashTombstones(spark, mpath)      // pinned
    Dedup.compactMinhashTombstones(spark, mpath)              // the flip
    val dup = Seq((9001L, donorText)).toDF("doc_id", "text")
    assert(Dedup.nearDupIngest(fb, fsh, fsz, dup, tombstones = tomb)
      .collect().map(_.getLong(0)).toSeq == Seq(9001L),
      "in-flight ingest must serve the pre-flip frames + tombstones")
    assert(Dedup.nearDupIngestFromPath(spark, mpath, dup)
      .collect().map(_.getLong(0)).toSeq == Seq(9001L),
      "post-flip ingest must serve the compacted index")
    // the post-compaction composition spans several roots (sealed
    // unaffected buckets in g0, the open g1 when the compaction staged
    // survivors, and the batch root of a fresh doc appended after the
    // flip — the day-after-compaction shape), read as ONE relation:
    // exactly one shingles scan, whose files come from every root that
    // holds data, and the candidate-bucket literal filter lands in that
    // scan's PartitionFilters, so compaction cannot cost the serve its
    // pruned reads
    Dedup.appendToMinhashIndex(
      Seq((9100L, "vvb vvc vvd vve vvf vvg")).toDF("doc_id", "text"), mpath)
    val (_, csh, _) = Dedup.loadMinhashIndex(spark, mpath)
    val candIds2 = Seq(3L, 7L).toDF("b_id")
    val candBuckets2 = candIds2
      .select(Dedup.idBucket(col("b_id"),
        Dedup.minhashIndexParams(spark, mpath)("buckets").toInt).as("bk"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val prunedPlan = Dedup.pruneStandingToCandidates(csh, candIds2,
      useBroadcast = true, "doc_id", candBuckets2)
      .queryExecution.executedPlan.toString
    val shingleScans = prunedPlan.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("shingles"))
      .toSeq
    assert(shingleScans.size == 1,
      s"expected one shingles scan over the whole composition:\n$prunedPlan")
    assert(shingleScans.head.matches(
        """.*PartitionFilters: \[[^\]]*bucket#\d+ (IN|=).*"""),
      s"bucket filter must prune the shingles scan:\n${shingleScans.head}")
    val shEntries = graft.ext.IndexLayout.frameEntries(
        Dedup.minhashIndexParams(spark, mpath), "shingles")
      .filter(e => graft.ext.IndexFs.hasParquetData(spark, s"$mpath/$e"))
    assert(shEntries.exists(_.startsWith("shingles/g0/")) &&
      shEntries.map(_.split("/")(1)).distinct.size >= 2, shEntries)
    shEntries.foreach(e =>
      assert(csh.inputFiles.exists(_.contains(s"/$e/")),
        s"the shingles relation must read $e:\n${csh.inputFiles.mkString("\n")}"))
    // SAME-PATH rebuild under the stored quantizer — the natural
    // scheduled-retrain call shape: the lazily-loaded centroids read
    // the very files the save wipes, so the save must pin them
    // eagerly first (or this call destroys the index it rebuilds)
    val cent0 = Similarity.loadIvfCentroids(spark, ipath)
      .collect().map(r => r.getLong(0)).toSet
    Similarity.saveIvfIndexWithCentroids(
      standing.filter(col("vec_id") < 250),
      Similarity.loadIvfCentroids(spark, ipath), ipath)
    assert(Similarity.loadIvfCentroids(spark, ipath)
      .collect().map(r => r.getLong(0)).toSet == cent0,
      "same-path rebuild must preserve the stored quantizer")
    assert(key(Similarity.ivfTopKFromIndex(spark, ipath, queries,
      k = 5, nProbe = 8)) == want,
      "same-path rebuild must serve the survivors")
  }

  test("v21: int8-stored IVF index serves rank-identically; maintenance verbs carry the fp frame through append/delete/compact") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-int8").toString
    val standing = emb.filter(col("vec_id") < 300)
    val batch = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val queries = emb.filter(col("vec_id") < 10)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // build both storages under the SAME quantizer
    val fpPath = s"$root/fp"
    Similarity.saveIvfIndex(standing, fpPath, nList = 8, nIters = 1)
    val qPath = s"$root/int8"
    Similarity.saveIvfIndexWithCentroids(standing,
      Similarity.loadIvfCentroids(spark, fpPath), qPath, storage = "int8")
    assert(Similarity.ivfIndexParams(spark, qPath)("storage") == "int8")
    assert(Similarity.ivfIndexParams(spark, fpPath)("storage") == "fp")
    // per-index layout versioning: int8 layouts are written at
    // schemaVersion 2, so a pre-int8 (version-1) binary REFUSES them
    // instead of appending fp rows into a quantized frame, while plain
    // layouts stay version 1 and readable everywhere
    assert(Similarity.ivfIndexParams(spark, qPath)("schemaVersion") == "2")
    assert(Similarity.ivfIndexParams(spark, fpPath)("schemaVersion") == "1")
    // rank-identity at partial AND exhaustive probes
    for (np <- Seq(4, 8))
      assert(key(Similarity.ivfTopKFromIndex(spark, qPath, queries,
          k = 5, nProbe = np)) ==
        key(Similarity.ivfTopKFromIndex(spark, fpPath, queries,
          k = 5, nProbe = np)),
        s"int8 serve must be rank-identical to fp at nProbe=$np")
    // the probe frame really is int8 (tinyint payload, no fp vectors)
    val m21 = graft.ext.IndexLayout.requireManifest(spark, qPath,
      Similarity.IvfIndexFormat)
    val qSchema = graft.ext.IndexLayout.frameSchema(m21, "lists")
    assert(qSchema.fieldNames.toSet == Set("vec_id", "qscale", "qvec", "list_id")
      && qSchema("qvec").dataType.simpleString == "array<tinyint>",
      s"quantized lists schema: $qSchema")
    // append goes through both frames and stays serve-identical
    Similarity.appendToIvfIndex(spark, qPath, batch)
    Similarity.appendToIvfIndex(spark, fpPath, batch)
    assert(key(Similarity.ivfTopKFromIndex(spark, qPath, queries,
        k = 5, nProbe = 8)) ==
      key(Similarity.ivfTopKFromIndex(spark, fpPath, queries,
        k = 5, nProbe = 8)),
      "appended int8 index must stay rank-identical")
    // delete + compact remove the doomed vector from BOTH frames
    val doomedId = Similarity.bruteForceTopK(
        standing.unionByName(batch), queries, k = 1)
      .filter(col("query_id") === 0).collect()(0).getLong(1)
    Similarity.deleteFromIvfIndex(Seq(doomedId).toDF("vec_id"), qPath)
    val wantAfter = key(Similarity.bruteForceTopK(
      standing.unionByName(batch).filter(col("vec_id") =!= doomedId),
      queries, k = 5))
    assert(key(Similarity.ivfTopKFromIndex(spark, qPath, queries,
      k = 5, nProbe = 8)) == wantAfter,
      "tombstoned int8 serve must refill the freed slot")
    Similarity.compactIvfTombstones(spark, qPath)
    val m21b = graft.ext.IndexLayout.requireManifest(spark, qPath,
      Similarity.IvfIndexFormat)
    for (f <- Seq("lists", "fp"))
      assert(graft.ext.IndexLayout.readFrame(spark, qPath, m21b, f)
        .filter(col("vec_id") === doomedId).count() == 0,
        s"compaction must remove the doomed row from the $f frame")
    assert(key(Similarity.ivfTopKFromIndex(spark, qPath, queries,
      k = 5, nProbe = 8)) == wantAfter,
      "compacted int8 serve must be unchanged")
    // the registered pipeline's identity row holds end-to-end
    val row = graft.analytics.ExtPipelines.ivfIndexQuantized(spark, sf())
      .collect()
    assert(row.length == 1 && row(0).getBoolean(1), row.mkString)
  }

  test("v22: pq-stored IVF index serves rank-identically at the registered overFetch; CRUD carries fp and codebook through append/delete/compact") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-pq-idx").toString
    val standing = emb.filter(col("vec_id") < 300)
    val batch = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
    val queries = emb.filter(col("vec_id") < 10)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fpPath = s"$root/fp"
    Similarity.saveIvfIndex(standing, fpPath, nList = 8, nIters = 1)
    val qPath = s"$root/pq"
    Similarity.saveIvfIndexWithCentroids(standing,
      Similarity.loadIvfCentroids(spark, fpPath), qPath, storage = "pq")
    val ps = Similarity.ivfIndexParams(spark, qPath)
    assert(ps("storage") == "pq" && ps("schemaVersion") == "3" &&
      ps("numSub") == "8" && ps("numCents") == "256", ps.toString)
    // the probe frame really is packed codes: one long + norm, no
    // vector floats at all
    val mPq = graft.ext.IndexLayout.requireManifest(spark, qPath,
      Similarity.IvfIndexFormat)
    val ls = graft.ext.IndexLayout.frameSchema(mPq, "lists")
    assert(ls.fieldNames.toSet == Set("vec_id", "code", "vnorm", "list_id")
      && ls("code").dataType.simpleString == "bigint", s"pq lists schema: $ls")
    // rank-identity to the fp serve at partial AND exhaustive probes
    for (np <- Seq(4, 8))
      assert(key(Similarity.ivfTopKFromIndex(spark, qPath, queries,
          k = 5, nProbe = np, overFetch = 32)) ==
        key(Similarity.ivfTopKFromIndex(spark, fpPath, queries,
          k = 5, nProbe = np)),
        s"pq serve must be rank-identical to fp at nProbe=$np")
    // append encodes with the STORED codebook and stays serve-identical
    Similarity.appendToIvfIndex(spark, qPath, batch)
    Similarity.appendToIvfIndex(spark, fpPath, batch)
    assert(key(Similarity.ivfTopKFromIndex(spark, qPath, queries,
        k = 5, nProbe = 8, overFetch = 32)) ==
      key(Similarity.ivfTopKFromIndex(spark, fpPath, queries,
        k = 5, nProbe = 8)),
      "appended pq index must stay rank-identical")
    // delete + compact remove the doomed vector from BOTH data frames;
    // the codebook (like the centroids) carries through the flip
    val doomedId = Similarity.bruteForceTopK(
        standing.unionByName(batch), queries, k = 1)
      .filter(col("query_id") === 0).collect()(0).getLong(1)
    Similarity.deleteFromIvfIndex(Seq(doomedId).toDF("vec_id"), qPath)
    val wantAfter = key(Similarity.bruteForceTopK(
      standing.unionByName(batch).filter(col("vec_id") =!= doomedId),
      queries, k = 5))
    assert(key(Similarity.ivfTopKFromIndex(spark, qPath, queries,
      k = 5, nProbe = 8, overFetch = 32)) == wantAfter,
      "tombstoned pq serve must refill the freed slot")
    Similarity.compactIvfTombstones(spark, qPath)
    val mPq2 = graft.ext.IndexLayout.requireManifest(spark, qPath,
      Similarity.IvfIndexFormat)
    for (f <- Seq("lists", "fp"))
      assert(graft.ext.IndexLayout.readFrame(spark, qPath, mPq2, f)
        .filter(col("vec_id") === doomedId).count() == 0,
        s"compaction must remove the doomed row from the $f frame")
    assert(graft.ext.IndexLayout.readFrame(spark, qPath, mPq2, "codebook")
      .count() == 1, "the stored codebook must survive the flip")
    assert(key(Similarity.ivfTopKFromIndex(spark, qPath, queries,
      k = 5, nProbe = 8, overFetch = 32)) == wantAfter,
      "compacted pq serve must be unchanged")
    // the registered rows hold end-to-end
    val row = graft.analytics.ExtPipelines.ivfIndexPq(spark, sf()).collect()
    assert(row.length == 1 && row(0).getBoolean(1), row.mkString)
    val recall = graft.analytics.ExtPipelines
      .ivfIndexPqRecallBounded(spark, sf()).collect()
    assert(recall.nonEmpty && recall.forall(_.getBoolean(1)),
      s"v22b floor violated: ${recall.mkString(",")}")
  }

  test("int8 serve accepts non-Long query ids like the fp serve (inline re-rank path)") {
    VectorFunctions.register(spark)
    val root = java.nio.file.Files.createTempDirectory("graft-int8-qid").toString
    val standing = emb.filter(col("vec_id") < 300)
    // int query ids: query_id is only a grouping column, so the serve
    // contract is id-type-agnostic on the query side (up to the
    // self-match compare coercing against the corpus id type) — the
    // inline literal-pruned re-rank (the common, ≤10k-candidate case)
    // used to getLong() both columns and threw ClassCastException here
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").cast("int").as("vec_id"), col("embedding"))
    val fpPath = s"$root/fp"
    Similarity.saveIvfIndex(standing, fpPath, nList = 8, nIters = 1)
    val qPath = s"$root/int8"
    Similarity.saveIvfIndexWithCentroids(standing,
      Similarity.loadIvfCentroids(spark, fpPath), qPath, storage = "int8")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
    val got = key(Similarity.ivfTopKFromIndex(spark, qPath, queries,
      k = 5, nProbe = 8))
    assert(got == key(Similarity.ivfTopKFromIndex(spark, fpPath, queries,
      k = 5, nProbe = 8)),
      "int8 serve with int query ids must match the fp serve")
    assert(got.size == 50)
  }

  test("index lifecycle: repeated delete/compact cycles keep the composition bounded, drop retired dirs, and serve correctly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cycles").toString
    val path = s"$root/idx"
    // 8 planted shingle-disjoint docs; one leaves per cycle
    val texts = (0 until 8).map(i =>
      (i.toLong, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f"))
    Dedup.saveMinhashIndex(texts.toDF("doc_id", "text"), path, idBuckets = 5)
    val buckets = 5
    var prevRetired = Seq.empty[String]
    for (cycle <- 0 until 5) {
      Dedup.deleteFromMinhashIndex(Seq(cycle.toLong).toDF("doc_id"), path)
      Dedup.compactMinhashTombstones(spark, path)
      val m = graft.ext.IndexLayout.readManifest(spark, path).get
      // generation advances once per cycle; composition stays bounded
      // by partitions + 1 for every frame regardless of cycle count
      assert(m("gen").toInt == cycle + 1)
      for (f <- Seq("shingles", "sizes"))
        assert(graft.ext.IndexLayout.frameEntries(m, f).size <= buckets + 1,
          s"cycle $cycle frame $f composition must stay bounded")
      for (f <- Seq("bands", "tombstones"))
        assert(graft.ext.IndexLayout.frameEntries(m, f).size == 1,
          s"cycle $cycle frame $f is whole-rewrite/drop — one entry")
      // the PREVIOUS cycle's retired dirs are physically gone (grace
      // expired at this cycle's start); this cycle's still exist
      prevRetired.foreach(d =>
        assert(!new java.io.File(s"$path/$d").exists(),
          s"cycle $cycle: retired dir $d must be dropped after one cycle"))
      prevRetired = m("retired").split(",").filter(_.nonEmpty).toSeq
      prevRetired.foreach(d =>
        assert(new java.io.File(s"$path/$d").exists(),
          s"cycle $cycle: freshly retired dir $d keeps its grace interval"))
      // serving stays exactly right: dups of every deleted doc admit,
      // a dup of a survivor rejects
      val probes = ((0 to cycle).map(i => (100L + i, texts(i)._2)) :+
        (200L, texts(7)._2)).toDF("doc_id", "text")
      val admitted = Dedup.nearDupIngestFromPath(spark, path, probes)
        .collect().map(_.getLong(0)).toSet
      assert(admitted == (0 to cycle).map(100L + _).toSet,
        s"cycle $cycle: deleted docs must admit, survivors must reject")
    }
  }

  test("index lifecycle with INTERLEAVED appends: compaction folds generation-split partitions, composition stays bounded") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-fold").toString
    val path = s"$root/idx"
    val buckets = 5
    def doc(i: Long) = (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f")
    Dedup.saveMinhashIndex((0L until 4L).map(doc).toDF("doc_id", "text"),
      path, idBuckets = buckets)
    // each cycle APPENDS two docs (they land in the then-open
    // generation root), deletes one old doc, then compacts — the
    // append+localized-delete workload under which, without the
    // split-partition fold, an unaffected partition keeps one sealed
    // entry per generation it received appends in and the composition
    // grows without bound
    for (cycle <- 0 until 4) {
      Dedup.appendToMinhashIndex(
        Seq(doc(10 + 2L * cycle), doc(11 + 2L * cycle)).toDF("doc_id", "text"),
        path)
      Dedup.deleteFromMinhashIndex(Seq(cycle.toLong).toDF("doc_id"), path)
      Dedup.compactMinhashTombstones(spark, path)
      val m = graft.ext.IndexLayout.readManifest(spark, path).get
      for (f <- Seq("shingles", "sizes")) {
        val es = graft.ext.IndexLayout.frameEntries(m, f)
        assert(es.size <= buckets + 1,
          s"cycle $cycle frame $f composition ${es.mkString(",")} must stay bounded")
        // each partition appears at most once among the sealed entries
        val sealedParts = es.filter(_.split("/").length == 3)
          .map(_.split("/").last)
        assert(sealedParts.distinct.size == sealedParts.size,
          s"cycle $cycle frame $f has a generation-split partition: ${es.mkString(",")}")
      }
    }
    // serving is exactly right after 4 fold cycles: dups of appended
    // and surviving docs reject, dups of deleted docs admit
    val probes = (Seq((200L, doc(3)._2), (201L, doc(10)._2),
      (202L, doc(17)._2)) ++ (0 until 4).map(i => (100L + i, doc(i)._2)))
      .toDF("doc_id", "text")
    val admitted = Dedup.nearDupIngestFromPath(spark, path, probes)
      .collect().map(_.getLong(0)).toSet
    assert(admitted == (0 until 4).map(100L + _).toSet,
      s"after fold cycles: got $admitted")
  }

  test("manifest commit is monotonic: highest-N wins, torn/partial states resolve, legacy single-file manifests stay readable") {
    import spark.implicits._
    import graft.ext.IndexLayout
    val root = java.nio.file.Files.createTempDirectory("graft-mono").toString
    val path = s"$root/idx"
    def doc(i: Long) = (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f")
    Dedup.saveMinhashIndex((0L until 6L).map(doc).toDF("doc_id", "text"),
      path, idBuckets = 5)
    def file(n: String) = new java.io.File(s"$path/$n")
    // a fresh build commits _manifest-0.json plus the legacy pointer
    assert(file(IndexLayout.manifestGenFile(0)).exists())
    assert(file(IndexLayout.ManifestFile).exists())
    // delete commits seq 1 (appends are manifest-committed), compaction
    // flips to gen 1 at seq 2; the keep-2 cleanup leaves the current
    // and previous commits (one-interval grace on manifest files, like
    // retired dirs) and the reader resolves the highest seq
    Dedup.deleteFromMinhashIndex(Seq(0L).toDF("doc_id"), path)
    Dedup.compactMinhashTombstones(spark, path)
    assert(!file(IndexLayout.manifestGenFile(0)).exists() &&
      file(IndexLayout.manifestGenFile(1)).exists() &&
      file(IndexLayout.manifestGenFile(2)).exists())
    val m1 = IndexLayout.readManifest(spark, path).get
    assert(m1("gen") == "1" && IndexLayout.seqOf(m1) == 2)
    // second delete (seq 3) + flip to gen 2 (seq 4): cleanup keeps 3,4
    Dedup.deleteFromMinhashIndex(Seq(1L).toDF("doc_id"), path)
    Dedup.compactMinhashTombstones(spark, path)
    assert(!file(IndexLayout.manifestGenFile(2)).exists() &&
      file(IndexLayout.manifestGenFile(3)).exists() &&
      file(IndexLayout.manifestGenFile(4)).exists())
    assert(IndexLayout.readManifest(spark, path).get("gen") == "2")
    // SIMULATED TORN COMMIT: a crashed writer resurrects a stale older
    // commit file (copy seq-3 content back as _manifest-0.json) —
    // the reader must still resolve the highest N, never the relic
    java.nio.file.Files.copy(
      file(IndexLayout.manifestGenFile(3)).toPath,
      file(IndexLayout.manifestGenFile(0)).toPath)
    assert(IndexLayout.readManifest(spark, path).get("gen") == "2")
    // a leftover hidden temp (kill mid-commit before rename) is ignored
    java.nio.file.Files.write(
      new java.io.File(s"$path/._manifest-9.json.tmp").toPath,
      "{not json".getBytes)
    assert(IndexLayout.readManifest(spark, path).get("gen") == "2")
    // serving still works through all of the above
    val admitted = Dedup.nearDupIngestFromPath(spark, path,
      Seq((100L, doc(0)._2), (101L, doc(5)._2)).toDF("doc_id", "text"))
      .collect().map(_.getLong(0)).toSet
    assert(admitted == Set(100L), s"got $admitted")
    // LEGACY layout: only _manifest.json present (pre-monotonic index)
    // — the fallback keeps it readable without a rebuild
    (0 to 9).foreach(g => file(IndexLayout.manifestGenFile(g)).delete())
    assert(IndexLayout.readManifest(spark, path).get("gen") == "2")
    // and conversely the pointer file is not required once -N files exist
    Dedup.deleteFromMinhashIndex(Seq(2L).toDF("doc_id"), path)
    Dedup.compactMinhashTombstones(spark, path)
    assert(file(IndexLayout.ManifestFile).delete())
    assert(IndexLayout.readManifest(spark, path).get("gen") == "3")
    // SEQ VS GEN: the two counters moved apart — seq orders EVERY
    // commit (4 appends/deletes + 3 flips on top of the legacy-restart
    // at 4), gen only the flips
    val mEnd = IndexLayout.readManifest(spark, path).get
    assert(IndexLayout.seqOf(mEnd) == 6 && mEnd("gen") == "3",
      s"seq=${IndexLayout.seqOf(mEnd)} gen=${mEnd("gen")}")
  }

  test("manifest-committed appends: torn staging is invisible, a pinned reader never sees a later commit, orphans are swept") {
    import spark.implicits._
    import graft.ext.IndexLayout
    val root = java.nio.file.Files.createTempDirectory("graft-asof").toString
    val path = s"$root/idx"
    def doc(i: Long) = (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f")
    val keep0 = spark.conf.getOption(IndexLayout.ManifestKeepConfKey)
    spark.conf.set(IndexLayout.ManifestKeepConfKey, "16")
    try {
      Dedup.saveMinhashIndex((0L until 6L).map(doc).toDF("doc_id", "text"),
        path, idBuckets = 5)
      val probes = Seq((100L, doc(0)._2), (106L, doc(6)._2),
        (107L, doc(7)._2)).toDF("doc_id", "text")
      def admittedAt(asOf: Option[Int]): Set[Long] =
        Dedup.nearDupIngestFromPath(spark, path, probes, asOfSeq = asOf)
          .collect().map(_.getLong(0)).toSet
      // seq 0 head state: 6/7 not indexed yet → their dups admit
      assert(admittedAt(None) == Set(106L, 107L))
      // TORN STAGING IS INVISIBLE: stage a bands-only batch (the shape
      // a kill between frames leaves) — no reader change until commit
      val m0 = IndexLayout.readManifest(spark, path).get
      val (tb, tsh, _) = Dedup.minhashIndexFrames(
        Seq(doc(6), doc(7)).toDF("doc_id", "text"), 3, 16, 8, 2)
      IndexLayout.stageAppendBatch(spark, path, "bands", "a99", tb,
        Some("band"))
      tsh.unpersist()
      assert(admittedAt(None) == Set(106L, 107L),
        "uncommitted staging must be invisible to serves")
      assert(IndexLayout.seqOf(IndexLayout.readManifest(spark, path).get) == 0)
      // the REAL append commits atomically across all three frames
      Dedup.appendToMinhashIndex(Seq(doc(6), doc(7)).toDF("doc_id", "text"),
        path)
      assert(admittedAt(None) == Set.empty[Long],
        "after the committed append every probe dup rejects")
      // PINNED READER: as-of seq 0 still serves the pre-append index
      assert(admittedAt(Some(0)) == Set(106L, 107L))
      // a delete commits seq 2; the pin at seq 1 must NOT apply it
      Dedup.deleteFromMinhashIndex(Seq(0L).toDF("doc_id"), path)
      assert(admittedAt(None) == Set(100L),
        "head serve honors the tombstone")
      assert(admittedAt(Some(1)) == Set.empty,
        "a pinned snapshot must not apply deletes committed after it")
      assert(IndexLayout.availableManifestSeqs(spark, path) == Seq(0, 1, 2))
      // beyond-retention pin fails LOUDLY, naming the horizon
      val e = intercept[IllegalStateException](admittedAt(Some(9)))
      assert(e.getMessage.contains("manifest commit 9"), e.getMessage)
      // ORPHAN SWEEP: the torn a99 staging dir is reclaimed by the next
      // compaction (it is referenced by no manifest, live or retired)
      assert(new java.io.File(s"$path/bands/a99").exists())
      Dedup.compactMinhashTombstones(spark, path)
      assert(!new java.io.File(s"$path/bands/a99").exists(),
        "unreferenced staging must be swept at compaction")
      // and the compacted head still serves exactly right
      assert(admittedAt(None) == Set(100L))
    } finally {
      keep0 match {
        case Some(v) => spark.conf.set(IndexLayout.ManifestKeepConfKey, v)
        case None => spark.conf.unset(IndexLayout.ManifestKeepConfKey)
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("x34: diffManifests reads verb effects from manifests alone — entry arithmetic, param changes, bookkeeping excluded") {
    import graft.ext.IndexLayout
    val a = Map(
      "format" -> "f", "schemaVersion" -> "1", "gen" -> "3", "seq" -> "7",
      "buckets" -> "48", "retired" -> "x/g0", "retiredAt" -> "1",
      "trainOcc" -> "0:5",
      "frames.bands" -> "bands/g3", "schema.bands" -> "a INT",
      "frames.tombstones" -> "tombstones/g3,tombstones/a6")
    val b = Map(
      "format" -> "f", "schemaVersion" -> "1", "gen" -> "4", "seq" -> "9",
      "buckets" -> "96", "retired" -> "", "retiredAt" -> "",
      "trainOcc" -> "0:9",
      "frames.bands" -> "bands/g4", "schema.bands" -> "a INT",
      "frames.tombstones" -> "tombstones/g4")
    val (gd, sd, perFrame, changed) = IndexLayout.diffManifests(a, b)
    assert(gd == 1L && sd == 2L)
    assert(perFrame == Seq(("bands", 1L, 1L), ("tombstones", 1L, 2L)))
    // buckets flags as a layout change; gen/seq/retired/trainOcc and
    // the frame/schema keys are bookkeeping, never "parameters"
    assert(changed == Seq("buckets"))
    // and the registered row's five legs all hold at the smallest SF
    val rows = graft.analytics.ExtPipelines.indexDiff(spark, sf())
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet ==
      Set("append", "delete", "compact", "rebucket", "window"))
    assert(rows("rebucket").getAs[String]("params_changed") == "buckets")
    assert(rows.values.forall(_.getAs[Boolean]("composition_bounded")))
    // the NON-ADJACENT window diff (seq 1 vs 5, across four verbs) is
    // a set-diff SUMMARY: the transient batch roots the append/delete
    // spliced in were folded inside the window, so they net out — one
    // root replaced per frame, both flips' gen delta, the rebucket's
    // parameter change; a sum of the step diffs would count each
    // transient twice (bands 2/2, tombstones 2/2)
    val w = rows("window")
    assert(w.getAs[Long]("gen_delta") == 2L && w.getAs[Long]("seq_delta") == 4L)
    assert(w.getAs[Long]("bands_added") == 1L &&
      w.getAs[Long]("bands_removed") == 1L)
    assert(w.getAs[Long]("tomb_added") == 1L &&
      w.getAs[Long]("tomb_removed") == 1L)
    assert(w.getAs[String]("params_changed") == "buckets")
  }

  test("mixed-version overlap: a live LEGACY lease detected post-claim is refused loudly — never two knowing owners") {
    import graft.ext.IndexLayout
    val root = java.nio.file.Files.createTempDirectory("graft-legacy").toString
    val path = s"$root/idx"
    new java.io.File(path).mkdirs()
    def writeLease(file: String, holder: String, at: Long, ttl: Long): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$path/$file"),
        s"""{"acquiredAtMs":"$at","ttlMs":"$ttl","writerId":"$holder"}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val now = System.currentTimeMillis()
    // the highest GENERATION lease is an EXPIRED crashed writer's —
    // currentLease resolves it and acquire proceeds to reclaim...
    writeLease(IndexLayout.leaseGenFile(3), "crashed-writer",
      at = now - 100000, ttl = 1)
    // ...but an old binary create-exclusively acquired a FRESH legacy
    // single-file lease in the read→claim window: refusing is the only
    // sound outcome (monotonic files cannot arbitrate a protocol the
    // old binary does not speak)
    writeLease(IndexLayout.LeaseFile, "old-binary", at = now, ttl = 600000)
    val e = intercept[IllegalStateException](
      IndexLayout.acquireLease(spark, path, ttlMs = 60000))
    assert(e.getMessage.contains("LEGACY") &&
      e.getMessage.contains("old-binary"), e.getMessage)
    // the refusal stamped its own claimed generation released (the
    // high-water record) and left the legacy holder's file untouched
    assert(new java.io.File(s"$path/${IndexLayout.leaseGenFile(4)}").exists())
    assert(IndexLayout.leaseHolder(spark, path).contains("old-binary"))
    // once the legacy holder is gone, acquire claims a FRESH generation
    // past the stamp (never reusing 4)
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$path/${IndexLayout.LeaseFile}"))
    val h = IndexLayout.acquireLease(spark, path, ttlMs = 60000)
    assert(h.gen == 5, s"gen ${h.gen}: stamps must keep generations monotonic")
    IndexLayout.releaseLease(spark, path, h)
  }

  test("maintenance lease: a second concurrent writer fails loudly, serves stay lock-free, a crashed writer's expired lease is reclaimed") {
    import spark.implicits._
    import graft.ext.IndexLayout
    val root = java.nio.file.Files.createTempDirectory("graft-lease").toString
    val path = s"$root/idx"
    def doc(i: Long) = (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f")
    Dedup.saveMinhashIndex((0L until 4L).map(doc).toDF("doc_id", "text"),
      path, idBuckets = 5)
    // writer A holds the lease (e.g. a compaction mid-staging)
    val held = IndexLayout.acquireLease(spark, path, ttlMs = 60000)
    // every maintenance verb of a second writer FAILS LOUDLY — the
    // append that used to be silently retired by the flip, and the
    // tombstone append that used to be silently resolved away
    val e1 = intercept[IllegalStateException] {
      Dedup.appendToMinhashIndex(Seq(doc(10)).toDF("doc_id", "text"), path)
    }
    assert(e1.getMessage.contains("under maintenance"), e1.getMessage)
    intercept[IllegalStateException] {
      Dedup.deleteFromMinhashIndex(Seq(0L).toDF("doc_id"), path)
    }
    intercept[IllegalStateException] {
      Dedup.compactMinhashTombstones(spark, path)
    }
    // readers stay LOCK-FREE while the lease is held
    val admitted = Dedup.nearDupIngestFromPath(spark, path,
      Seq((100L, doc(0)._2), (101L, "zz yy xx ww vv uu")).toDF("doc_id", "text"))
      .collect().map(_.getLong(0)).toSet
    assert(admitted == Set(101L))
    IndexLayout.releaseLease(spark, path, held)
    // release really releases: the next writer proceeds
    Dedup.appendToMinhashIndex(Seq(doc(10)).toDF("doc_id", "text"), path)
    // CRASHED writer: lease acquired, never released, TTL elapses —
    // the next verb reclaims it instead of requiring operator surgery
    IndexLayout.acquireLease(spark, path, ttlMs = 1)
    Thread.sleep(20)
    Dedup.deleteFromMinhashIndex(Seq(0L).toDF("doc_id"), path)
    Dedup.compactMinhashTombstones(spark, path) // exercises renewLease too
    // verbs must release on completion: no LIVE lease remains. A
    // single released/ttl-0 STAMP file does remain by design — it is
    // the monotonic high-water record that keeps lease generations
    // from ever being reused (deleting it would let two racers around
    // a release claim two different generation names — two owners)
    assert(IndexLayout.leaseHolder(spark, path).isEmpty,
      "verbs must release the lease on completion (no live lease)")
    assert(new java.io.File(path).listFiles()
        .count(_.getName.startsWith(IndexLayout.LeaseFile)) <= 1,
      "at most one released stamp persists (acquire sweeps the rest)")
    // a TORN lease file (writer crashed mid-create) expires by mtime
    // under the caller's TTL instead of blocking maintenance forever —
    // both the LEGACY single-file shape an old binary would leave...
    java.nio.file.Files.write(
      new java.io.File(s"$path/${IndexLayout.LeaseFile}").toPath,
      "{torn".getBytes)
    Thread.sleep(20)
    val h2 = IndexLayout.acquireLease(spark, path, ttlMs = 1)
    IndexLayout.releaseLease(spark, path, h2)
    // ...and the monotonic generation shape (the legacy relic was
    // swept by the acquire above; torn gen files behave identically)
    java.nio.file.Files.write(
      new java.io.File(s"$path/${IndexLayout.leaseGenFile(99)}").toPath,
      "{torn".getBytes)
    Thread.sleep(20)
    val h3 = IndexLayout.acquireLease(spark, path, ttlMs = 1)
    assert(h3.gen == 100, s"claim must supersede the torn gen (${h3.gen})")
    IndexLayout.releaseLease(spark, path, h3)
    // the IVF family shares the enforcement (same layer)
    val emb2 = emb.filter(col("vec_id") < 100)
    val ipath = s"$root/ivf"
    Similarity.saveIvfIndex(emb2, ipath, nList = 4, nIters = 0)
    val heldIvf = IndexLayout.acquireLease(spark, ipath, ttlMs = 60000)
    intercept[IllegalStateException] {
      Similarity.appendToIvfIndex(spark, ipath,
        emb.filter(col("vec_id") >= 100 && col("vec_id") < 110))
    }
    intercept[IllegalStateException] {
      Similarity.deleteFromIvfIndex(Seq(1L).toDF("vec_id"), ipath)
    }
    // lock-free IVF serve under the held lease
    assert(Similarity.ivfTopKFromIndex(spark, ipath,
      emb2.filter(col("vec_id") < 3), k = 2, nProbe = 4).count() == 6)
    IndexLayout.releaseLease(spark, ipath, heldIvf)
    Similarity.deleteFromIvfIndex(Seq(1L).toDF("vec_id"), ipath)
    Similarity.compactIvfTombstones(spark, ipath)
    assert(IndexLayout.leaseHolder(spark, ipath).isEmpty)
  }

  test("time-based retired grace: back-to-back compactions keep a slow reader's files alive inside the grace window") {
    import spark.implicits._
    import graft.ext.IndexLayout
    val root = java.nio.file.Files.createTempDirectory("graft-grace").toString
    val path = s"$root/idx"
    def doc(i: Long) = (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f")
    Dedup.saveMinhashIndex((0L until 6L).map(doc).toDF("doc_id", "text"),
      path, idBuckets = 5)
    try {
      spark.conf.set(IndexLayout.RetiredGraceConfKey, (60 * 60 * 1000L).toString)
      // compaction 1 retires the first generation's affected dirs
      Dedup.deleteFromMinhashIndex(Seq(0L).toDF("doc_id"), path)
      Dedup.compactMinhashTombstones(spark, path)
      val m1 = IndexLayout.readManifest(spark, path).get
      val r1 = m1("retired").split(",").filter(_.nonEmpty).toSeq
      assert(r1.nonEmpty)
      // a SLOW reader resolved the pre-compaction-2 manifest and holds
      // plans over generation-1 files
      val slowReader = Dedup.loadMinhashIndex(spark, path)
      // compaction 2, immediately after: WITHOUT the time grace this
      // deleted r1's dirs (they are one flip old) and stranded the
      // slow reader; inside the grace window they must survive
      Dedup.deleteFromMinhashIndex(Seq(1L).toDF("doc_id"), path)
      Dedup.compactMinhashTombstones(spark, path)
      r1.foreach(d => assert(new java.io.File(s"$path/$d").exists(),
        s"dir $d retired one flip ago must survive inside the grace window"))
      // the carried entries stay TRACKED (not orphaned): the new
      // manifest's retired list holds compaction 1's dirs AND 2's
      val m2 = IndexLayout.readManifest(spark, path).get
      val r2 = m2("retired").split(",").filter(_.nonEmpty).toSeq
      assert(r1.forall(r2.contains), s"carried $r1 must remain tracked in $r2")
      assert(m2("retiredAt").split(",").filter(_.nonEmpty).length == r2.length)
      // the slow reader's plans still execute correctly
      assert(slowReader._2.select("doc_id").distinct().count() > 0)
      // grace dropped to zero: the NEXT compaction physically deletes
      // everything tracked (no orphans left behind)
      spark.conf.set(IndexLayout.RetiredGraceConfKey, "0")
      Dedup.deleteFromMinhashIndex(Seq(2L).toDF("doc_id"), path)
      Dedup.compactMinhashTombstones(spark, path)
      r2.foreach(d => assert(!new java.io.File(s"$path/$d").exists(),
        s"dir $d must be dropped once the grace window is over"))
      // serving is exactly right through all of it
      val admitted = Dedup.nearDupIngestFromPath(spark, path,
        Seq((100L, doc(0)._2), (101L, doc(2)._2), (102L, doc(5)._2))
          .toDF("doc_id", "text"))
        .collect().map(_.getLong(0)).toSet
      assert(admitted == Set(100L, 101L), s"got $admitted")
    } finally spark.conf.unset(IndexLayout.RetiredGraceConfKey)
  }

  test("v15: cluster-balanced selection is the exact per-cluster quota of v13's clusters") {
    val got = graft.analytics.ExtPipelines.clusterBalancedSelect(spark, sf())
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2), r.getInt(3)))
    // recompute: v13 assignment (deterministic) + driver-side quota
    val clusters = Similarity.kmeansLloyd(emb, k = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chars = docs.select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = clusters.toSeq.groupBy(_._2).flatMap { case (c, members) =>
      members.map(_._1).sortBy(id => (-chars(id), id)).take(10).zipWithIndex
        .map { case (id, i) => (id, c, chars(id), i + 1) }
    }.toSet
    assert(got.toSet == want && got.nonEmpty)
    // per-cluster quota: ≤10 rows, ranks contiguous from 1
    got.groupBy(_._2).foreach { case (c, rows) =>
      val rks = rows.map(_._4).sorted.toSeq
      assert(rks == (1 to rks.length) && rks.length <= 10, s"cluster $c ranks $rks")
    }
  }

  test("v12: index-persist round trip is identical AND leaves no temp index behind") {
    val row = graft.analytics.ExtPipelines.ivfIndexPersist(spark, sf()).collect()
    assert(row.length == 1 && row(0).getBoolean(1), row.mkString)
    // hygiene: the embeddings-sized temp index must not accumulate in
    // /tmp across Verify dumps and bench reps
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val leftover = Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft_v12"))
    assert(leftover.isEmpty, s"leaked: ${leftover.mkString(", ")}")
  }

  test("withScratch: the root is gone after a return and after a throw; the result still collects") {
    import graft.analytics.Audit
    var root = ""
    val out = Audit.withScratch("graft_scratch_spec") { r =>
      root = r
      spark.range(3).write.parquet(s"$r/t")
      spark.read.parquet(s"$r/t")
    }
    assert(root.nonEmpty && !new java.io.File(root).exists(),
      s"scratch root $root survived a normal return")
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
    var failedRoot = ""
    val err = intercept[IllegalStateException] {
      Audit.withScratch("graft_scratch_spec") { r =>
        failedRoot = r
        spark.range(1).write.parquet(s"$r/t")
        throw new IllegalStateException("body failed")
      }
    }
    assert(err.getMessage == "body failed")
    assert(failedRoot.nonEmpty && !new java.io.File(failedRoot).exists(),
      s"scratch root $failedRoot survived a failing body")
  }

  test("x23: edit-distance near-dups match a driver-side Levenshtein recompute") {
    val prefixes = docs.select(col("doc_id"),
        lower(substring(col("text"), 1, 32)).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      (ia, pa) <- prefixes; (ib, pb) <- prefixes if ia < ib
      dist = lev(pa, pb) if dist <= 4
    } yield (ia, ib, dist)).toSet
    val got = Dedup.editDistanceNearDups(docs, maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
    assert(got.nonEmpty, "fixture must exercise the operator")
    // the PassJoin-blocked twin is exact by pigeonhole — same set
    val blocked = Dedup.editDistanceNearDupsBlocked(docs, maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(blocked == expected)
    // and stays exact when short heads force the |short|·n side route
    import spark.implicits._
    val withShort = docs.select(col("doc_id"), col("text")).unionByName(
      Seq((900001L, "tiny head"), (900002L, "tiny hxad")).toDF("doc_id", "text"))
    val exactS = Dedup.editDistanceNearDups(withShort, maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val blockedS = Dedup.editDistanceNearDupsBlocked(withShort, maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(blockedS == exactS)
    assert(exactS.contains((900001L, 900002L, 1)), "planted short pair must match")
  }

  test("t28: tfidf keywords are the per-doc top-3 of a driver-side recompute") {
    val rows = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val n = rows.length.toDouble
    val dfreq = rows.flatMap { case (_, w) => w.distinct }
      .groupBy(identity).view.mapValues(_.length).toMap
    val expected = rows.flatMap { case (id, w) =>
      w.groupBy(identity).toSeq
        .map { case (tok, os) =>
          // StrictMath, not math.log: Spark's Log expression evaluates
          // via StrictMath, and the intrinsic differs in the last ulp
          (id, tok, os.length.toLong, dfreq(tok).toLong,
            os.length.toDouble * StrictMath.log(n / dfreq(tok))) }
        .sortBy { case (_, tok, _, _, s) => (-s, tok) }
        .take(3).zipWithIndex
        .map { case ((_, tok, tf, df, s), i) => (id, i + 1, tok, tf, df, s) }
    }.toSet
    val got = TextAnalysis.tfidfKeywords(docs, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    assert(got == expected)
  }

  test("g33: pagerank equals a driver-side integer power-iteration recompute") {
    val pairs = graft.analytics.Pipelines
      .coPurchasePairs(spark, sf(), maxBasket = 64, minSupport = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.nonEmpty)
    val edges = pairs.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val wdeg = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var ranks: Map[Long, Long] = wdeg.map { case (n, _) => n -> 1000000L }
    for (_ <- 1 to 3) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _, w) => ranks(s) * w / wdeg(s) }.sum).toMap
      ranks = in.map { case (n, s) => n -> (15000000L + 85L * s) / 100L }
    }
    val before = spark.sparkContext.getPersistentRDDs.size
    val got = graft.analytics.Pipelines.pageRank(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // cache hygiene: per-iteration checkpoints and the edge table are
    // freed before pageRank returns — the ONE retained snapshot is the
    // final ranks frame itself (|nodes| rows), so repeated invocations
    // cannot accumulate edge-sized cached copies
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"pageRank retained ${after - before} persistent RDDs (want <= 1)")
    assert(got.keySet == ranks.keySet)
    got.foreach { case (n, r) =>
      assert(r == ranks(n), s"node $n: $r vs driver ${ranks(n)}")
    }
    // centrality sanity: ranks differentiate (not all equal) and the
    // total mass stays within the damping contraction of the start
    // mass: each round emits >= 0.15e6 per node (teleport base) and,
    // since integer div only loses mass, at most the full incoming sum
    // — so from the 1e6-per-node start the total can never exceed it
    assert(got.values.toSet.size > 1)
    val n = got.size.toLong
    val mass = got.values.map(BigInt(_)).sum
    assert(mass >= BigInt(n) * 150000L && mass <= BigInt(n) * 1000000L,
      s"total rank mass $mass outside [0.15, 1.0] x ${n}e6")
  }

  test("v17: range search equals the driver µ-cosine recompute; radius is exact") {
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.floor(x * 10000.0 + 0.5).toLong).toArray))
    def muCos(a: Array[Long], b: Array[Long]): Long = {
      var dot = 0L; var na = 0L; var nb = 0L; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      math.floor(1000000.0 *
        (dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))) + 0.5).toLong
    }
    val want = (for {
      (qid, qf) <- vecs if qid < 10
      (cid, cf) <- vecs if cid != qid
      mu = muCos(qf, cf) if mu >= 150000L
    } yield (qid, cid, mu)).toSet
    val got = graft.ext.Similarity.rangeSearch(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want,
      s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("g34: every cohort's k=0 cell is its size; cells never exceed it") {
    val got = graft.analytics.Pipelines.retentionCohorts(spark, sf())
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(got.nonEmpty)
    val sizes = got.filter(_._2 == 0).map(t => t._1 -> t._3).toMap
    // every user is active on their own cohort day, so each cohort has
    // a k=0 cell and no later cell can exceed it
    val cohorts = got.map(_._1).distinct
    assert(cohorts.forall(sizes.contains), "cohort missing its k=0 cell")
    got.foreach { case (c, k, n) =>
      assert(k >= 0 && n <= sizes(c), s"cell ($c, $k, $n) exceeds cohort size")
    }
    // cohort sizes partition the user population exactly
    val totalUsers = Tables.events(spark, sf())
      .select("user_id").distinct().count()
    assert(sizes.values.sum == totalUsers)
  }

  test("x28: dedup-stats histogram partitions the corpus and matches x9 labels") {
    val got = graft.analytics.ExtPipelines.dedupStats(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the histogram must partition the corpus exactly
    val total = docs.count()
    assert(got.map { case (sz, n) => sz * n }.sum == total,
      s"sum(size*count) must equal |documents| = $total: ${got.toSeq}")
    // and agree with a direct recompute from the cluster labels
    val labels = graft.analytics.ExtPipelines.dedupClusters(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = labels.groupBy(_._2).map(_._2.size.toLong)
      .groupBy(identity).map { case (sz, g) => (sz, g.size.toLong) }
    got.filter(_._1 > 1).foreach { case (sz, n) =>
      assert(want.get(sz).contains(n), s"size-$sz count $n vs ${want.get(sz)}")
    }
    assert(got.count(_._1 == 1L) == 1)
    assert(got.find(_._1 == 1L).get._2 == total - labels.length)
  }

  test("g35: funnel equals a driver-side first-touch recompute; stages shrink") {
    val ev = Tables.events(spark, sf())
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1)
    val stages = Seq("view", "click", "purchase")
    // per user: first view; first click strictly after it; first
    // purchase strictly after that
    var counts = Map.empty[Int, Long]
    var anchors: Map[Long, Long] = byUser.flatMap { case (u, rows) =>
      val ts = rows.filter(_._2 == stages.head).map(_._3)
      if (ts.isEmpty) None else Some(u -> ts.min)
    }
    counts += (1 -> anchors.size.toLong)
    for ((stage, i) <- stages.tail.zipWithIndex) {
      anchors = anchors.flatMap { case (u, t) =>
        val ts = byUser.getOrElse(u, Array.empty)
          .filter(r => r._2 == stage && r._3 > t).map(_._3)
        if (ts.isEmpty) None else Some(u -> ts.min)
      }
      counts += ((i + 2) -> anchors.size.toLong)
    }
    val got = graft.analytics.Pipelines.funnel(spark, sf())
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.map(_._2).toSeq == stages)
    got.foreach { case (s, _, n) => assert(n == counts(s), s"stage $s: $n vs ${counts(s)}") }
    // a funnel can only narrow
    assert(got.map(_._3).toSeq == got.map(_._3).sorted.reverse.toSeq)
    assert(got.head._3 > 0)
    // the single-scan greedy twin must agree exactly (greedy
    // first-touch ≡ chained minima)
    val single = graft.analytics.Pipelines.funnelSingleScan(spark, sf())
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    assert(single.toSeq == got.toSeq)
  }

  test("g35b: same-microsecond stage events do not double-advance the greedy fold") {
    import spark.implicits._
    // user 1: view@10, click@10 (tie — must NOT count), click@20,
    // purchase@20 (strictly after the click anchor? 20 > 20 is false —
    // must NOT count), purchase@30 (counts). Expect stages 1,2,3 = 1,1,1
    // ... but with the tie rows removed user 1 still converts via the
    // later events. user 2: purchase@5, click@6, view@7 — wrong order,
    // reaches stage 1 only.
    val rows = Seq(
      (1L, "view", 10L), (1L, "click", 10L), (1L, "click", 20L),
      (1L, "purchase", 20L), (1L, "purchase", 30L),
      (2L, "purchase", 5L), (2L, "click", 6L), (2L, "view", 7L))
    val df = rows.toDF("user_id", "event_type", "us")
      .select(col("user_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-funnel").toString
    df.write.parquet(s"$tmp/events.parquet")
    val got = graft.analytics.Pipelines.funnelSingleScan(spark, tmp)
      .collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    val chained = graft.analytics.Pipelines.funnel(spark, tmp)
      .collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    assert(got == Map(1 -> 2L, 2 -> 1L, 3 -> 1L), s"got $got")
    assert(got == chained)
  }

  test("g35b: per-user state cap — exact under the cap, a lower bound over it (bot policy)") {
    import spark.implicits._
    // user 1 is the bot: 50 clicks BEFORE its first view, then a clean
    // view → click → purchase chain. user 2 is a normal view → click.
    val rows = (1L to 50L).map(us => (1L, "click", us)) ++ Seq(
      (1L, "view", 100L), (1L, "click", 200L), (1L, "purchase", 300L),
      (2L, "view", 1L), (2L, "click", 2L))
    val df = rows.toDF("user_id", "event_type", "us")
      .select(col("user_id"), col("event_type"),
        timestamp_micros(col("us")).as("ts"))
    val tmp =
      java.nio.file.Files.createTempDirectory("graft-funnel-cap").toString
    df.write.parquet(s"$tmp/events.parquet")
    def run(cap: Int) = graft.analytics.Pipelines
      .funnelSingleScan(spark, tmp, maxStageEvents = cap)
      .collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    val exact = graft.analytics.Pipelines.funnel(spark, tmp)
      .collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    assert(exact == Map(1 -> 2L, 2 -> 2L, 3 -> 1L), s"fixture: $exact")
    // cap above every per-(user, stage-type) count → EXACT (all events
    // survive the earliest-k filter, so the fold sees the full stream)
    assert(run(100) == exact)
    // cap 10 keeps only the bot's 10 earliest clicks — all before its
    // first view, so its conversion beyond stage 1 is no longer
    // witnessed. The normal user is untouched. Capping keeps a SUBSET
    // of events, so the reached stage is a LOWER BOUND, never an
    // overcount.
    val capped = run(10)
    assert(capped == Map(1 -> 2L, 2 -> 1L), s"capped: $capped")
    capped.foreach { case (s, n) =>
      assert(n <= exact(s), s"stage $s overcounted under the cap") }
  }

  test("t34: weighted sample is the exact A-Res top-1000 of the md5-drawn keys") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def u52(id: Long): Double = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(x => f"$x%02x").mkString.take(13)
      (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) / 4503599627370496.0
    }
    val rows = docs.select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter(_._2 >= 1)
    // HALF_UP (away from zero), matching Spark's Round on doubles and
    // DuckDB's round() — math.round is half-toward-+inf, which diverges
    // on these always-NEGATIVE keys at exact .5 grid boundaries
    def halfUp(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val expected = rows.map { case (id, w) =>
      (id, w, halfUp(math.log(u52(id)) / w.toDouble * 1.0e12))
    }.sortBy { case (id, _, k) => (-k, id) }.take(1000)
    val got = graft.analytics.ExtPipelines.weightedSample(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert(g == e, s"sample row $g vs driver recompute $e")
    }
    // weighting sanity: whenever the sample is a strict subset it must
    // over-represent long docs (at the spec SF the corpus can be ≤ K,
    // making the sample the whole corpus — nothing to skew)
    if (rows.length > got.length) {
      val meanAll = rows.map(_._2).sum.toDouble / rows.length
      val meanSel = got.map(_._2).sum.toDouble / got.length
      assert(meanSel > meanAll,
        s"length-weighted sample must skew long: $meanSel vs corpus $meanAll")
    } else {
      // degenerate K ≥ corpus: A-Res must then return every weighted row
      assert(got.map(_._1).toSet == rows.map(_._1).toSet)
    }
  }

  test("t29: banded budget selection equals the global greedy prefix") {
    val budget = 10000L
    val scored = TextAnalysis.qualityScore(TextAnalysis.qualitySignals(docs))
      .select(col("doc_id"), col("quality"), col("n_tokens").cast("long"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // driver-side spec: global sort, greedy cumulative sum
    var acc = 0L
    val expected = scored.sortBy { case (id, q, _) => (-q, id) }.flatMap {
      case (id, q, n) =>
        acc += n
        if (acc <= budget) Some((id, q, n, acc)) else None
    }.toSet
    val got = TextAnalysis.tokenBudgetSelect(docs, budgetTokens = budget)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
    // the budget genuinely cuts: something kept, something dropped
    assert(got.nonEmpty && got.size < scored.length)
    assert(got.map(_._4).max <= budget)
  }

  test("v11: self-drift is exactly 1 and moments are symmetric") {
    val keyed = emb.join(
      docs.select(col("doc_id").as("vec_id"), col("source")), "vec_id")
    val self = Similarity.snapshotCentroidDrift(keyed, keyed).collect()
    assert(self.nonEmpty)
    self.foreach { r =>
      // same snapshot both sides: dot == na == nb exactly (integers),
      // drift == 1 up to the one sqrt(x)·sqrt(x) rounding step
      assert(r.getLong(1) == r.getLong(2) && r.getLong(2) == r.getLong(3))
      assert(math.abs(r.getDouble(4) - 1.0) < 1e-12)
    }
    // and the real snapshot drift is a valid cosine, one row per
    // source present in both snapshots
    val drift = graft.analytics.ExtPipelines.centroidDrift(spark, sf()).collect()
    assert(drift.nonEmpty)
    drift.foreach(r => assert(math.abs(r.getDouble(4)) <= 1.0 + 1e-12))
  }

  test("sql front end: EXISTS decorrelates to a semi join; Q3 text matches a DataFrame twin") {
    val exists = graft.analytics.Pipelines.sqlExists(spark, sf())
    val plan = exists.queryExecution.executedPlan.toString
    assert(plan.contains("Semi"),
      s"correlated EXISTS must plan as a semi join, not per-row subqueries:\n$plan")
    assert(exists.count() > 0)
    // the SQL text and the equivalent DataFrame program must agree row-for-row
    val sqlRows = graft.analytics.Pipelines.sqlQ3(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val li = Tables.lineitem(spark, sf())
    val ord = Tables.orders(spark, sf())
    val cust = Tables.customer(spark, sf())
    val cut = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
    val dfRows = cust.filter(col("c_mktsegment") === "BUILDING")
      .join(ord, col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit(cut))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > lit(cut))
      .groupBy("o_orderkey", "o_orderpriority")
      .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
        (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("revenue_c4"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(1))).toSet
    assert(sqlRows == dfRows)
  }

  test("g29: unpivot inverts the zero-filled pivot losslessly") {
    import graft.ops.Viewing
    val a1 = Viewing.durationByCategory(
      Viewing.validRows(Viewing.categorize(Tables.events(spark, sf()))))
    val long = graft.analytics.Pipelines.unpivotDurations(spark, sf())
    // unpivot(pivot(a1)) restricted to a1's cells == a1 exactly, and
    // every extra cell is an explicit zero from the fill
    val a1Map = a1.collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val longRows = long.collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
    assert(longRows.length == a1Map.keySet.map(_._1).size * Viewing.categories.size)
    longRows.foreach { case (k, v) => assert(v == a1Map.getOrElse(k, 0L)) }
    assert(a1Map.forall { case (k, v) => longRows.toMap.get(k).contains(v) })
    // and re-pivoting the long form reproduces the wide table
    val rewide = long.groupBy("user_id")
      .pivot("Type", Viewing.categories).sum("value_cents")
    val wide = Viewing.pivotDurations(a1)
    assert(rewide.exceptAll(wide).isEmpty && wide.exceptAll(rewide).isEmpty)
  }

  test("x24: applied dedup keeps exactly the cluster minima plus unclustered docs") {
    val clusters = graft.analytics.ExtPipelines.dedupClusters(spark, sf())
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = all.filter(id => clusters.get(id).forall(_ == id))
    val got = graft.analytics.ExtPipelines.dedupApplyClusters(spark, sf())
      .collect().map(_.getLong(0)).toSet
    assert(got == expected)
    assert(clusters.nonEmpty && got.size < all.size,
      "fixture must exercise actual deletions")
  }

  test("x24b: persisted-label apply reproduces the self-contained form exactly") {
    val a = graft.analytics.ExtPipelines.dedupApplyClusters(spark, sf())
    // twice: first call builds + persists the labels, second reuses the
    // memoized store — both must match x24
    val b1 = graft.analytics.ExtPipelines.dedupApplyPersisted(spark, sf())
    assert(a.exceptAll(b1).isEmpty && b1.exceptAll(a).isEmpty)
    val b2 = graft.analytics.ExtPipelines.dedupApplyPersisted(spark, sf())
    assert(a.exceptAll(b2).isEmpty && b2.exceptAll(a).isEmpty)
  }

  test("t30: tokenizer encode round-trips to the exact text and uses merges") {
    import graft.ext.TextAnalysis
    val d = docs.select("doc_id", "text")
    val merges = TextAnalysis.bpePairStats(d, k = 20)
      .collect().map(_.getString(0)).toIndexedSeq
    assert(merges.length == 20 && merges.forall(_.length == 2))
    graft.functions.TextExpressions.registerBpeEncode(spark)
    val enc = d.select(col("doc_id"), col("text"),
        graft.functions.TextExpressions.bpeEncode(col("text"), merges).as("ids"))
      .collect()
    assert(enc.nonEmpty)
    var usedMerge = false
    enc.foreach { r =>
      val text = r.getString(1)
      val ids = r.getSeq[Int](2)
      // round-trip decode equality: the id sequence is a lossless
      // encoding of the exact text
      assert(TextAnalysis.tokenizerDecode(ids, merges) == text,
        s"round-trip failed for doc ${r.getLong(0)}")
      // codepoint conservation: each merge covers 2, each base token 1
      val covered = ids.map(id =>
        if (id >= graft.functions.BpeEncode.Base) 2 else 1).sum
      assert(covered == text.codePointCount(0, text.length))
      if (ids.exists(_ >= graft.functions.BpeEncode.Base)) usedMerge = true
    }
    assert(usedMerge, "fixture must exercise the merge path")
    // greedy semantics spot-check: the top-ranked pair, wherever the
    // raw text contains it at an even scan offset, must never surface
    // as two base tokens adjacent in the output when a merge could
    // have fired — covered indirectly by the oracle; here we pin the
    // pipeline output shape instead
    val out = graft.analytics.ExtPipelines.tokenizerEncode(spark, sf())
    assert(out.columns.toSeq == Seq("doc_id", "n_tokens", "ids_str"))
    val row = out.filter(col("doc_id") === enc.head.getLong(0)).collect()(0)
    assert(row.getLong(1) == enc.head.getSeq[Int](2).length)
  }

  test("g28: grouping sets equal the union of the declared plain groupBys") {
    val li = Tables.lineitem(spark, sf())
    val got = graft.analytics.Pipelines.groupingSetsSummary(spark, sf())
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getDouble(2), r.getLong(3), r.getLong(4))).toSet
    def agg(cols: Seq[String]) = {
      val g = if (cols.isEmpty) li.groupBy() else li.groupBy(cols.map(col): _*)
      g.agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
    }
    val expected =
      agg(Seq("l_returnflag", "l_linestatus")).collect().map(r =>
        (Option(r.getString(0)), Option(r.getString(1)), r.getDouble(2),
          r.getLong(3), 0L)) ++
      agg(Seq("l_returnflag")).collect().map(r =>
        (Option(r.getString(0)), None, r.getDouble(1), r.getLong(2), 1L)) ++
      agg(Nil).collect().map(r =>
        (None, None, r.getDouble(0), r.getLong(1), 3L))
    assert(got == expected.toSet)
  }

  test("v23: retrainIvfIndex replaces the quantizer in place — new nList stored, tombstones resolved, serve equals a fresh deterministic build") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-retrain").toString
    val standing = emb.filter(col("vec_id") < 300)
    val doomed = standing.filter(col("vec_id") >= 280).select("vec_id")
    val survivors = standing.filter(col("vec_id") < 280)
    val queries = emb.filter(col("vec_id") < 10)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    for (storage <- Seq("fp", "int8", "pq")) {
      val path = s"$root/$storage"
      Similarity.saveIvfIndex(standing, path, nList = 8, nIters = 1,
        storage = storage)
      Similarity.deleteFromIvfIndex(doomed, path)
      Similarity.retrainIvfIndex(spark, path, nList = 12, nIters = 1)
      val m = Similarity.ivfIndexParams(spark, path)
      assert(m("nList") == "12", s"$storage: stored nList must flip to 12")
      assert(m("storage") == storage, s"$storage: storage must carry through")
      assert(Similarity.loadIvfTombstones(spark, path).isEmpty,
        s"$storage: the retrain rewrite must resolve the tombstones")
      // the retrained serve must equal a FRESH deterministic build at
      // the new nList over the identical survivor multiset (pq pays
      // the v22 overFetch to recover fp ranks on this corpus)
      val of = if (storage == "pq") 32 else 4
      val fresh = s"$root/$storage-fresh"
      Similarity.saveIvfIndex(survivors, fresh, nList = 12, nIters = 1,
        storage = storage)
      val served = Similarity.ivfTopKFromIndex(spark, path, queries,
        k = 5, nProbe = 4, overFetch = of)
      assert(key(served) == key(Similarity.ivfTopKFromIndex(spark, fresh,
        queries, k = 5, nProbe = 4, overFetch = of)),
        s"$storage: retrained serve must equal the fresh-build serve")
      // exhaustive probes over the retrained layout ≡ brute force over
      // the survivors — retrain may not lose or resurrect a vector
      assert(key(Similarity.ivfTopKFromIndex(spark, path, queries,
          k = 5, nProbe = 12, overFetch = of)) ==
        key(Similarity.bruteForceTopK(survivors, queries, k = 5)),
        s"$storage: exhaustive retrained serve must equal brute force")
    }
    // the retrain runs under the maintenance lease: a standing writer
    // blocks it loudly (the silent-loss window it exists to close)
    val leased = s"$root/fp"
    val h = graft.ext.IndexLayout.acquireLease(spark, leased, 60000L)
    val e = intercept[IllegalStateException] {
      Similarity.retrainIvfIndex(spark, leased, nList = 8)
    }
    assert(e.getMessage.contains("under maintenance"))
    graft.ext.IndexLayout.releaseLease(spark, leased, h)
    // end-to-end pipeline identity row
    val row = graft.analytics.ExtPipelines.ivfIndexRetrain(spark, sf()).collect()
    assert(row.length == 1 && row(0).getLong(1) == 12L &&
      row(0).getBoolean(2), row.mkString)
  }

  test("IVF storage lookup: an unknown stored storage fails loudly at serve, append and compaction; a manifest with no storage key serves as fp") {
    VectorFunctions.register(spark)
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-storage").toString
    val standing = emb.filter(col("vec_id") < 200)
    val queries = emb.filter(col("vec_id") < 5)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // commit an edited manifest at the next seq — what a binary with a
    // storage this code does not know (or one that predates the
    // storage key) leaves behind
    def recommit(path: String)(
        edit: Map[String, String] => Map[String, String]): Unit = {
      val m = graft.ext.IndexLayout.readManifest(spark, path).get
      graft.ext.IndexLayout.writeManifest(spark, path,
        edit(m) + ("seq" -> (graft.ext.IndexLayout.seqOf(m) + 1).toString))
    }
    val unknown = s"$root/unknown"
    Similarity.saveIvfIndex(standing, unknown, nList = 4, nIters = 1)
    recommit(unknown)(_ + ("storage" -> "int4"))
    val verbs = Seq[(String, () => Any)](
      "serve" -> (() => Similarity.ivfTopKFromIndex(spark, unknown, queries,
        k = 5, nProbe = 4).collect()),
      "append" -> (() => Similarity.appendToIvfIndex(spark, unknown,
        emb.filter(col("vec_id") >= 200 && col("vec_id") < 210))),
      "compact" -> (() => Similarity.compactIvfTombstones(spark, unknown)))
    for ((verb, run) <- verbs) {
      val e = intercept[IllegalStateException](run())
      assert(e.getMessage.contains("int4"), s"$verb: ${e.getMessage}")
    }
    val legacy = s"$root/legacy"
    Similarity.saveIvfIndex(standing, legacy, nList = 4, nIters = 1)
    val want = key(Similarity.ivfTopKFromIndex(spark, legacy, queries,
      k = 5, nProbe = 4))
    recommit(legacy)(_ - "storage")
    assert(!Similarity.ivfIndexParams(spark, legacy).contains("storage"))
    assert(want.nonEmpty && key(Similarity.ivfTopKFromIndex(spark, legacy,
      queries, k = 5, nProbe = 4)) == want,
      "a manifest with no storage key must serve as fp")
  }

  test("x30: rebucketMinhashIndex re-keys the stored frames in place — new count stored and pruning, frames equal a fresh build at the new count") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-mh-rebucket").toString
    val path = s"$root/idx"
    val standing = docs.select("doc_id", "text").filter(col("doc_id") < 150)
    val doomed = standing.filter(col("doc_id") >= 140).select("doc_id")
    val survivors = standing.filter(col("doc_id") < 140)
    Dedup.saveMinhashIndex(standing, path, idBuckets = 16)
    Dedup.deleteFromMinhashIndex(doomed, path)
    Dedup.rebucketMinhashIndex(spark, path, newBuckets = 48)
    val m = Dedup.minhashIndexParams(spark, path)
    assert(m("buckets") == "48", "stored bucket count must flip to 48")
    assert(Dedup.loadMinhashTombstones(spark, path).isEmpty,
      "the rebucket rewrite must resolve the tombstones")
    // frame-multiset identity vs a fresh build at 48 over the
    // survivors (x26e's discipline — serve equality follows a fortiori)
    val fresh = s"$root/fresh"
    Dedup.saveMinhashIndex(survivors, fresh, idBuckets = 48)
    val (ib, ish, isz) = Dedup.loadMinhashIndex(spark, path)
    val (fb, fsh, fsz) = Dedup.loadMinhashIndex(spark, fresh)
    for (((a, b), name) <- Seq((ib, fb), (ish, fsh), (isz, fsz))
        .zip(Seq("bands", "shingles", "sizes")))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$name must equal the fresh build at the new count")
    // the rebucketed layout still partition-prunes — under the NEW
    // count: the candidate buckets land in the scan's PartitionFilters
    val candIds = Seq(3L, 7L, 11L).toDF("b_id").distinct()
    val candBuckets = candIds
      .select(pmod(xxhash64(col("b_id")), lit(48)).cast("int").as("bk"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val pruned = Dedup.pruneStandingToCandidates(ish, candIds,
      useBroadcast = true, "doc_id", candBuckets)
    val p = pruned.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator
      .find(l => l.contains("FileScan parquet") && l.contains("shingles"))
      .getOrElse(fail(s"no shingle scan in plan:\n$p"))
    assert(scanLine.matches(""".*PartitionFilters: \[[^\]]*bucket#\d+ IN.*"""),
      s"bucket IN (…) must partition-filter the rebucketed scan:\n$scanLine")
    // a pure rebucket (no standing tombstones) carries the bands frame
    // through the flip UNTOUCHED — same composition entry, no rewrite
    val mBefore = Dedup.minhashIndexParams(spark, path)
    val bandsBefore = graft.ext.IndexLayout.frameEntries(mBefore, "bands")
    Dedup.rebucketMinhashIndex(spark, path, newBuckets = 32)
    val mAfter = Dedup.minhashIndexParams(spark, path)
    assert(mAfter("buckets") == "32")
    assert(graft.ext.IndexLayout.frameEntries(mAfter, "bands") == bandsBefore,
      "a tombstone-free rebucket must not touch the bands frame")
    // serve equality after the second rebucket: the moved rows still
    // admit/reject exactly like a fresh build
    val batch = docs.select("doc_id", "text")
      .filter(col("doc_id") >= 150 && col("doc_id") < 180)
    def admitted(px: String) = Dedup.nearDupIngestFromPath(spark, px, batch)
      .collect().map(_.getLong(0)).toSet
    assert(admitted(path) == admitted(fresh))
    // end-to-end pipeline identity row
    val row =
      graft.analytics.ExtPipelines.minhashIndexRebucket(spark, sf()).collect()
    assert(row.length == 1 && row(0).getLong(1) == 48L &&
      row(0).getBoolean(2), row.mkString)
  }
}
