package graft

import org.apache.spark.sql.functions._
import graft.ext.Multimodal
import graft.sources.Tables
import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {

  test("streaming sessionize equals batch window-function sessionize") {
    import spark.implicits._
    val events = Tables.events(spark, sf())
    val batch = Streaming.sessionizeBatch(events)
    val ev = Streaming.eventsStream(spark, sf())
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[Streaming.SessEvent]
    val streamed = Streaming.runToBatch(spark, Streaming.sessionize(ev).toDF(),
      org.apache.spark.sql.streaming.OutputMode.Append())
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty)
  }

  test("sessionize: a gap of exactly the threshold does NOT split; more does") {
    import spark.implicits._
    val gap = 30L * 60 * 1000000
    val ev = Seq(
      Streaming.SessEvent(1L, 0L, 10L),
      Streaming.SessEvent(1L, gap, 20L),          // exactly 30min later → same session
      Streaming.SessEvent(1L, 2 * gap + 1, 30L))  // 30min+1µs after → new session
    val out = Streaming.sessionize(ev.toDS()).collect().sortBy(_.session_start_us)
    assert(out.length == 2)
    assert(out(0).n_events == 2 && out(0).total_cents == 30L)
    assert(out(1).n_events == 1 && out(1).total_cents == 30L)
  }

  test("stream-static enrichment equals the batch broadcast join") {
    val streamed = Streaming.runToBatch(spark,
      Streaming.enrichWithSegment(
        Streaming.eventsStream(spark, sf()), Tables.customer(spark, sf())),
      org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = Tables.events(spark, sf()).select("event_id", "user_id")
      .join(Tables.customer(spark, sf()),
        col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_mktsegment").as("segment"))
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty)
  }

  test("streaming dedup emits each key exactly once; watermark variant bounds state") {
    val streamed = Streaming.runToBatch(spark,
      Streaming.dedupStream(Streaming.eventsStream(spark, sf())),
      org.apache.spark.sql.streaming.OutputMode.Append())
    val distinct = Tables.events(spark, sf())
      .select("user_id", "event_type").distinct()
    assert(streamed.exceptAll(distinct).isEmpty && distinct.exceptAll(streamed).isEmpty)

    // within-watermark variant: same keys on a single-batch replay (all
    // rows inside one micro-batch → nothing falls beyond the horizon),
    // but with evictable state — the bounded form for retry-only dupes
    val wm = Streaming.runToBatch(spark,
      Streaming.dedupStreamWithinWatermark(Streaming.eventsStream(spark, sf())),
      org.apache.spark.sql.streaming.OutputMode.Append())
      .select("user_id", "event_type")
    assert(wm.exceptAll(distinct).isEmpty && distinct.exceptAll(wm).isEmpty)
  }

  test("s5b eviction: duplicate inside horizon suppressed, after eviction re-emitted") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val deduped = Streaming.dedupStreamWithinWatermark(
      mem.toDF().toDF("user_id", "event_type", "ts"), delay = "10 seconds")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("graft_s5b_evict").start()
    try {
      // batch 1: key (1,a) first arrival + an in-horizon retry → 1 row
      mem.addData((1L, "a", ts(0)), (1L, "a", ts(5)))
      q.processAllAvailable()
      // batch 2: unrelated key advances the watermark to 100-10=90s,
      // past (1,a)'s eviction horizon (0+10s) → its state evicts
      mem.addData((2L, "b", ts(100)))
      q.processAllAvailable()
      // batch 3: (1,a) again at 95s (>watermark, so not late): state is
      // gone, the key re-emits — the bounded-state trade s5 never makes
      mem.addData((1L, "a", ts(95)))
      q.processAllAvailable()
      val rows = spark.table("graft_s5b_evict")
        .groupBy("user_id", "event_type").count()
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(rows((1L, "a")) == 2, s"expected re-emission after eviction: $rows")
      assert(rows((2L, "b")) == 1, rows.toString)
    } finally q.stop()
  }

  test("streaming daily totals match the batch group-by per day") {
    val streamed = ExtRef.streamDailyTotals(spark, sf())
    val events = Tables.events(spark, sf())
    val batch = graft.ops.Viewing.validRows(graft.ops.Viewing.categorize(events))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("Type"))
      .agg(sum(graft.ops.Viewing.cents).as("value_cents"))
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty)
  }

  test("streaming hot types equal the batch top-3 per day") {
    val streamed = ExtRef.streamHotTypes(spark, sf())
    val events = Tables.events(spark, sf())
    val batch = graft.ops.Viewing.validRows(graft.ops.Viewing.categorize(events))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(sum(graft.ops.Viewing.cents).as("value_cents"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("day")
          .orderBy(col("value_cents").desc, col("event_type"))))
      .filter(col("rk") <= 3)
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty)
    // exactly 3 (or fewer, if a day has fewer types) rows per day,
    // ranks contiguous from 1
    val byDay = streamed.collect().groupBy(_.getString(0))
    byDay.foreach { case (d, rows) =>
      val rks = rows.map(_.getInt(3)).sorted.toSeq
      assert(rks == (1 to rks.length), s"day $d ranks $rks")
      assert(rks.length <= 3)
    }
  }

  test("streaming sliding totals: every valid event lands in exactly two 2-day windows") {
    val streamed = graft.analytics.ExtPipelines.streamSlidingTotals(spark, sf())
    // independent batch twin: assign each event its two window starts by
    // date arithmetic (no window() call), then aggregate
    val base = graft.ops.Viewing.validRows(
      graft.ops.Viewing.categorize(Tables.events(spark, sf())))
    val day = col("ts").cast("date")
    val batch = base
      .select(col("ts"), col("Type"), graft.ops.Viewing.cents.as("cents"))
      .withColumn("o", explode(array(lit(0), lit(1))))
      .groupBy(
        date_format(date_sub(day, col("o")), "yyyy-MM-dd").as("win_start"),
        date_format(date_add(date_sub(day, col("o")), 2), "yyyy-MM-dd").as("win_end"),
        col("Type"))
      .agg(sum(col("cents")).as("value_cents"))
    assert(batch.exceptAll(streamed).isEmpty && streamed.exceptAll(batch).isEmpty)
  }

  test("streaming ingest dedup admits exactly the batch-admitted set") {
    val streamed = graft.analytics.ExtPipelines
      .streamIngestDedup(spark, sf())
      .collect().map(_.getLong(0)).toSet
    // batch recompute of the same exact-digest stage on the same split
    import graft.ext.DataSplit
    val split = DataSplit.withSplit(
      graft.sources.Tables.documents(spark, sf()).select("doc_id", "text"),
      "doc_id")
    val corpusTexts = split.filter(col("split") === "train")
      .select("text").distinct().collect().map(_.getString(0)).toSet
    val batch = split.filter(col("split") === "test")
      .collect().filter(r => !corpusTexts(r.getString(1)))
      .map(_.getLong(0)).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming distinct-users sketch equals the batch sketch exactly") {
    // HLL is deterministic for fixed data and rsd, and its merge is
    // commutative — so the streamed per-window estimate must equal the
    // batch estimate bit-for-bit, not just land in the error band
    val streamed = graft.streaming.Streaming.runToBatch(spark,
      graft.streaming.Streaming.dailyDistinctUsers(
        graft.streaming.Streaming.eventsStream(spark, sf())))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = graft.sources.Tables.events(spark, sf())
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(approx_count_distinct(col("user_id"), 0.005).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    // and the wrapper's banded contract holds
    val ok = graft.analytics.ExtPipelines.streamDistinctUsers(spark, sf())
      .collect()
    assert(ok.nonEmpty && ok.forall(_.getBoolean(2)))
  }

  test("s22: streamed bottom-k segment sketches are BIT-IDENTICAL to the batch build") {
    // bottomK(S) is a pure function of the set — unlike the q-digest,
    // whose contents are merge-tree state — so the streamed sketches
    // must equal the batch ones exactly, under whatever micro-batch
    // schedule AvailableNow produced (the strongest batch≡stream form;
    // it is why s22 shares g36's oracle verbatim)
    val k = graft.functions.Theta.DefaultK
    val streamed = graft.streaming.Streaming.runToBatch(spark,
      graft.streaming.Streaming.userSegmentSketches(
        graft.streaming.Streaming.eventsStream(spark, sf()), k))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
    val th = udaf(new graft.functions.ThetaSketchAggregator(k))
    val batch = graft.sources.Tables.events(spark, sf())
      .groupBy(col("event_type").as("seg"))
      .agg(th(xxhash64(col("user_id"))).as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
    assert(streamed == batch)
    // and the registered row's pins all hold on the drained stream
    val rows = graft.analytics.Pipelines.streamThetaSegments(spark, sf())
      .collect()
    assert(rows.nonEmpty && rows.forall(r =>
      r.getBoolean(7) && r.getBoolean(8) && r.getBoolean(9)))
  }

  test("streaming CDC emits exactly the batch diff minus removals") {
    val streamed = graft.analytics.ExtPipelines.streamCdc(spark, sf())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    // batch recompute: the full x19 snapshot diff, removals dropped
    val batch = graft.analytics.ExtPipelines.snapshotDiff(spark, sf())
      .filter(col("status") =!= "removed")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(streamed == batch)
    assert(streamed.map(_._2) == Set("added", "changed"),
      "both stream-observable statuses occur; removed never does")
  }

  test("parquet sink: mid-stream kill + restart + late files = exactly the batch result") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft-sink-restart").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ck = s"$tmp/ck"
    // stage the normalized events as 8 parquet files so
    // maxFilesPerTrigger=1 yields 8 distinct micro-batches; first 4
    // now, 4 arrive "later" (after the kill)
    val ev = Tables.events(spark, sf())
    ev.where(pmod(col("event_id"), lit(2)) === 0).repartition(4)
      .write.parquet(in)
    val schema = spark.read.parquet(in).schema
    def src() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    // run 1: continuous trigger, KILLED once at least one batch has
    // committed but (almost surely) before all 4 have — the crash case
    val q1 = Streaming.parquetSink(Streaming.enrichedForLake(src()), out, ck,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (q1.recentProgress.map(_.numInputRows).sum < 1 &&
        System.nanoTime() < deadline) Thread.sleep(25)
    q1.stop()
    assert(q1.recentProgress.nonEmpty, "run 1 never processed a batch")
    // late arrivals land while the stream is down
    ev.where(pmod(col("event_id"), lit(2)) === 1).repartition(4)
      .write.mode("append").parquet(in)
    // run 2: resume from the SAME checkpoint, drain everything
    val q2 = Streaming.parquetSink(Streaming.enrichedForLake(src()), out, ck)
    q2.awaitTermination()
    // metadata-aware read-back (the _spark_metadata log hides any
    // orphan files from the killed attempt) vs the batch oracle over
    // the full input — multiset equality = no loss AND no dupes (a
    // replayed batch would double its rows; a skipped one would lose
    // them)
    val sink = spark.read.parquet(out)
      .select("event_id", "user_id", "Type", "value_cents", "day")
    val oracle = Streaming.enrichedForLake(spark.read.parquet(in))
    assert(oracle.count() > 0)
    assert(sink.exceptAll(oracle).isEmpty && oracle.exceptAll(sink).isEmpty)
    // the day partitioning actually materialized as directories
    val days = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("day="))
    assert(days.nonEmpty, "sink must be partitioned by day")
  }

  test("s15: streaming near-dup ingest — cross-batch dedup; kill/resume admits nothing twice") {
    import java.nio.file.Files
    import spark.implicits._
    import graft.ext.Dedup
    val tmp = Files.createTempDirectory("graft-s15-restart").toString
    val standing = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val idxPath = s"$tmp/idx"
    Dedup.saveMinhashIndex(standing, idxPath)
    // two source files → two micro-batches at maxFilesPerTrigger=1.
    // Planted cases: 101 exactly duplicates a STANDING doc; 103/201
    // duplicate each other ACROSS micro-batches (the case the per-batch
    // delta frames exist for — a stateless per-batch probe admits both);
    // 102/202 are fresh.
    val fileA = Seq(
      (101L, "alpha beta gamma delta epsilon"),
      (102L, "unique text number one about cats and dogs playing"),
      (103L, "shared sentence tokens here we go again and again"))
      .toDF("doc_id", "text")
    val fileB = Seq(
      (201L, "shared sentence tokens here we go again and again"),
      (202L, "another fresh document with its own words entirely"))
      .toDF("doc_id", "text")
    val in = s"$tmp/in"
    fileA.coalesce(1).write.parquet(in)
    fileB.coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    def src() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    // run 1: continuous trigger, KILLED once ≥1 batch has committed
    val out = s"$tmp/out"; val delta = s"$tmp/delta"; val ck = s"$tmp/ck"
    val q1 = Streaming.nearDupIngestStream(src(), idxPath, out, delta, ck,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (q1.recentProgress.map(_.numInputRows).sum < 1 &&
        System.nanoTime() < deadline) Thread.sleep(25)
    q1.stop()
    assert(q1.recentProgress.nonEmpty, "run 1 never processed a batch")
    // run 2: resume from the SAME checkpoint, drain the rest
    val q2 = Streaming.nearDupIngestStream(src(), idxPath, out, delta, ck)
    q2.awaitTermination()
    val admitted = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0))
    // exactly-once across the kill: no doc admitted twice (a replayed
    // batch overwrites its own batch_id directory, never appends)
    assert(admitted.length == admitted.toSet.size)
    val set = admitted.toSet
    assert(!set.contains(101L), "exact dup of a standing doc admitted")
    assert(Set(103L, 201L).intersect(set).size == 1,
      s"cross-micro-batch dup pair must admit exactly one, got $set")
    assert(set.contains(102L) && set.contains(202L), s"fresh docs lost: $set")
    // an UNINTERRUPTED control run over the same source admits the
    // same set — the kill/resume changed nothing
    val q3 = Streaming.nearDupIngestStream(src(), idxPath,
      s"$tmp/out2", s"$tmp/delta2", s"$tmp/ck2")
    q3.awaitTermination()
    val control = spark.read.parquet(s"$tmp/out2").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(control == set)
    // COMPACTION closes the lifecycle: fold the drained epoch's deltas
    // into the standing index and clear them
    val admittedDocs = spark.read.parquet(in)
      .join(spark.read.parquet(out).select("doc_id"), Seq("doc_id"), "left_semi")
    Dedup.compactMinhashDeltas(spark, delta, idxPath)
    for (sub <- Seq("bands", "shingles", "sizes"))
      assert(!new java.io.File(s"$delta/$sub").exists(), s"$sub deltas must clear")
    // the compacted index equals a rebuild over standing ∪ admitted —
    // frame-multiset equality, the x26c pin applied to the stream's
    // moved-not-rederived delta rows
    Dedup.saveMinhashIndex(
      standing.unionByName(admittedDocs), s"$tmp/rebuild")
    val (cb, csh, csz) = Dedup.loadMinhashIndex(spark, idxPath)
    val (rb2, rsh2, rsz2) = Dedup.loadMinhashIndex(spark, s"$tmp/rebuild")
    def rows(df: org.apache.spark.sql.DataFrame) = {
      val cols = df.columns.sorted.map(col).toSeq
      df.select(cols: _*).collect().map(_.toSeq).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
    }
    assert(rows(cb) == rows(rb2), "compacted bands diverge from rebuild")
    assert(rows(csh) == rows(rsh2), "compacted shingles diverge from rebuild")
    assert(rows(csz) == rows(rsz2), "compacted sizes diverge from rebuild")
    // and a NEXT epoch serves identically against the compacted index:
    // a doc duplicating a previously STREAM-ADMITTED doc is rejected
    val next = Seq(
      (301L, "unique text number one about cats and dogs playing"), // dup of admitted 102
      (302L, "completely new content that matches nothing before now"))
      .toDF("doc_id", "text")
    val admittedNext = Dedup.nearDupIngest(cb, csh, csz, next)
      .collect().map(_.getLong(0)).toSet
    assert(admittedNext == Set(302L), admittedNext.toString)
  }

  test("s15: an all-rejected micro-batch neither poisons later batches nor the compaction") {
    import java.nio.file.Files
    import spark.implicits._
    import graft.ext.Dedup
    // a partitioned write of an EMPTY frame creates a footer-less
    // batch=N directory; delta detection must look for parquet files,
    // or batch 1 (and the nightly compaction) dies at schema inference
    val tmp = Files.createTempDirectory("graft-s15-empty").toString
    val standing = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val idxPath = s"$tmp/idx"
    Dedup.saveMinhashIndex(standing, idxPath)
    val in = s"$tmp/in"
    // file A: ONLY exact dups of standing — batch 0 admits nothing
    Seq((101L, "alpha beta gamma delta epsilon"),
      (102L, "one two three four five six")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(in)
    // file B: a fresh doc — batch 1 must still run and admit it
    Seq((201L, "a genuinely fresh document with brand new words"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = Streaming.nearDupIngestStream(src, idxPath,
      s"$tmp/out", s"$tmp/delta", s"$tmp/ck")
    q.awaitTermination()
    val admitted = spark.read.parquet(s"$tmp/out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(admitted == Set(201L), admitted.toString)
    // the compaction reads an epoch holding one EMPTY and one data
    // batch, folds the data, and clears the dirs
    Dedup.compactMinhashDeltas(spark, s"$tmp/delta", idxPath)
    for (sub <- Seq("bands", "shingles", "sizes"))
      assert(!new java.io.File(s"$tmp/delta/$sub").exists(), sub)
    val (cb, csh, csz) = Dedup.loadMinhashIndex(spark, idxPath)
    val next = Seq((301L, "a genuinely fresh document with brand new words"))
      .toDF("doc_id", "text")
    assert(Dedup.nearDupIngest(cb, csh, csz, next).count() == 0,
      "the compacted stream admission must reject a dup of doc 201")
    // an ALL-empty epoch compacts as a no-op (delta dirs with zero
    // footers anywhere must read as 'no deltas', not throw)
    val q2 = Streaming.nearDupIngestStream(
      spark.readStream.schema(schema).parquet(in).filter(col("doc_id") < 0),
      idxPath, s"$tmp/out2", s"$tmp/delta2", s"$tmp/ck2")
    q2.awaitTermination()
    Dedup.compactMinhashDeltas(spark, s"$tmp/delta2", idxPath)
  }

  test("s15: a micro-batch reads its stream's deltas with the declared frame schema and submits no footer-inference job") {
    import java.nio.file.Files
    import spark.implicits._
    import graft.ext.{Dedup, IndexLayout}
    val tmp = Files.createTempDirectory("graft-s15-delta-read").toString
    val idxPath = s"$tmp/idx"
    Dedup.saveMinhashIndex(Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")).toDF("doc_id", "text"), idxPath)
    val in = s"$tmp/in"
    Seq((101L, "unique text number one about cats and dogs playing"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(in)
    Seq((201L, "another fresh document with its own words entirely"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val src = spark.readStream.schema(spark.read.parquet(in).schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val delta = s"$tmp/delta"
    Streaming.nearDupIngestStream(src, idxPath, s"$tmp/out", delta,
      s"$tmp/ck").awaitTermination()
    // the two micro-batches each left a batch=N root in every delta frame
    val m = IndexLayout.requireManifest(spark, idxPath, Dedup.MinhashIndexFormat)
    for (sub <- Seq("bands", "shingles", "sizes")) {
      val dir = s"$delta/$sub"
      val standing = IndexLayout.readFrame(spark, idxPath, m, sub)
      var read: org.apache.spark.sql.DataFrame = null
      val jobs = jobDescriptions {
        read = Streaming.deltaRows(spark, dir, standing.schema, 2L)
      }
      assert(jobs.isEmpty, s"$sub: reading the deltas submitted jobs $jobs")
      // the counter does count: the bare read infers the footer with a job
      assert(jobsSubmitted(spark.read.parquet(dir)) > 0)
      val inferred = spark.read.parquet(dir)
      assert(read.columns.toSet == standing.columns.toSet)
      val cols = standing.columns.toSeq.map(col)
      assert(read.select(cols: _*).collect().toSet ==
        inferred.select(cols: _*).collect().toSet)
      assert(read.select("doc_id").distinct().as[Long].collect().toSet ==
        Set(101L, 201L), sub)
      // an earlier micro-batch reads only the batches before it
      assert(Streaming.deltaRows(spark, dir, standing.schema, 1L)
        .select("doc_id").distinct().as[Long].collect().toSet ==
        inferred.filter(col("batch") < 1).select("doc_id").distinct()
          .as[Long].collect().toSet)
      assert(standing.unionByName(read).count() ==
        standing.count() + inferred.count())
    }
  }

  test("s23: streaming day-close into the sketch store — kill/resume lands each day exactly once, bit-identical to the batch build") {
    import java.nio.file.Files
    import spark.implicits._
    import graft.ext.SketchStore
    val tmp = Files.createTempDirectory("graft-s23-restart").toString
    val k = 8
    val kind = "theta-user-daily"
    // two source files → two micro-batches at maxFilesPerTrigger=1:
    // file A carries ALL of day 03-04 plus part of 03-05; file B the
    // rest of 03-05 (the cross-micro-batch merge case — the day-close
    // merge must fold both batches' deltas) plus day 03-11
    val fileA = Seq(
      ("2024-03-04 01:00:00", "u1"), ("2024-03-04 02:00:00", "u2"),
      ("2024-03-04 03:00:00", "u4"), ("2024-03-05 04:00:00", "u3"))
    val fileB = Seq(
      ("2024-03-05 05:00:00", "u6"), ("2024-03-05 06:00:00", "u3"),
      ("2024-03-11 07:00:00", "u5"))
    def toDf(s: Seq[(String, String)]) = s.toDF("ts_s", "user_id")
      .select(to_timestamp(col("ts_s")).as("ts"), col("user_id"))
    val in = s"$tmp/in"
    toDf(fileA).coalesce(1).write.parquet(in)
    toDf(fileB).coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    def src() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val store = s"$tmp/store"; val delta = s"$tmp/delta"; val ck = s"$tmp/ck"
    SketchStore.save(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "week STRING, day STRING, sk ARRAY<BIGINT>")), store, kind)
    // run 1: continuous trigger, KILLED once ≥1 batch has committed
    val q1 = Streaming.sketchDeltaStream(src(), delta, ck, k,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (q1.recentProgress.map(_.numInputRows).sum < 1 &&
        System.nanoTime() < deadline) Thread.sleep(25)
    q1.stop()
    assert(q1.recentProgress.nonEmpty, "run 1 never processed a batch")
    // a MID-STREAM close of the one day that has certainly closed (a
    // real deployment's watermark decision): whichever micro-batch
    // committed first, day 03-04's events are complete or absent
    Streaming.closeDaysIntoStore(spark, delta, store, kind, k,
      closedDay = "2024-03-04")
    // run 2: resume from the SAME checkpoint, drain the rest; then the
    // remaining days close
    val q2 = Streaming.sketchDeltaStream(src(), delta, ck, k)
    q2.awaitTermination()
    Streaming.closeDaysIntoStore(spark, delta, store, kind, k,
      closedDay = "9999-12-31")
    // a REPLAYED close (the at-least-once scheduler case) lands nothing
    Streaming.closeDaysIntoStore(spark, delta, store, kind, k,
      closedDay = "9999-12-31")
    def storedRows() = SketchStore.readAll(spark, store, kind).collect()
      .map(r => r.getString(1) -> r.getSeq[Long](2).toList)
    val rows = storedRows()
    // each day exactly once — across the kill, the partial close, and
    // the replayed close
    assert(rows.length == 3 && rows.map(_._1).toSet ==
      Set("2024-03-04", "2024-03-05", "2024-03-11"),
      s"each day must land exactly once, got ${rows.toSeq}")
    // bit-identical to the direct batch build: bottomK is a pure set
    // function, so the stream's batching cannot leak into the store
    val th = udaf(new graft.functions.ThetaSketchAggregator(k))
    val batchDaily = toDf(fileA ++ fileB)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(th(xxhash64(col("user_id"))).as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
    assert(rows.toMap == batchDaily,
      "the streamed store must equal the batch build bit-for-bit")
    // the close appends were manifest-committed batches; the fold
    // consolidates them and changes nothing
    SketchStore.fold(spark, store, kind)
    assert(storedRows().toMap == batchDaily)
  }

  test("s16: streaming IVF ingest equals the batch assignment; kill/resume assigns nothing twice") {
    import java.nio.file.Files
    import graft.ext.{DataSplit, Similarity}
    val tmp = Files.createTempDirectory("graft-s16-restart").toString
    val emb = Tables.embeddings(spark, sf())
    val b = DataSplit.bucket(col("vec_id"))
    val standing = emb.filter(b < 52428)
    val batchDf = emb.filter(b >= 52428)
    // batch oracle: v9's one-shot assignment
    val expected = Similarity.ivfIngest(standing, batchDf, nList = 8, nIters = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // stage the batch as 4 files → ≥4 micro-batches at maxFilesPerTrigger=1
    val in = s"$tmp/in"
    batchDf.repartition(4).write.parquet(in)
    val schema = spark.read.parquet(in).schema
    def src() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val seeds = Similarity.ivfSeedCentroids(standing, nList = 8)
      .localCheckpoint(true)
    // run 1: killed once ≥1 batch committed; run 2 resumes and drains
    val out = s"$tmp/out"; val ck = s"$tmp/ck"
    val q1 = Streaming.ivfIngestStream(src(), seeds, out, ck,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (q1.recentProgress.map(_.numInputRows).sum < 1 &&
        System.nanoTime() < deadline) Thread.sleep(25)
    q1.stop()
    val q2 = Streaming.ivfIngestStream(src(), seeds, out, ck)
    q2.awaitTermination()
    val got = spark.read.parquet(out).select("vec_id", "list_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // nothing assigned twice (per-batch overwrite), and the union over
    // micro-batches equals the one-shot batch assignment bit-for-bit
    assert(got.length == got.map(_._1).distinct.length)
    assert(got.toMap == expected && expected.nonEmpty)
  }

  test("s17: streaming serve equals batch serve; mid-stream deletes honored; kill/resume answers nothing twice") {
    import java.nio.file.Files
    import graft.ext.Similarity
    val tmp = Files.createTempDirectory("graft-s17-restart").toString
    val emb = Tables.embeddings(spark, sf())
    val idx = s"$tmp/idx"
    Similarity.saveIvfIndex(emb, idx, nList = 8, nIters = 1)
    val queries = emb.filter(col("vec_id") < 10)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // DEFAULT stream vs DEFAULT batch serve: the wrapper's defaults
    // must match ivfTopKFromIndex's, or the documented equivalence
    // lies for default invocations
    val expected = key(Similarity.ivfTopKFromIndex(spark, idx, queries))
    // stage the queries as 4 files → ≥4 micro-batches at maxFilesPerTrigger=1
    val in = s"$tmp/in"
    queries.repartition(4).write.parquet(in)
    val schema = spark.read.parquet(in).schema
    def src() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    // run 1: killed once ≥1 batch answered; run 2 resumes and drains
    val out = s"$tmp/out"; val ck = s"$tmp/ck"
    val q1 = Streaming.ivfServeStream(src(), idx, out, ck,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (q1.recentProgress.map(_.numInputRows).sum < 1 &&
        System.nanoTime() < deadline) Thread.sleep(25)
    q1.stop()
    val q2 = Streaming.ivfServeStream(src(), idx, out, ck)
    q2.awaitTermination()
    val got = spark.read.parquet(out)
    // no query answered twice in the folded output (per-batch
    // overwrite), and the union over micro-batches equals the one-shot
    // batch serve bit-for-bit
    assert(got.select("query_id", "rk").distinct().count() == got.count())
    assert(key(got) == expected && expected.nonEmpty)
    // a delete between epochs is honored by the NEXT stream run: the
    // doomed vector is query 0's current top neighbor, so its slot
    // must refill from the surviving corpus
    val doomedId = expected.filter(r => r._1 == 0L && r._3 == 1).head._2
    Similarity.deleteFromIvfIndex(
      { import spark.implicits._; Seq(doomedId).toDF("vec_id") }, idx)
    val q3 = Streaming.ivfServeStream(src(), idx, s"$tmp/out2", s"$tmp/ck2")
    q3.awaitTermination()
    val got2 = key(spark.read.parquet(s"$tmp/out2"))
    assert(!got2.exists(_._2 == doomedId),
      "a tombstoned vector must never be served by a later stream run")
    assert(got2 == key(Similarity.ivfTopKFromIndex(spark, idx, queries)),
      "stream ≡ batch must hold on the tombstoned index")
    // a COMPACTION between micro-batches is invisible to serving: the
    // flip is one atomic manifest rename, every micro-batch resolves
    // the manifest fresh (so it reads exactly the pre- or post-flip
    // composition, never a torn mix), and the answer is unchanged
    // because merge-on-read already served the deletion
    Similarity.compactIvfTombstones(spark, idx)
    val q4 = Streaming.ivfServeStream(src(), idx, s"$tmp/out3", s"$tmp/ck3")
    q4.awaitTermination()
    assert(key(spark.read.parquet(s"$tmp/out3")) == got2,
      "stream serve must be unchanged across a compaction flip")
    // the registered pipeline's identity row holds end-to-end
    val row = graft.analytics.ExtPipelines.streamIvfServe(spark, sf()).collect()
    assert(row.length == 1 && row(0).getBoolean(1), row.mkString)
  }

  test("s18: streaming takedown — no tombstone lost or doubled across kill/resume; serves honor them; compaction resolves them") {
    import java.nio.file.Files
    import spark.implicits._
    import graft.ext.{Dedup, Similarity}
    val tmp = Files.createTempDirectory("graft-s18-restart").toString
    // --- MinHash leg: planted donors so the serve flip is observable
    val donors = Seq(
      (1L, "qqa qqb qqc qqd qqe qqf"),
      (2L, "rra rrb rrc rrd rre rrf"),
      (3L, "ssa ssb ssc ssd sse ssf"),
      (4L, "tta ttb ttc ttd tte ttf"))
    val standing = donors.toDF("doc_id", "text")
    val idx = s"$tmp/idx"
    Dedup.saveMinhashIndex(standing, idx)
    // deletes for ids 1..3 arrive as 3 files → 3 micro-batches; id 4
    // is never deleted
    val in = s"$tmp/in"
    for (id <- Seq(1L, 2L, 3L))
      Seq(id).toDF("doc_id").coalesce(1).write.mode("append").parquet(in)
    val schema = spark.read.parquet(in).schema
    def src() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    // run 1: continuous trigger, KILLED once ≥1 batch committed
    val ck = s"$tmp/ck"
    val q1 = Streaming.minhashDeleteStream(src(), idx, ck,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (q1.recentProgress.map(_.numInputRows).sum < 1 &&
        System.nanoTime() < deadline) Thread.sleep(25)
    q1.stop()
    assert(q1.recentProgress.nonEmpty, "run 1 never processed a batch")
    // run 2: resume from the SAME checkpoint, drain the rest
    val q2 = Streaming.minhashDeleteStream(src(), idx, ck)
    q2.awaitTermination()
    // EXACTLY the streamed ids stand as tombstones — raw ROW count
    // equals the distinct count equals 3: a replayed batch overwrote
    // its own batch_id dir, so nothing was lost or doubled
    val tombRows = Dedup.loadMinhashTombstones(spark, idx).get
      .collect().map(_.getLong(0))
    assert(tombRows.length == 3 && tombRows.toSet == Set(1L, 2L, 3L),
      s"tombstones must be exactly the streamed ids, got ${tombRows.toSeq}")
    // serves honor the streamed tombstones: dups of the deleted donors
    // admit, a dup of the survivor still rejects
    val probes = Seq((101L, donors(0)._2), (104L, donors(3)._2))
      .toDF("doc_id", "text")
    def admitted() = Dedup.nearDupIngestFromPath(spark, idx, probes)
      .collect().map(_.getLong(0)).toSet
    assert(admitted() == Set(101L), "deleted donor must admit; survivor must reject")
    // compaction resolves the streamed tombstones physically
    Dedup.compactMinhashTombstones(spark, idx)
    assert(Dedup.loadMinhashTombstones(spark, idx).isEmpty)
    assert(admitted() == Set(101L),
      "the compacted index must serve identically")
    // --- IVF leg: one drained takedown stream, honored immediately
    val emb = Tables.embeddings(spark, sf())
    val vstanding = emb.filter(col("vec_id") < 300)
    val vidx = s"$tmp/vidx"
    Similarity.saveIvfIndex(vstanding, vidx, nList = 8, nIters = 1)
    val queries = emb.filter(col("vec_id") < 5)
    def vkey(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val doomedId = Similarity.bruteForceTopK(vstanding, queries, k = 1)
      .filter(col("query_id") === 0).collect()(0).getLong(1)
    val vin = s"$tmp/vin"
    Seq(doomedId).toDF("vec_id").coalesce(1).write.parquet(vin)
    val q3 = Streaming.ivfDeleteStream(
      spark.readStream.schema(spark.read.parquet(vin).schema).parquet(vin),
      vidx, s"$tmp/vck")
    q3.awaitTermination()
    val want = vkey(Similarity.bruteForceTopK(
      vstanding.filter(col("vec_id") =!= doomedId), queries, k = 5))
    assert(vkey(Similarity.ivfTopKFromIndex(spark, vidx, queries,
      k = 5, nProbe = 8)) == want,
      "IVF serve must honor the streamed tombstone (freed slot refilled)")
    Similarity.compactIvfTombstones(spark, vidx)
    assert(Similarity.loadIvfTombstones(spark, vidx).isEmpty)
    assert(vkey(Similarity.ivfTopKFromIndex(spark, vidx, queries,
      k = 5, nProbe = 8)) == want)
    // the registered pipeline's identity row holds end-to-end
    val row = graft.analytics.ExtPipelines.streamIndexDelete(spark, sf())
      .collect()
    assert(row.length == 1 && row(0).getBoolean(1), row.mkString)
  }

  test("multimodal featurize: histogram sums to 1, byte_len matches text bytes") {
    val feats = Multimodal.featurize(Tables.documents(spark, sf()))
    val bad = feats.select(col("doc_id"),
      abs(aggregate(col("histogram"), lit(0.0), (a, v) => a + v) - 1.0).as("err"))
      .filter(col("err") > 1e-9)
    assert(bad.count() == 0)
    val lens = Multimodal.withBinaryPayload(Tables.documents(spark, sf()))
      .select(col("doc_id"), length(col("payload")).as("pl"), length(col("text")).as("tl"))
      .filter(col("pl") =!= col("tl"))  // ASCII corpus: bytes == chars
    assert(lens.count() == 0)
  }

  test("media near-dup: contains every exact-dup pair, every pair verifies driver-side") {
    val docs = graft.sources.Tables.documents(spark, sf())
    val pairs = graft.ext.Multimodal.mediaNearDups(docs, maxL1 = 0.001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty)
    // full driver-side recompute: the returned set IS the set of pairs
    // within the threshold, no more, no less
    val hists = graft.ext.Multimodal.featurize(docs)
      .select(col("doc_id"), col("histogram")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val ids = hists.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      l1 = hists(a).zip(hists(b)).map { case (x, y) => math.abs(x - y) }.sum
      if l1 <= 0.001
    } yield (a, b)).toSet
    assert(pairs == expected)
  }

  test("m6: signature groups partition the corpus; identical texts share a group") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf())
    val groups = Multimodal.mediaSigDedup(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // partition property: group sizes sum to the corpus exactly (no
    // doc dropped, none double-counted) and keep ids are distinct
    assert(groups.map(_._3).sum == docs.count())
    assert(groups.map(_._2).distinct.length == groups.length)
    // identical payloads have identical histograms, hence identical
    // signatures: planted exact-text dups can never split
    val planted = Seq((1L, "same text body"), (2L, "same text body"),
      (3L, "a different body")).toDF("doc_id", "text")
    val got = Multimodal.mediaSigDedup(planted).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got.exists { case (keep, n) => keep == 1L && n == 2L }, got.mkString)
  }

  test("sampleFrames: bounded count, uniform spacing, exact frame bytes") {
    import spark.implicits._
    val payload = Array.tabulate(300)(i => (i % 251).toByte) // 5 frames of 64 (last=44)
    val media = Seq(Multimodal.MediaRow(7L, payload)).toDS()
    val frames = Multimodal.sampleFrames(media, frameBytes = 64, nSamples = 4)
      .collect().sortBy(_.frame_idx)
    // nF=5 → sampled idx = j*5/4 for j=0..3 → 0,1,2,3
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 1, 2, 3))
    assert(frames.forall(f => f.frame.sameElements(
      payload.slice(f.frame_idx * 64, math.min(f.frame_idx * 64 + 64, 300)))))
    // shorter than one frame → exactly one sample
    val one = Multimodal.sampleFrames(Seq(Multimodal.MediaRow(8L,
      Array[Byte](1, 2, 3))).toDS(), 64, 4).collect()
    assert(one.length == 1 && one(0).frame_idx == 0 && one(0).frame.length == 3)
  }

  test("resizeStub: block-average downsample, shape-correct, deterministic") {
    val frame = Array.tabulate(64)(_.toByte)
    val small = Multimodal.resizeStub(frame, outBytes = 16)
    assert(small.length == 16)
    // block k averages bytes [4k, 4k+4): (4k + 4k+1 + 4k+2 + 4k+3)/4 = 4k+1
    assert(small.zipWithIndex.forall { case (b, k) => b == (4 * k + 1).toByte })
    assert(small.sameElements(Multimodal.resizeStub(frame, 16)))
    // already small enough → unchanged
    assert(Multimodal.resizeStub(Array[Byte](9, 9), 16).sameElements(Array[Byte](9, 9)))
  }

  test("decodeStub is deterministic and batch-shape independent") {
    val bytes = "some media payload bytes".getBytes("UTF-8")
    assert(Multimodal.decodeStub(bytes).toSeq == Multimodal.decodeStub(bytes).toSeq)
    assert(Multimodal.decodeStub(Array.emptyByteArray).sum == 0.0)
  }

  test("m7: real ImageIO decode — golden pixels round-trip exactly; resize is exact block average; corrupt payloads flag, not throw") {
    // a 4×4 grayscale PNG with KNOWN pixel values v = 16·(4y + x):
    // PNG is lossless, so decode must return these bytes exactly
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) {
      val v = 16 * (4 * y + x)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    val png = buf.toByteArray
    val dec = Multimodal.decodeImage(png).get
    assert(dec.getWidth == 4 && dec.getHeight == 4)
    for (y <- 0 until 4; x <- 0 until 4)
      assert((dec.getRGB(x, y) & 0xFF) == 16 * (4 * y + x),
        s"golden pixel ($x,$y) corrupted by the decode")
    // grayscale ⇒ integer BT.601 luma is the gray value itself
    // (1000v/1000 = v), so the 2×2 resize is an EXACT block average:
    // block (0,0) holds {0,16,64,80} → 40, and so on
    assert(Multimodal.resizeImage(png, 2, 2).get.toSeq ==
      Seq(40, 72, 168, 200).map(_.toByte),
      "resize must be the exact integer block average of the luma grid")
    // 16 distinct lumas 0,16,…,240 land one per histogram bin
    assert(Multimodal.lumaHistogram(dec).forall(_ == 1.0 / 16))
    // a corrupt payload is a flagged row, never an exception — one bad
    // blob must not fail a corpus-scale scan
    assert(Multimodal.decodeImage("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.resizeImage(Array[Byte](1, 2, 3), 2, 2).isEmpty)
    // the synthetic-PNG generator is deterministic (the fixture the
    // bench row and the m7 pipeline decode)
    assert(Multimodal.syntheticPng(7L).toSeq == Multimodal.syntheticPng(7L).toSeq)
    // distributed end-to-end: every per-doc PNG decodes at its encoded
    // geometry through the mapPartitions batch path
    val row = graft.analytics.ExtPipelines.mediaImageDecode(spark, sf())
      .collect()(0)
    assert(row.getLong(0) == row.getLong(1) && row.getBoolean(2),
      s"every synthetic PNG must decode at 32×32: $row")
  }

  test("m8: perceptual near-dup over the real codec finds exactly the perturbed twins, with the constructed margin") {
    // the banded fixture's SEPARATION claims, verified through the real
    // decode: a twin sits within 2·nFlips/1024 of its base, any
    // cross-doc pair at ≥ 2·⌊1024/3⌋/1024 − twin drift
    def hist(id: Long, flips: Int) = Multimodal.lumaHistogram(
      Multimodal.decodeImage(Multimodal.syntheticPngBanded(id, flips)).get)
    def l1(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => math.abs(x - y) }.sum
    val hs = (0L until 50L).map(id => (hist(id, 0), hist(id, 8)))
    val twinMax = hs.map { case (b, t) => l1(b, t) }.max
    assert(twinMax <= 2.0 * 8 / 1024 + 1e-12, s"twin L1 $twinMax")
    val crossMin = (for {
      i <- 0 until 50; j <- (i + 1) until 50
      (a, b) <- Seq((hs(i)._1, hs(j)._1), (hs(i)._1, hs(j)._2),
        (hs(i)._2, hs(j)._2))
    } yield l1(a, b)).min
    assert(crossMin > 0.6, s"cross-doc L1 floor violated: $crossMin")
    // end-to-end: the registered pipeline returns exactly the 50 twin
    // pairs the oracle enumerates (the m4 operation on the m7 codec)
    val got = graft.analytics.ExtPipelines
      .mediaPerceptualNearDup(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nDocs = math.min(graft.sources.Tables.documents(spark, sf())
      .filter(org.apache.spark.sql.functions.col("doc_id") < 50).count(), 50L)
    assert(got == (0L until nDocs).map(id => (id * 2, id * 2 + 1)).toSet,
      s"got ${got.size} pairs")
  }
  test("x30 guards: rebucket under a live or unfolded ingest stream fails loudly; folding recomputes buckets and clears the marker") {
    import spark.implicits._
    import java.nio.file.Files
    import graft.ext.Dedup
    val tmp = Files.createTempDirectory("graft-x30-guard").toString
    val standing = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val idxPath = s"$tmp/idx"
    Dedup.saveMinhashIndex(standing, idxPath, idBuckets = 16)
    val in = s"$tmp/in"
    Seq((101L, "unique text number one about cats and dogs playing"),
      (102L, "another fresh document with its own words entirely"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(in)
    val schema = spark.read.parquet(in).schema
    def src() = spark.readStream.schema(schema).parquet(in)
    // epoch 1 drains and records the delta layout's bucket-count marker
    val delta = s"$tmp/delta"
    Streaming.nearDupIngestStream(src(), idxPath, s"$tmp/out", delta,
      s"$tmp/ck").awaitTermination()
    assert(new java.io.File(s"$delta/_delta_buckets").exists(),
      "the ingest epoch must record its bucket count next to the deltas")
    // rebucket BETWEEN epochs with the deltas unfolded: the next epoch
    // must refuse at start — serving old-count delta dirs under the
    // new-count candidate filter would silently mis-prune
    Dedup.rebucketMinhashIndex(spark, idxPath, newBuckets = 48)
    val e = intercept[IllegalStateException] {
      Streaming.nearDupIngestStream(src(), idxPath, s"$tmp/out2", delta,
        s"$tmp/ck2")
    }
    assert(e.getMessage.contains("rebucketed"), e.getMessage)
    // remediation: the fold RECOMPUTES buckets under the index's
    // current count, so it stays correct even run after the rebucket —
    // and the folded index equals a fresh build at 48 over the union
    val admittedDocs = spark.read.parquet(in)
      .join(spark.read.parquet(s"$tmp/out").select("doc_id"),
        Seq("doc_id"), "left_semi")
    Dedup.compactMinhashDeltas(spark, delta, idxPath)
    assert(!new java.io.File(s"$delta/_delta_buckets").exists(),
      "folding must clear the marker with the dirs")
    Dedup.saveMinhashIndex(standing.unionByName(admittedDocs),
      s"$tmp/rebuild", idBuckets = 48)
    val (cb, csh, csz) = Dedup.loadMinhashIndex(spark, idxPath)
    val (rb, rsh, rsz) = Dedup.loadMinhashIndex(spark, s"$tmp/rebuild")
    for (((a, b), name) <- Seq((cb, rb), (csh, rsh), (csz, rsz))
        .zip(Seq("bands", "shingles", "sizes")))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$name after fold-past-rebucket must equal the fresh 48 build")
    // a fresh epoch under the new count proceeds (marker re-recorded)
    Streaming.nearDupIngestStream(src(), idxPath, s"$tmp/out3", delta,
      s"$tmp/ck3").awaitTermination()
    assert(new java.io.File(s"$delta/_delta_buckets").exists())
    // MID-STREAM half: a rebucket while an epoch is live stops the
    // stream at its next micro-batch instead of mis-pruning silently.
    // Two source files at maxFilesPerTrigger=1 → the rebucket lands
    // between micro-batch 0 and 1 via a processing-time hook.
    val in2 = s"$tmp/in2"
    Seq((301L, "first mid stream document with plain words")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(in2)
    Seq((302L, "second mid stream document with other words")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(in2)
    val src2 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in2)
    val q = Streaming.nearDupIngestStream(src2, idxPath, s"$tmp/out4",
      s"$tmp/delta4", s"$tmp/ck4",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(200))
    // wait for the first micro-batch to commit, then flip the count
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (q.recentProgress.map(_.numInputRows).sum < 1 &&
        System.nanoTime() < deadline) Thread.sleep(25)
    Dedup.rebucketMinhashIndex(spark, idxPath, newBuckets = 32)
    // the guard runs per MICRO-BATCH — land one after the flip
    Seq((303L, "third mid stream document arriving after the flip"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in2)
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(60000)
      fail("the stream must stop loudly after a mid-stream rebucket")
    }
    def rootMsg(t: Throwable): String =
      if (t.getCause == null) String.valueOf(t.getMessage)
      else rootMsg(t.getCause) + String.valueOf(t.getMessage)
    assert(rootMsg(e2).contains("rebucketed under this live ingest stream"),
      rootMsg(e2))
  }
}

private object ExtRef {
  def streamDailyTotals(spark: org.apache.spark.sql.SparkSession, dir: String) =
    graft.analytics.ExtPipelines.streamDailyTotals(spark, dir)
  def streamHotTypes(spark: org.apache.spark.sql.SparkSession, dir: String) =
    graft.analytics.ExtPipelines.streamHotTypes(spark, dir)
}
