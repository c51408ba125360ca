package graft

import java.nio.file.{Files, Path}
import scala.util.Random
import org.apache.spark.sql.functions._
import graft.ops.ReferenceEtl
import graft.sources.{CsvSink, LogSource}

/** Faithful-pipeline tests over synthetic reference-shaped JSONL
  * (FIXTURES.md §1 recipe): exercises S1/S2/S4/S5/P1 plus the full §3.2
  * pipeline semantics that the parquet oracle can't reach.
  */
class ReferenceEtlSpec extends SparkSpec {

  /** Deterministic synthetic daily files in the reference's envelope shape. */
  private lazy val dataDir: Path = {
    val dir = Files.createTempDirectory("graft-jsonl")
    val rnd = new Random(42)
    val apps = Seq("CHANNEL", "DSHD", "KPLUS", "KPlus", "VOD", "FIMS_RES", "BHD_RES",
      "VOD_RES", "FIMS", "BHD", "DANET", "RELAX", "CHILD", "SPORT", "UNKNOWN_APP", "APP2")
    val contracts = Seq("0", "HNH579912", "HND123456", "SGD000001", "DNFD81388", "HUFD40676")
    for (day <- Seq("20220401", "20220402", "20220403")) {
      val lines = (0 until 400).map { i =>
        val c = contracts(rnd.nextInt(contracts.length))
        val app = apps(rnd.nextInt(apps.length))
        val mac = f"0C96E62FC5${rnd.nextInt(99)}%02d"
        val dur = 1 + rnd.nextInt(10800)
        s"""{"_index":"history","_type":"${app.toLowerCase}","_id":"id$day$i","_score":0,""" +
          s""""_source":{"Contract":"$c","Mac":"$mac","TotalDuration":$dur,"AppName":"$app"}}"""
      }
      Files.write(dir.resolve(s"$day.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    dir
  }

  test("S4: date-range path generation is inclusive and zero-padded") {
    val paths = LogSource.datePaths("/base", "20220330", "20220402")
    assert(paths == Seq("/base/20220330.json", "/base/20220331.json",
      "/base/20220401.json", "/base/20220402.json"))
  }

  test("S4: a reversed date range fails loudly, naming both dates") {
    // an empty path list would make runFull write an empty month report
    // and runPerDayUnion fail in `empty.reduce`
    val calls: Seq[() => Any] = Seq(
      () => LogSource.datePaths(dataDir.toString, "20220403", "20220401"),
      () => ReferenceEtl.runFull(spark, dataDir.toString, "20220403", "20220401"),
      () => ReferenceEtl.runPerDayUnion(spark, dataDir.toString, "20220403", "20220401"))
    for (call <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("20220403") && e.getMessage.contains("20220401"),
        e.getMessage)
    }
    // a one-day range is not reversed
    assert(LogSource.datePaths("/base", "20220401", "20220401") == Seq("/base/20220401.json"))
  }

  test("S1+P1: single-day scan flattens the ES envelope to 4 columns") {
    val flat = LogSource.flattenSource(
      LogSource.readDay(spark, s"$dataDir/20220401.json"))
    assert(flat.columns.toSeq == Seq("Contract", "Mac", "TotalDuration", "AppName"))
    assert(flat.count() == 400)
  }

  test("permissive scan splits good rows from quarantined corrupt lines") {
    val dir = Files.createTempDirectory("graft-corrupt")
    val lines = Seq(
      """{"_index":"history","_type":"vod","_id":"a","_score":0,"_source":{"Contract":"HNH1","Mac":"M1","TotalDuration":10,"AppName":"VOD"}}""",
      """{"_index":"history","_type":"vod","_id":"b","_score":0,"_source":{"Contract":"HNH2",""",  // truncated mid-object
      """not json at all""",
      """{"_index":"history","_type":"kplus","_id":"c","_score":0,"_source":{"Contract":"HNH3","Mac":"M3","TotalDuration":30,"AppName":"KPLUS"}}""")
    Files.write(dir.resolve("day.json"), lines.mkString("\n").getBytes("UTF-8"))
    val scan = LogSource.readDayPermissive(spark, s"$dir/day.json")
    assert(scan.good.count() == 2)
    assert(LogSource.flattenSource(scan.good).columns.toSeq ==
      Seq("Contract", "Mac", "TotalDuration", "AppName"))
    val raw = scan.corrupt.collect().map(_.getString(0))
    assert(raw.length == 2 && raw.exists(_.contains("not json")))
    // the handle releases the shared cached parse (a daily loop would
    // otherwise leak one cached frame per day)
    assert(scan.parsed.storageLevel.useMemory)
    scan.unpersist()
    assert(!scan.parsed.storageLevel.useMemory)
  }

  test("E1: all 14 app codes map to their category; unknown maps to Error") {
    import spark.implicits._
    val expected = Map(
      "CHANNEL" -> "TVDuration", "DSHD" -> "TVDuration", "KPLUS" -> "TVDuration",
      "KPlus" -> "TVDuration", "VOD" -> "MovieDuration", "FIMS_RES" -> "MovieDuration",
      "BHD_RES" -> "MovieDuration", "VOD_RES" -> "MovieDuration", "FIMS" -> "MovieDuration",
      "BHD" -> "MovieDuration", "DANET" -> "MovieDuration", "RELAX" -> "RelaxDuration",
      "CHILD" -> "ChildDuration", "SPORT" -> "SportDuration",
      // case-sensitivity: lowercase variants are NOT mapped (SURVEY.md §7.4)
      "kplus" -> "Error", "vod" -> "Error", "UNKNOWN" -> "Error")
    val df = expected.keys.toSeq.toDF("AppName")
    val got = ReferenceEtl.categorize(df).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == expected)
  }

  test("full pipeline §3.2 matches a hand-computed profile for one contract") {
    import spark.implicits._
    val rows = Seq(
      // Contract, Mac, TotalDuration, AppName
      ("C1", "M1", 100000L, "KPLUS"),   // TV
      ("C1", "M1", 200000L, "VOD"),     // Movie
      ("C1", "M2", 564000L, "RELAX"),   // Relax — total 864000 = exactly 10 days
      ("C1", "M2", 1L, "JUNK"),         // Error row: excluded from sums, counted in devices
      ("0", "M3", 50L, "KPLUS"),        // sentinel contract: dropped by P3, no join partner
      ("C2", "M4", 1728000L, "SPORT"))  // High-activity contract
    val out = ReferenceEtl.fullPipeline(rows.toDF("Contract", "Mac", "TotalDuration", "AppName"))
    val byC = out.collect().map(r => r.getAs[String]("Contract") -> r).toMap
    assert(byC.keySet == Set("C1", "C2"))
    val c1 = byC("C1")
    assert(c1.getAs[Long]("TVDuration") == 100000L)
    assert(c1.getAs[Long]("MovieDuration") == 200000L)
    assert(c1.getAs[Long]("RelaxDuration") == 564000L)
    assert(c1.getAs[Long]("ChildDuration") == 0L)
    assert(c1.getAs[Long]("TotalDevices") == 4L)          // faithful: rows incl. Error row
    assert(c1.getAs[String]("most_watch") == "Giải trí")  // Relax wins
    assert(c1.getAs[String]("Taste") == "Phim truyện-Giải trí-Truyền hình")
    assert(c1.getAs[String]("Active_day") == "Medium")    // 864000/86400 = 10 → Medium boundary
    val c2 = byC("C2")
    assert(c2.getAs[String]("most_watch") == "Thể thao")
    assert(c2.getAs[String]("Active_day") == "High")      // 1728000/86400 = 20 → High boundary
  }

  test("E5 most_watch tie-break follows clause order Child→Movie→Relax→Sport→TV") {
    import spark.implicits._
    val df = Seq((5L, 5L, 5L, 5L, 5L)).toDF(ReferenceEtl.categories: _*)
    val out = Enriched.mostWatch(df)
    assert(out.collect()(0).getAs[String]("most_watch") == "Thiếu nhi")
  }

  test("E6 Taste drops zero categories; all-zero yields empty string") {
    import spark.implicits._
    val df = Seq((0L, 7L, 0L, 3L, 0L), (0L, 0L, 0L, 0L, 0L)).toDF(ReferenceEtl.categories: _*)
    val got = graft.ops.Enrich.taste(ReferenceEtl.catLabels)(df)
      .select("Taste").collect().map(_.getString(0)).toSet
    assert(got == Set("Phim truyện-Thể thao", ""))
  }

  test("E7 Active_day boundaries: <10 Low, =10 Medium, =20 High") {
    import spark.implicits._
    val mk = (days: Long) => (days * 86400L, 0L, 0L, 0L, 0L)
    val df = Seq(mk(9), mk(10), mk(19), mk(20)).toDF(ReferenceEtl.categories: _*)
    val got = graft.ops.Enrich.activityLevel(ReferenceEtl.categories)(df)
      .select("Active_day").collect().map(_.getString(0)).toSeq
    assert(got == Seq("Low", "Medium", "Medium", "High"))
  }

  test("method1 ≡ method2: single multi-day scan equals per-day union") {
    val m1 = ReferenceEtl.runFull(spark, dataDir.toString, "20220401", "20220403")
    val m2 = ReferenceEtl.runPerDayUnion(spark, dataDir.toString, "20220401", "20220403")
    // method 2 unions per-day profiles, so aggregate the union per contract
    // is NOT the same as method 1 (per-day pivots differ); instead assert
    // the A1-level equivalence the reference benchmarks imply:
    val a1m1 = ReferenceEtl.durationByCategory(ReferenceEtl.validRows(ReferenceEtl.categorize(
      LogSource.flattenSource(LogSource.readDays(spark,
        LogSource.datePaths(dataDir.toString, "20220401", "20220403"))))))
    val perDay = LogSource.datePaths(dataDir.toString, "20220401", "20220403")
      .map(p => ReferenceEtl.durationByCategory(ReferenceEtl.validRows(ReferenceEtl.categorize(
        LogSource.flattenSource(LogSource.readDay(spark, p))))))
      .reduce(_.unionByName(_))
      .groupBy("Contract", "Type").agg(sum("TotalDuration").as("TotalDuration"))
    assert(a1m1.exceptAll(perDay).isEmpty && perDay.exceptAll(a1m1).isEmpty)
    // and both full-pipeline variants produce schema-aligned outputs
    assert(m1.columns.toSeq.sorted == m2.columns.toSeq.distinct.sorted)
  }

  test("one-day pipeline keeps null cells (no zero-fill) and adds Date lit") {
    import spark.implicits._
    val rows = Seq(("C1", "M1", 100L, "KPLUS"))
    val out = ReferenceEtl.oneDayPipeline(
      rows.toDF("Contract", "Mac", "TotalDuration", "AppName"), "2025-07-22")
    val r = out.collect()(0)
    assert(r.getAs[String]("Date") == "2025-07-22")
    assert(r.getAs[Long]("TVDuration") == 100L)
    assert(r.isNullAt(r.fieldIndex("MovieDuration")))  // faithful null, not 0
  }

  test("S5: single-file CSV sink round-trips with header and UTF-8 labels") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-csv").resolve("res").toString
    val df = Seq(("C1", "Thiếu nhi")).toDF("Contract", "most_watch")
    CsvSink.writeSingle(df, out)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.collect()(0).getString(1) == "Thiếu nhi")
    assert(new java.io.File(out).listFiles().count(_.getName.endsWith(".csv")) == 1)
  }
}

/** Helper shared with the tie-break test. */
object Enriched {
  def mostWatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.ops.Enrich.mostWatch(ReferenceEtl.catLabels)(df)
}
