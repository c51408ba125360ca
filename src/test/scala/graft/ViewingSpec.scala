package graft

import org.apache.spark.sql.functions._
import graft.ops.Viewing
import graft.sources.Tables

/** Events-analog operator properties on the real testdata. */
class ViewingSpec extends SparkSpec {

  private lazy val events = Tables.events(spark, sf())

  test("pivot row sums equal long-form group sums (A3 ≡ A1 reshaped)") {
    val long = Viewing.durationByCategory(
      Viewing.validRows(Viewing.categorize(events)))
    val wideTotal = Viewing.pivotDurations(long)
      .select(sum(Viewing.categories.map(col).reduce(_ + _)))
      .collect()(0).getLong(0)
    val longTotal = long.select(sum("value_cents")).collect()(0).getLong(0)
    assert(wideTotal == longTotal)
  }

  test("categorize maps error events to the Error sentinel, others to categories") {
    val got = Viewing.categorize(events)
      .groupBy("event_type", "Type").count()
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("error" -> "Error", "view" -> "ViewDuration",
      "click" -> "ClickDuration", "purchase" -> "PurchaseDuration",
      "signup" -> "SignupDuration"))
  }

  test("validRows drops exactly user 0 and Error rows") {
    val cat = Viewing.categorize(events)
    val kept = Viewing.validRows(cat)
    assert(kept.filter(col("user_id") === 0 || col("Type") === "Error").count() == 0)
    assert(cat.count() ==
      kept.count() + cat.filter(col("user_id") === 0 || col("Type") === "Error").count())
  }

  test("incremental flagship routes null-ts rows to history, not the void") {
    // rows with ts IS NULL satisfy neither `<= splitDate` nor `>` — the
    // incremental split must still count them exactly once to keep its
    // hash-identity with the single-pass flagship (which never looks at ts)
    val bump = events.filter(col("user_id") =!= 0 && col("event_type") === "view")
      .limit(5)
      .withColumn("ts", lit(null).cast(events.schema("ts").dataType))
      .withColumn("value", lit(1.0e7))
    val withNulls = events.unionByName(bump)
    val inc = Viewing.incrementalProfile(withNulls, "2024-01-15")
    val full = Viewing.fullPipeline(withNulls)
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty)
    // guard against vacuous pass: dropping the null-ts rows WOULD change
    // the profile, so the identity above proves they were counted
    assert(inc.exceptAll(Viewing.fullPipeline(events)).count() > 0)
  }

  test("faithful device counts include Error rows; distinct counts are <= faithful") {
    val faithful = Viewing.deviceCounts(events).withColumnRenamed("TotalDevices", "f")
    val distinct = Viewing.deviceCountsDistinct(events).withColumnRenamed("TotalDevices", "d")
    val joined = faithful.join(distinct, "user_id")
    assert(joined.filter(col("d") > col("f")).count() == 0)
    assert(faithful.agg(sum("f")).collect()(0).getLong(0) == events.count())
  }

  test("flagship profile: every user except 0 appears, enrichment cols populated") {
    val out = Viewing.fullPipeline(events)
    assert(out.filter(col("user_id") === 0).count() == 0)
    assert(out.filter(col("most_watch").isNull).count() == 0)
    assert(out.filter(col("Active_day").isNull).count() == 0)
    // Taste contains the most_watch label for every row (winner has nonzero sum
    // unless all four are zero, impossible for a joined user)
    assert(out.filter(!col("Taste").contains(col("most_watch"))).count() == 0)
  }
}
