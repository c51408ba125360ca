package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.Viewing
import graft.sources.Tables

/** Composed, oracle-checkable pipelines over the testdata tables.
  * Each method matches a `SparkEntry.queries` entry; oracle SQL lives in
  * `SparkEntry.oracleSql`. Column names/aliases MUST match the oracle.
  */
object Pipelines {

  private def cents(c: Column): Column = round(c * 100).cast("long")

  // ---- reference-parity surface on `events` (SURVEY.md §2) ----

  /** E1 categorize — when-chain + isin (E1/E2). */
  def categorize(spark: SparkSession, dir: String): DataFrame =
    Viewing.categorize(Tables.events(spark, dir)).select("event_id", "Type")

  /** P2/P3/P4 — projection + both sentinel filters. */
  def validRows(spark: SparkSession, dir: String): DataFrame =
    Viewing.validRows(Viewing.categorize(Tables.events(spark, dir)))
      .select("event_id", "user_id", "Type")

  /** A1 group-by sum. */
  def durationByCategory(spark: SparkSession, dir: String): DataFrame =
    Viewing.durationByCategory(
      Viewing.validRows(Viewing.categorize(Tables.events(spark, dir))))

  /** A2 faithful row-count "devices". */
  def devicesFaithful(spark: SparkSession, dir: String): DataFrame =
    Viewing.deviceCounts(Tables.events(spark, dir))

  /** A2 fixed countDistinct devices. */
  def devicesDistinct(spark: SparkSession, dir: String): DataFrame =
    Viewing.deviceCountsDistinct(Tables.events(spark, dir))

  /** A3 explicit-values pivot + E9 zero-fill. */
  def pivotDurations(spark: SparkSession, dir: String): DataFrame =
    Viewing.pivotDurations(durationByCategory(spark, dir))

  /** Flagship §3.2 pipeline (also `SparkEntry.entry`): one per-user
    * aggregation — one scan, one shuffle, no join — then E4–E7. Both
    * `flagship_profile` and `flagship_profile_fast` run this body. */
  def flagshipProfile(spark: SparkSession, dir: String): DataFrame =
    Viewing.fullPipeline(Tables.events(spark, dir))

  /** Incremental flagship: mergeable per-user state over a history slice
    * + a fresh slice, merged and finalized — hash-identical to the
    * single-pass flagship (same oracle). The daily-job form: at 100 TB
    * only the new day is aggregated from raw events; history rides as
    * per-user state. */
  def incrementalProfile(spark: SparkSession, dir: String): DataFrame =
    Viewing.incrementalProfile(Tables.events(spark, dir), "2024-01-15")

  /** §3.1 one-day variant (E8 literal date, faithful null cells). */
  def oneDay(spark: SparkSession, dir: String): DataFrame =
    Viewing.oneDayPipeline(Tables.events(spark, dir), "2024-01-10")

  val unionDates: Seq[String] = Seq("2024-01-03", "2024-01-04", "2024-01-05")

  /** U1 per-day union (method-2 shape). */
  def unionDays(spark: SparkSession, dir: String): DataFrame =
    Viewing.unionDays(Tables.events(spark, dir), unionDates)

  // ---- generic relational coverage on the TPC-H-ish tables ----

  /** TPC-H Q1-shaped pricing summary. Exact-cents aggregates; l_quantity
    * is integral-valued so its double sum is order-independent too. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val priceCents = cents(col("l_extendedprice"))
    val discPct = cents(col("l_discount"))                  // 0..100 (2-dec discount)
    li.filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        sum(priceCents).as("sum_base_cents"),
        sum(priceCents * (lit(100L) - discPct)).as("sum_disc_c4"),
        count(lit(1)).as("count_order"))
  }

  /** TPC-H Q5-shaped star join: revenue per nation for one region.
    *
    * Broadcast discipline by dimension class: nation/region are
    * FIXED-SIZE (25/5 rows at every SF — they cannot outgrow a
    * broadcast), so they carry an unconditional `broadcast()` hint.
    * customer/supplier SCALE with the data (~150K/10K rows per SF unit;
    * multi-GB at the 100 TB tier), so they carry NO hint: Catalyst +
    * AQE pick broadcast-hash while the side's stats fit
    * `autoBroadcastJoinThreshold` (which they do at every test SF —
    * PlanSpec pins all five joins broadcast at sf0.001/0.01) and fall
    * back to shuffled hash/sort-merge when they don't. A forced hint
    * here would OOM the driver at scale AND forbid AQE from saving the
    * plan — PlanSpec's threshold=-1 test pins that the fallback really
    * is available (hint absent), which a forced broadcast would fail. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    val revCents = cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp,
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(sum(revCents).as("revenue_c4"))
  }

  /** TPC-H Q14-shaped promo-revenue share by ship month — the
    * fact-to-midsize-dimension join shape (lineitem ⋈ part). `part`
    * is orders of magnitude smaller than the fact table but SCALES
    * with SF (~200K rows per unit; multi-GB at the 100 TB tier), so it
    * carries no broadcast hint — Catalyst/AQE broadcast it while its
    * stats fit `autoBroadcastJoinThreshold` (always true at test SFs;
    * PlanSpec pins the broadcast AND the threshold=-1 fallback) and
    * shuffle it when they don't, keeping the plan driver-OOM-safe at
    * any scale. Revenue in exact c4 units (cents × pct) so the monthly
    * sums are bit-stable under any aggregation order. */
  def promoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val part = Tables.part(spark, dir)
    val revC4 = cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
    li.join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(
        sum(when(col("p_type") === "PROMO", revC4).otherwise(lit(0L))).as("promo_c4"),
        sum(revC4).as("total_c4"))
  }

  /** Map-type function coverage (the one complex-type family g12-g19
    * leave out): build a per-returnflag map linestatus→qty with
    * `map_from_entries`, read its cardinality with `size`, explode it
    * back to rows. Exploding back makes the result map-order-independent
    * and plain-SQL oracle-checkable. */
  def mapFunctions(spark: SparkSession, dir: String): DataFrame = {
    val perStatus = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("qty"))
    val asMap = perStatus.groupBy("l_returnflag")
      .agg(map_from_entries(collect_list(struct(col("l_linestatus"), col("qty"))))
        .as("qty_by_status"))
    asMap.select(col("l_returnflag"), size(col("qty_by_status")).as("n_statuses"),
        explode(col("qty_by_status")).as(Seq("l_linestatus", "sum_qty")))
      .select("l_returnflag", "l_linestatus", "sum_qty", "n_statuses")
  }

  /** Window-function coverage: top-3 orders per customer, deterministic
    * tie-break on o_orderkey. */
  def topOrdersPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
  }

  /** Global top-k (sort + limit), deterministic tie-break. */
  def topOrdersGlobal(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  /** DISTINCT coverage. */
  def distinctSegments(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select("c_mktsegment").distinct()

  /** Anti-join coverage: customers with no high-value order (threshold
    * chosen so the result is non-empty at every SF). */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000d)
      .select("o_custkey")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
  }

  /** Left-outer join + aggregate coverage: per-customer order stats,
    * zero-filled for order-less customers. */
  def customerOrderStats(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), cents(col("o_totalprice")).as("oc"))
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(sum(col("oc")), lit(0L)).as("total_cents"))
  }

  /** ROLLUP coverage: subtotals + grand total in one pass. */
  def rollupSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))

  /** INTERSECT coverage: nations with customers in both segments. */
  def intersectSegments(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    c.filter(col("c_mktsegment") === "BUILDING").select("c_nationkey")
      .intersect(c.filter(col("c_mktsegment") === "MACHINERY").select("c_nationkey"))
  }

  /** EXCEPT coverage: nations with BUILDING customers but no MACHINERY. */
  def exceptSegments(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    c.filter(col("c_mktsegment") === "BUILDING").select("c_nationkey")
      .except(c.filter(col("c_mktsegment") === "MACHINERY").select("c_nationkey"))
  }

  /** Semi-join (EXISTS) coverage: orders with a max-quantity line. */
  def ordersWithBigLines(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 50d).select("l_orderkey")
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_custkey")
  }

  /** String-function coverage (upper/substring/length/concat/replace). */
  def stringFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey"),
      upper(col("c_mktsegment")).as("seg_upper"),
      substring(col("c_name"), 1, 8).as("name8"),
      length(col("c_name")).as("name_len"),
      concat(col("c_name"), lit("-"), col("c_mktsegment")).as("name_seg"),
      regexp_replace(lower(col("c_name")), "customer", "cust").as("name_replaced"))

  /** Date/time-function coverage (year/month/day/date_trunc/datediff). */
  def dateFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("y"),
      month(col("o_orderdate")).as("m"),
      dayofmonth(col("o_orderdate")).as("d"),
      date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month_start"),
      datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).as("days_to_2002"))

  /** Explode / lateral coverage: one row per token for a doc subset. */
  def explodeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))

  /** Scalar-subquery coverage: customers above the average balance.
    * Implemented as a broadcast of the 1-row aggregate — the plan shape
    * a decorrelated scalar subquery lowers to. */
  def aboveAvgBalance(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val avgBal = c.agg(avg("c_acctbal").as("avg_bal"))
    c.join(broadcast(avgBal), col("c_acctbal") > col("avg_bal"))
      .select("c_custkey", "c_acctbal")
  }

  /** As-of join coverage: each non-purchase event enriched with the
    * user's most recent purchase amount at that moment. Spark has no
    * native as-of join — `ops.AsOfJoin` composes one (union + running
    * last); DuckDB's ASOF LEFT JOIN is the oracle. */
  def asofLastPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val left = ev.filter(col("event_type") =!= "purchase")
      .select("event_id", "user_id", "ts")
    val right = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        cents(col("value")).as("last_purchase_cents"))
    graft.ops.AsOfJoin.asOf(left, right, "user_id", "ts", Seq("last_purchase_cents"))
      .select("event_id", "user_id", "last_purchase_cents")
  }

  /** g31 — FORWARD as-of with tolerance: for each non-purchase event,
    * the user's NEXT purchase within 3 days (the attribution window in
    * the conversion direction — g22's range join counts touches, this
    * picks the single nearest conversion). Same union + one-window
    * linear plan as g17, mirrored to a following frame; the tolerance
    * is exact integer microsecond arithmetic after the window, zero
    * extra plan cost (see [[graft.ops.AsOfJoin]]). */
  def asofNextPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val left = ev.filter(col("event_type") =!= "purchase")
      .select("event_id", "user_id", "ts")
    val right = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        cents(col("value")).as("next_purchase_cents"))
    graft.ops.AsOfJoin.asOf(left, right, "user_id", "ts",
        Seq("next_purchase_cents"), direction = "forward",
        toleranceSec = Some(3L * 86400L))
      .select("event_id", "user_id", "next_purchase_cents")
  }

  /** Array-function coverage: distinct-sort-slice over token arrays.
    * The slice is emitted `concat_ws`-joined (a sortable scalar) so the
    * driver's pandas-based oracle compare can hash the rows. */
  def arrayFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      concat_ws(",",
        slice(array_sort(array_distinct(split(col("text"), " "))), 1, 5)).as("first5"),
      size(array_distinct(split(col("text"), " "))).as("n_distinct"),
      array_contains(split(col("text"), " "), "spark").as("has_spark"))

  /** JSON scalar-function coverage: extract the `k` field from the
    * JSON `props` column (path extraction + typed cast). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").as("k_str"),
      get_json_object(col("props"), "$.k").cast("int").as("k_int"))

  /** Approximate distinct (HLL). No oracle — sketch values are
    * engine-specific; ApproxSpec pins the error bound instead. */
  def approxDistinctParts(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(approx_count_distinct("l_partkey").as("approx_parts"))

  /** Driver-checkable bound for g16: no ANSI SQL can recompute the HLL
    * sketch value itself, but the accuracy CONTRACT is checkable — the
    * oracle recomputes the exact distinct count and pins
    * `hll_ok = TRUE`, so an estimate drifting out of band hash-fails
    * the row. HLL is deterministic for fixed data (no RNG), so the
    * check is reproducible run-to-run — but rsd is a STANDARD error,
    * not a guaranteed bound, so the pinned band must DOMINATE it: the
    * sketch here runs at rsd=0.005 against a ±5% band (10 standard
    * errors — HLL tail mass beyond 10σ is negligible on any data), so
    * a legitimate sketch deviation on regenerated/rescaled data cannot
    * read as a correctness regression. */
  def approxDistinctBounded(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct("l_partkey").as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.005).as("hll"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("hll") - col("exact_parts"))
          <= col("exact_parts") * lit(0.05)).as("hll_ok"))

  /** Exact interpolated percentiles per group. The quantile points are
    * exact binary fractions (1/4, 1/2, 3/4) over integer cents, so the
    * type-7 interpolation is exact in ANY evaluation order and the
    * DuckDB quantile_cont oracle matches bit-for-bit. At 100 TB swap in
    * approx_percentile (t-digest, mergeable partials) — exact percentile
    * must collect each group's values into one aggregation buffer. */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("c"))
    li.groupBy("l_returnflag")
      .agg(expr("percentile(c, array(0.25D, 0.5D, 0.75D))").as("p"))
      .select(col("l_returnflag"),
        col("p")(0).as("p25"), col("p")(1).as("p50"), col("p")(2).as("p75"))
  }

  /** g21b — the sketch-side contract of g21, g16b-style: at 100 TB the
    * exact per-group percentile (full sort per group) gives way to
    * approx_percentile (t-digest-like mergeable partials), and THAT
    * estimator's contract is driver-checkable even though no SQL can
    * recompute the sketch: the approximate median must land inside the
    * exact interquartile band [p25, p75] — rank error bounds for the
    * configured accuracy (10⁴) are ~0.01% of rank, four orders below
    * the 25% the band allows, so the pin holds on any data/scale tier,
    * not just the one it was tuned on. The band edges are the g21
    * quantile points (exact binary fractions over integer cents →
    * bit-stable), so the oracle recomputes them exactly and pins
    * `approx_ok = TRUE`. */
  def percentileBounded(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("c"))
    li.groupBy("l_returnflag")
      .agg(expr("percentile(c, array(0.25D, 0.75D))").as("p"),
        expr("approx_percentile(c, 0.5D, 10000)").as("ap"))
      .select(col("l_returnflag"),
        col("p")(0).as("p25"), col("p")(1).as("p75"),
        (col("ap") >= col("p")(0) && col("ap") <= col("p")(1)).as("approx_ok"))
  }

  /** Range join via bin bucketing: attribute each non-purchase event to
    * every purchase by the same user in the preceding day. The binned
    * equi-join on (user_id, day-bin) replaces the per-key quadratic
    * sort-merge buffer a raw theta join would need. */
  def attributionRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
    val dayUs = 86400000000L
    val points = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id"), col("ts_us"))
    val ranges = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us").as("start_us"), (col("ts_us") + dayUs).as("end_us"))
    graft.ops.RangeJoin.pointInRange(points, ranges,
      key = "user_id", ptCol = "ts_us", startCol = "start_us",
      endCol = "end_us", binWidth = dayUs)
      .select("event_id", "purchase_id")
  }

  /** CUBE over (returnflag, linestatus): all 2^2 grouping combinations
    * in one pass (rollup's sibling — g8 covers the hierarchy case,
    * this the full lattice). */
  def cubeSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))

  /** g29 — UNPIVOT (melt): the inverse of A3's pivot, via Spark's
    * native `unpivot` (wide → long, no UNION-of-selects plan: one
    * Expand over the wide rows). Round-trip discipline: unpivoting the
    * ZERO-FILLED pivot yields the full user × category grid — exactly
    * a1's rows completed with explicit zero cells — so the oracle is
    * a1's aggregation left-joined onto the grid, and the
    * pivot→unpivot→pivot cycle is lossless (the identity PropertySpec
    * pins for the pivot side). */
  def unpivotDurations(spark: SparkSession, dir: String): DataFrame = {
    val wide = Viewing.pivotDurations(Viewing.durationByCategory(
      Viewing.validRows(Viewing.categorize(Tables.events(spark, dir)))))
    wide.unpivot(
      Array(col("user_id")),
      Viewing.categories.map(col).toArray,
      "Type", "value_cents")
  }

  /** sql1/sql2 — the SQL-TEXT front end: one ANSI string, run by
    * Spark's parser + Catalyst over the registered testdata views
    * ([[graft.sources.Catalog.registerViews]]) AND verbatim by the
    * DuckDB oracle — the byte-identical text IS the parity claim (a
    * user can bring their SQL, not just the DataFrame API).
    *
    * Dialect discipline for one-text-two-engines: TIMESTAMP literals
    * (not bare strings), integer-cents aggregates via
    * CAST(round(x*100) AS BIGINT) (exact under any aggregation order),
    * no `/` on integers (float division in one dialect, would need
    * `//` vs `DIV` in the other), scalar-subquery thresholds built
    * from max() (exact, order-independent) never avg() of doubles
    * (order-dependent last-ulp → boundary rows flip between engines).
    */
  val sql1Q3Text: String =
    """SELECT o_orderkey,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
      |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
      |    AS revenue_c4,
      |  o_orderpriority
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY o_orderkey, o_orderpriority""".stripMargin

  /** Register just the views a SQL-text query reads — re-registering
    * the full catalog per call would re-read 10 parquet footers (and
    * run the embeddings schema guard) inside the benchmark's timed
    * region, charging fixed catalog cost to the query being measured. */
  private def registerViews(spark: SparkSession, dir: String,
      names: String*): Unit =
    names.foreach(n => Tables(spark, dir, n).createOrReplaceTempView(n))

  /** TPC-H Q3-shaped revenue query via SQL text. Catalyst plans the
    * same shape the DataFrame form would get: dimension filter pushed
    * into the customer scan, broadcast join onto orders, one shuffle
    * for the (orderkey, priority) aggregate. */
  def sqlQ3(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir, "customer", "orders", "lineitem")
    spark.sql(sql1Q3Text)
  }

  val sql2ExistsText: String =
    """SELECT c_custkey, c_mktsegment
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice >
      |                    (SELECT max(o_totalprice) * 0.9 FROM orders))""".stripMargin

  /** Correlated EXISTS + scalar subquery via SQL text — exercises
    * Catalyst's subquery decorrelation: the EXISTS becomes a left-semi
    * join, the scalar subquery a one-row broadcast; no per-row
    * re-execution anywhere (the naive interpretation would be
    * O(customers × orders)). */
  def sqlExists(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir, "customer", "orders")
    spark.sql(sql2ExistsText)
  }

  val sql3CteHavingText: String =
    """WITH seg_orders AS (
      |  SELECT c_mktsegment AS segment, o_orderpriority AS priority,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |  FROM customer
      |  JOIN orders ON o_custkey = c_custkey
      |)
      |SELECT segment, priority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(price_cents) AS BIGINT) AS total_cents
      |FROM seg_orders
      |GROUP BY segment, priority
      |HAVING COUNT(*) >= 20""".stripMargin

  /** sql3 — CTE + HAVING via SQL text (same one-text-two-engines
    * discipline as sql1/sql2). Catalyst inlines the CTE, pushes the
    * projection into both scans, broadcasts the customer side, and
    * turns HAVING into a post-aggregate filter — no materialization of
    * the CTE, which is exactly what you want at scale (a CTE is a
    * naming device, not a checkpoint). Counts and integer cents only,
    * so the group hash is bit-stable in both engines. */
  def sqlCteHaving(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir, "customer", "orders")
    spark.sql(sql3CteHavingText)
  }

  val sql4InSubqueryText: String =
    """SELECT o_orderkey, o_orderpriority
      |FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer
      |                    WHERE c_mktsegment = 'BUILDING')
      |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'""".stripMargin

  /** sql4 — uncorrelated IN-subquery via SQL text: Catalyst rewrites
    * the IN to a LEFT SEMI join on c_custkey (no per-row subquery
    * re-execution, no distinct materialization of the IN-list), with
    * the segment filter pushed into the customer scan and the date
    * filter into the orders scan. The NOT IN counterpart — whose
    * three-valued NULL semantics force a null-aware anti join — is
    * sql14, with the broadcast-only caveat documented there; the
    * NOT EXISTS form (plain anti-join, g6's shape) remains the
    * scalable spelling when NULL semantics aren't wanted. */
  def sqlInSubquery(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir, "customer", "orders")
    spark.sql(sql4InSubqueryText)
  }

  /** GROUPING SETS over (returnflag, linestatus): the explicit lattice
    * — rollup (g8) and cube (g25) are the fixed special cases; this is
    * the general form, here ((rf, ls), (rf), ()) — the rollup lattice
    * MINUS nothing but declared set-by-set, which is what real
    * reporting queries do when they need e.g. per-status subtotals
    * without the full cube. `grouping_id()` disambiguates a NULL group
    * key from a NULL-because-aggregated row — without it the two are
    * indistinguishable in the output. One pass, one shuffle: Spark
    * expands to the union of grouping sets BEFORE the exchange, so the
    * cost is the same single aggregation as a plain groupBy per set. */
  def groupingSetsSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"),
        grouping_id().as("gid"))

  /** Window-analytics breadth in one pass over one window spec: running
    * total, 3-row moving average, lead/lag deltas, and quartile bucket
    * per customer's order history. One shuffle on o_custkey; every
    * function shares the same sort, so Spark evaluates them in a single
    * Window operator. */
  def windowAnalytics(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val c = cents(col("o_totalprice"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), c.as("cents"),
        col("o_orderdate"))
      .withColumn("running_cents", sum("cents").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("ma3_cents", avg("cents").over(w.rowsBetween(-2, 0)))
      .withColumn("prev_diff", (col("cents") - lag("cents", 1).over(w)).cast("long"))
      .withColumn("quartile", ntile(4).over(w))
      .select("o_custkey", "o_orderkey", "cents", "running_cents",
        "ma3_cents", "prev_diff", "quartile")
  }

  /** Data-profiling stats in ONE pass: row count, null counts, ranges,
    * and distinct cardinality for the events table — the data-quality
    * gate a pipeline runs before trusting a new drop. Single scan,
    * single aggregation; at 100 TB swap count(DISTINCT) for
    * approx_count_distinct (g16 covers the sketch path). */
  def profileStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_user_id"),
      sum(when(col("props").isNull, 1L).otherwise(0L)).as("null_props"),
      min(unix_micros(col("ts"))).as("min_ts_us"),
      max(unix_micros(col("ts"))).as("max_ts_us"),
      countDistinct(col("event_type")).as("n_event_types"),
      countDistinct(col("user_id")).as("n_users"))

  /** g30 — co-purchase pair counts ("frequently bought together"):
    * for every unordered pair of parts appearing in the same order,
    * count the orders containing both. The basket shape, not the
    * self-join shape: one shuffle groups lineitem into per-order
    * sorted part baskets, pairs are generated MAP-SIDE from each
    * basket (`filter(parts, x -> x > p1)` after an explode — quadratic
    * only in basket size, which TPC-H bounds at 7 and the guard bounds
    * at `maxBasket`), then one shuffle aggregates pair counts. A
    * lineitem⋈lineitem self-join would shuffle the fact table twice
    * and re-filter n² rows per order; this shuffles it once and never
    * materializes a pair outside its basket. At 100 TB the
    * `maxBasket` cap is the skew guard: a single degenerate mega-order
    * (a crawler cart with 10⁵ items) would otherwise emit 5·10⁹ pairs
    * from one task. */
  def coPurchasePairs(spark: SparkSession, dir: String,
      maxBasket: Int = 64, minSupport: Long = 2L): DataFrame = {
    val baskets = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .filter(size(col("parts")).between(2, maxBasket))
    baskets
      .select(explode(col("parts")).as("p1"), col("parts"))
      .select(col("p1"), explode(filter(col("parts"),
        x => x > col("p1"))).as("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= minSupport)
  }

  /** g33 — weighted PageRank over the g30 co-purchase graph: graph
    * centrality as a data-curation signal (the web-scale precedent:
    * crawl frontiers and quality priors are ranked by link centrality;
    * here "parts that co-occur with well-connected parts" — same
    * machinery, in-warehouse). Fixed `iters` power iterations with
    * damping 0.85 over the symmetrized edge list.
    *
    * Engine-exact integer arithmetic end-to-end (no float ever crosses
    * an aggregation boundary): ranks live in µ-units starting at 10⁶;
    * a node's contribution along an edge is `rank_mu · w div wdeg`
    * (long division, truncating — identical to DuckDB's `//` on
    * positives) and the damping finish is `(15·10⁶ + 85·Σ) div 100` —
    * so every engine, partitioning, and aggregation order produces
    * bit-identical ranks. The uniform-teleport variant keeps per-node
    * base mass constant (classic 1/N normalization just rescales by a
    * constant the oracle would also compute; constant-per-node keeps
    * every intermediate in comfortable long range at any N).
    *
    * Scale shape: the edge list is built once (g30's basket fan-out —
    * the fact table shuffles once, pairs never leave their basket),
    * lineage-truncated WITH its src-side degree attached, and reused by
    * every iteration; each iteration is then one hash join (ranks are
    * |nodes|-sized, edges stay put) plus one shuffle on dst — the
    * irreducible per-iteration exchange of distributed PageRank. At
    * 100 TB you bucket the edge table by src (g20's machinery) so the
    * per-iteration join is co-located, and AQE's skew handling covers
    * hub nodes. Dangling nodes cannot exist: the graph is symmetric,
    * so every node has in- and out-mass by construction.
    *
    * Cache hygiene (the [[graft.ext.Checkpoints]] discipline x9's
    * connectedComponents established): each iteration's ranks are
    * checkpointed — so iteration k's plan does NOT contain iterations
    * 1..k-1 and arbitrary `iters` keeps a constant-size plan — and the
    * superseded round plus the edge table are freed before returning.
    * The ONE retained snapshot is the returned final ranks (a
    * |nodes|-row frame; freeing it would free the result). */
  def pageRank(spark: SparkSession, dir: String, iters: Int = 3): DataFrame = {
    import graft.ext.Checkpoints.{ckpt, free}
    val pairs = coPurchasePairs(spark, dir, maxBasket = 64, minSupport = 1L)
      .select(col("p1"), col("p2"), col("n_orders").as("w"))
    val edges = pairs.select(col("p1").as("src"), col("p2").as("dst"), col("w"))
      .unionByName(pairs.select(col("p2").as("src"), col("p1").as("dst"), col("w")))
    val wdeg = edges.groupBy("src").agg(sum("w").as("wdeg"))
    val withDeg = ckpt(edges.join(wdeg, "src"))
    var ranks = ckpt(
      withDeg.select(col("src").as("node")).distinct()
        .select(col("node"), lit(1000000L).as("rank_mu")))
    for (_ <- 1 to iters) {
      val next = ckpt(withDeg.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("rank_mu * w div wdeg").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
        .select(col("dst").as("node"),
          expr("(15000000 + 85 * s) div 100").as("rank_mu")))
      free(ranks) // superseded round — next is already materialized
      ranks = next
    }
    free(withDeg) // the final ranks no longer read the edge table
    ranks
  }

  val sql5WindowText: String =
    """SELECT o_custkey, o_orderkey, price_cents, rk, running_cents
      |FROM (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
      |    rank() OVER (PARTITION BY o_custkey
      |                 ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
      |                          o_orderkey) AS rk,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
      |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS running_cents
      |  FROM orders
      |) t
      |WHERE rk <= 3""".stripMargin

  /** sql5 — window functions via SQL text (sql1's one-text-two-engines
    * discipline): rank-per-customer and a running total share the
    * o_custkey partition, so Catalyst plans ONE exchange and two
    * Window operators separated only by an intra-partition re-sort
    * (the two specs order differently: price vs date). The rank
    * filter deliberately sits ABOVE both windows — the running total
    * must see every order including the ones the rank filter later
    * drops, which is also why WindowGroupLimit cannot apply here (it
    * fires for rank-only pipelines like g5). All arithmetic is
    * integer cents: rank ties are broken by o_orderkey and the
    * running sum is aggregation-order-exact, so the text hashes
    * identically under both engines. */
  def sqlWindow(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir, "orders")
    spark.sql(sql5WindowText)
  }

  val sql6SetOpsText: String =
    """SELECT key, 'both' AS tag FROM (
      |  SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
      |  INTERSECT
      |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') a
      |UNION ALL
      |SELECT key, 'building_no_urgent' AS tag FROM (
      |  SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
      |  EXCEPT
      |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') b""".stripMargin

  /** sql6 — set operations via SQL text: INTERSECT and EXCEPT compile
    * to left-semi / left-anti joins with both branch filters pushed to
    * the scans (the DataFrame forms are g12/g13; this is the SQL-text
    * surface over the same plans). The UNION ALL of the two disjoint
    * legs is a no-shuffle concatenation. Both engines deduplicate
    * INTERSECT/EXCEPT per ANSI, so row sets agree exactly — keys and
    * constant tags only, nothing float-ordered. */
  def sqlSetOps(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir, "customer", "orders")
    spark.sql(sql6SetOpsText)
  }

  val sql7RollupText: String =
    """SELECT n_name, o_orderpriority,
      |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS revenue_cents,
      |  CAST(grouping(n_name) AS BIGINT) AS g_nation,
      |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY ROLLUP(n_name, o_orderpriority)""".stripMargin

  /** sql7 — ROLLUP lattice via SQL text (the g8/g28 machinery reached
    * through the parser): the 3-level subtotal hierarchy compiles to
    * ONE Expand (3 projections per row) feeding ONE hash aggregate —
    * never three scans unioned. `grouping()` markers disambiguate a
    * real NULL key from a subtotal row identically in both engines
    * (ANSI), and integer-cents sums make every lattice level
    * aggregation-order-exact. The two dimension joins stay under the
    * Expand, so the fact table fans out only AFTER the equi-joins
    * prune/attach — at 100 TB the Expand triples rows, which is why
    * it must sit above the joins, not below them. */
  def sqlRollup(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir, "orders", "customer", "nation")
    spark.sql(sql7RollupText)
  }

  val sql8SelectSubqueryText: String =
    """SELECT c_custkey, c_mktsegment,
      |  (SELECT CAST(COALESCE(MAX(CAST(round(o_totalprice * 100) AS BIGINT)), 0)
      |          AS BIGINT)
      |   FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_order_cents,
      |  (SELECT CAST(COUNT(*) AS BIGINT)
      |   FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
      |FROM customer c
      |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')""".stripMargin

  /** sql8 — CORRELATED scalar subqueries in the SELECT list (sql2
    * covered the WHERE-clause EXISTS form; this is the other place
    * users write correlation). The naive reading is one orders scan
    * PER customer row — O(|customer|·|orders|); Catalyst decorrelates
    * each subquery into a grouped aggregate on o_custkey joined LEFT
    * OUTER under the customer scan, so orders is scanned once per
    * subquery and the join is a plain equi-join AQE can broadcast.
    * The two subqueries share the correlation key but not the
    * aggregate, so the plan carries two aggregate-join legs — the
    * documented cost of spelling it this way vs one derived table
    * (which g7 covers); the suite pins BOTH spellings so a user can
    * see the tradeoff. COALESCE pins the no-orders customer to 0
    * (ANSI: empty scalar subquery is NULL in both engines), and
    * COUNT(*) over the decorrelated left join must stay 0 — not 1 —
    * for such customers, which is exactly the null-handling corner
    * the decorrelation rewrite is trusted to get right; integer cents
    * keep the MAX engine-exact. */
  def sqlSelectSubquery(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir, "customer", "orders")
    spark.sql(sql8SelectSubqueryText)
  }

  /** g34 — retention cohort matrix over the event stream: users are
    * cohorted by their FIRST active day, and cell (cohort_day, k)
    * counts how many of that cohort were active k days later — the
    * canonical product-analytics rollup (every cohort's k=0 cell is
    * its size, and the k-decay per row is the retention curve).
    *
    * Scale shape: the fact table is scanned ONCE, reduced immediately
    * to distinct (user, day) — the only content-bearing exchange; the
    * cohort day is attached by an unordered `min` WINDOW over user_id
    * (a join of `days` against a `days`-derived cohort table would
    * recompute — i.e. re-scan — the distinct for both sides, the plan
    * the first cut had), and the final (cohort, k) count-distinct
    * operates on ≤ |users|·|days| rows regardless of event volume.
    * All-integer output (day strings + exact distinct counts), so the
    * oracle hash-compares directly. At 100 TB the distinct
    * pre-aggregation is the load-bearing move: everything after the
    * first exchange moves user-day rows, never events. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(spark, dir)
      .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .distinct()
    days
      .withColumn("cohort_day",
        min(col("day")).over(Window.partitionBy("user_id")))
      .groupBy(col("cohort_day"),
        datediff(to_date(col("day")), to_date(col("cohort_day"))).as("k"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** g35 — ordered conversion funnel over the event stream: of the
    * users who did stage 1, how many LATER did stage 2, and later
    * still stage 3 — the first-touch funnel (each stage anchors at the
    * user's FIRST qualifying time strictly after the previous stage's
    * anchor), the other canonical product-analytics rollup next to
    * g34's retention matrix. Order matters: a purchase BEFORE the
    * first view does not convert the view funnel.
    *
    * Scale shape: one `foldLeft` of per-stage (filter → per-user min)
    * aggregations chained by user-id equi-joins — each stage's filter
    * is pushed to the scan (only that event type's rows move), every
    * aggregate and join keys on user_id so AQE reuses the partitioning,
    * and each stage's frame is at most |users| rows (strictly shrinking
    * downstream). Timestamps compare as exact integer MICROSECONDS
    * (the s2/epoch_us convention), so stage membership — and therefore
    * every count — is engine-exact. */
  def funnel(spark: SparkSession, dir: String,
      stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(stages.nonEmpty, "empty funnel")
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val first = ev.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min("us").as("t"))
    val frames = stages.tail.scanLeft(first) { (prev, stage) =>
      ev.filter(col("event_type") === stage)
        .join(prev.select(col("user_id"), col("t").as("prev_t")), "user_id")
        .filter(col("us") > col("prev_t"))
        .groupBy("user_id").agg(min("us").as("t"))
    }
    frames.zip(stages).zipWithIndex.map { case ((f, stage), i) =>
      f.select(lit(i + 1).as("stage"), lit(stage).as("event_type"),
        col("user_id"))
    }.reduce(_.unionByName(_))
      .groupBy("stage", "event_type")
      .agg(count(lit(1)).as("n_users"))
  }

  /** g35b — the SINGLE-SCAN twin of [[funnel]], same result by the
    * greedy-equivalence argument: taking the EARLIEST qualifying event
    * at each stage is optimal (any stage-k witness sequence implies
    * the greedy chronological sweep also reaches k), so one in-order
    * fold per user computes exactly the chained-min anchors. The fold
    * state is (stage reached, anchor time) and an event advances it
    * only when it is the NEXT stage's type AND strictly later than the
    * anchor — the strictness matters: two stage events sharing a
    * microsecond must not both advance (g35's `us > prev_t` would
    * reject the second), and a naive "advance on type match" sweep
    * would diverge on such ties.
    *
    * Shape trade vs [[funnel]]: ONE fact scan (filtered to the stage
    * types), against g35's |stages| filter-pushed scans + chained
    * delta-sized joins; prefer g35 when the fact store prunes by event
    * type, this form when it doesn't and scans dominate.
    *
    * Per-user state is CAPPED (the g30 maxBasket rule): a first
    * (user, type) aggregation keeps each user's `maxStageEvents`
    * EARLIEST events per stage type through the k-bounded
    * [[graft.functions.TopKAggregator]] (map-side combine ships ≤ cap
    * rows per group per partition), so the per-user fold's
    * `collect_list` holds at most cap·|stages| rows no matter how
    * many events a bot user emits — an unbounded per-user buffer is
    * exactly the state a 100 TB event log blows up. Semantics of the
    * cap, both directions proved in PropertySpec:
    *  - users with ≤ cap events of every stage type are EXACT (all
    *    their events survive the cap — the whole testdata corpus, so
    *    g35b shares g35's oracle);
    *  - beyond the cap the reached stage is a LOWER BOUND on the
    *    uncapped reach: capping keeps a SUBSET of events, any witness
    *    chain in a subset is a chain in the full set, and the greedy
    *    fold computes exactly the max reachable stage — so dropping
    *    events can only lower it (deliberate bot policy: a user whose
    *    funnel conversion hinges on their 10001st click is a bot, not
    *    a conversion).
    * Negated-micros trick: TopKAggregator keeps the k LARGEST by
    * (score desc, id asc), so score = −us (exact — |us| < 2^53, every
    * long in range is a representable double) makes it keep the k
    * EARLIEST, tie-broken on the raw value. */
  def funnelSingleScan(spark: SparkSession, dir: String,
      stages: Seq[String] = Seq("view", "click", "purchase"),
      maxStageEvents: Int = 10000): DataFrame = {
    require(stages.nonEmpty, "empty funnel")
    require(maxStageEvents >= 1, s"need a positive cap, got $maxStageEvents")
    val stageArr = array(stages.map(lit): _*)
    val earliestK = udaf(new graft.functions.TopKAggregator(maxStageEvents))
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .groupBy("user_id", "event_type")
      .agg(earliestK(col("us").cast("double") * -1, col("us")).as("uss"))
      .select(col("user_id"), col("event_type"),
        explode(col("uss")).as("us"))
    val reached = aggregate(
      sort_array(collect_list(struct(col("us"), col("event_type")))),
      struct(lit(0).as("cur"), lit(Long.MinValue).as("t")),
      (st, e) => {
        val advance = st.getField("cur") < lit(stages.size) &&
          e.getField("event_type") ===
            element_at(stageArr, st.getField("cur") + 1) &&
          e.getField("us") > st.getField("t")
        when(advance, struct((st.getField("cur") + 1).as("cur"),
          e.getField("us").as("t"))).otherwise(st)
      }).getField("cur")
    ev.groupBy("user_id").agg(reached.as("reached"))
      .filter(col("reached") >= 1)
      .select(explode(sequence(lit(1), col("reached"))).as("stage"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_users"))
      .select(col("stage"), element_at(stageArr, col("stage")).as("event_type"),
        col("n_users"))
  }

  val sql9MultiJoinText: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
      |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
      |    AS revenue_c4
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name""".stripMargin

  /** sql9 — the TPC-H Q5-shaped SIX-table join through the parser
    * path: the single most common "bring your SQL" query class (fact
    * table × snowflaked dimensions with a selective dimension filter),
    * previously exercised only as the DataFrame form (g2). One ANSI
    * text on both engines, sql1's dialect discipline (integer-cents
    * revenue — exact under any join/aggregation order — TIMESTAMP
    * literals, no bare `/`).
    *
    * Plan shape (PlanSpec-pinned): region and nation are fixed-size
    * dims → broadcast joins (the r_name filter prunes to one region
    * BEFORE the broadcast); the customer⋈orders⋈lineitem⋈supplier
    * fact-side joins shuffle on their keys with AQE free to pick
    * broadcast when a side collapses below the threshold at runtime.
    * The non-key predicate c_nationkey = s_nationkey rides on the
    * supplier equi-join (it's an equi-condition, not a filter above a
    * cross — no nested-loop anywhere). At 100 TB the o_orderdate range
    * prunes the orders scan and everything downstream of it. */
  def sqlMultiJoin(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir, "customer", "orders", "lineitem",
      "supplier", "nation", "region")
    spark.sql(sql9MultiJoinText)
  }

  val sql10WindowDedupText: String =
    """SELECT doc_id, source FROM (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      |  FROM documents) t
      |WHERE rn = 1""".stripMargin

  /** sql10 — keep-first dedup through the parser path: the single most
    * common hand-written dedup SQL (ROW_NUMBER over the dup key,
    * rn = 1), x1/x2's semantics as ONE ANSI text on both engines.
    * Plan shape (PlanSpec-pinned): Catalyst rewrites the rank-1 filter
    * into a WindowGroupLimit BELOW the window — each partition ships
    * only its first row per text group to the sort, so the exchange
    * carries surviving candidates, not the corpus × window overhead.
    * Deterministic by construction (ORDER BY doc_id tie-break), the
    * property that makes the text safe to re-run at 100 TB. */
  def sqlWindowDedup(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir, "documents")
    spark.sql(sql10WindowDedupText)
  }

  val sql11LateralTopNText: String =
    """SELECT c_custkey, o_orderkey, o_totalprice_c
      |FROM customer, LATERAL (
      |  SELECT o_orderkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS o_totalprice_c
      |  FROM orders
      |  WHERE o_custkey = c_custkey
      |  ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC, o_orderkey
      |  LIMIT 3
      |) AS t""".stripMargin

  /** sql11 — LATERAL correlated-subquery-in-FROM through the parser
    * path: top-N-per-group written the way analysts actually write it
    * (each customer's 3 largest orders via a correlated ORDER BY …
    * LIMIT subquery) — with sql9's snowflake join and sql8's
    * decorrelated scalars, the third big "bring your SQL" class.
    *
    * Plan shape (PlanSpec-pinned): Catalyst DECORRELATES the lateral
    * — the per-customer ORDER BY … LIMIT becomes `row_number()` over
    * a window keyed on o_custkey with a `rn ≤ 3` filter, and the
    * apply becomes a plain broadcast/shuffle EQUI-join — NOT a
    * nested-loop re-executing the subquery per customer row, and
    * orders is scanned exactly ONCE. That rewrite is what makes the
    * text survive 100 TB: the orders side reduces to ≤ 3 rows per
    * customer BEFORE the join, and no per-row iteration exists
    * anywhere. Honest cost note: the decorrelated window carries no
    * explicit order spec (it inherits the subquery's ORDER BY as a
    * preserved global range sort below the window), so unlike sql10
    * the `WindowGroupLimit` pushdown cannot fire — the price of the
    * LATERAL spelling over the hand-written window form is one global
    * sort of the filtered orders columns.
    *
    * Dialect discipline (sql1's rules): integer-cents ordering key and
    * output (`round(x*100) AS BIGINT` — exact on both engines), an
    * o_orderkey tie-break so the top-3 SET is deterministic, no bare
    * division. Customers with no orders drop on both engines (inner
    * lateral semantics). */
  def sqlLateralTopN(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir, "customer", "orders")
    spark.sql(sql11LateralTopNText)
  }

  val sql12RecursiveSpineText: String =
    """WITH RECURSIVE months(m) AS (
      |  SELECT 1 AS m
      |  UNION ALL
      |  SELECT m + 1 FROM months WHERE m < 12
      |),
      |rev AS (
      |  SELECT month(o_orderdate) AS m,
      |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev_c
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  GROUP BY month(o_orderdate)
      |)
      |SELECT months.m AS month, COALESCE(rev.rev_c, 0) AS rev_c,
      |  CAST(SUM(COALESCE(rev.rev_c, 0)) OVER (ORDER BY months.m)
      |       AS BIGINT) AS cum_rev_c
      |FROM months LEFT JOIN rev ON months.m = rev.m""".stripMargin

  /** sql12 — WITH RECURSIVE through the parser path: the gap-free
    * spine + cumulative total, the single most common recursive CTE
    * in analytics SQL (a month with zero orders must still appear,
    * and its cumulative value must carry — a plain GROUP BY silently
    * drops the gap). Spark 4.x executes recursive CTEs natively
    * (iterative union), so the SAME ANSI text runs verbatim on Spark
    * and DuckDB — with sql9/sql10/sql11 this completes the "bring
    * your SQL" front end's fourth major class.
    *
    * Dialect discipline: the recursion is pure integer arithmetic (no
    * date+interval syntax, which diverges between dialects); revenue
    * is integer cents; `month()` exists in both engines; the window
    * has a unique ORDER BY key so the running sum is deterministic.
    *
    * Scale shape: the recursion iterates 12 times over a ONE-ROW
    * frame (driver-trivial — the spine is metadata, not data); the
    * orders aggregation is filter-pushed and partial-aggregated; the
    * spine join broadcasts 12 rows; the window sorts 12 rows. At
    * 100 TB the only corpus-proportional work is the orders scan. */
  def sqlRecursiveSpine(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir, "orders")
    spark.sql(sql12RecursiveSpineText)
  }

  val sql13MultiExistsText: String =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier, lineitem l1, orders, nation
      |WHERE s_suppkey = l1.l_suppkey
      |  AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |  AND s_nationkey = n_nationkey
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name""".stripMargin

  /** sql13 — the TPC-H Q21 shape through the parser path: correlated
    * EXISTS and NOT EXISTS subqueries over the SAME table the outer
    * query scans (suppliers solely responsible for the returned items
    * of multi-supplier finalized orders — Q21's "waiting" predicate
    * re-expressed on the columns this lineitem carries). The last big
    * "bring your SQL" class after sql1–sql12: two correlated
    * self-join subqueries with inequality correlation predicates, the
    * pattern hand-written dedup/blame/attribution SQL uses constantly.
    *
    * Plan shape (PlanSpec-pinned): Catalyst DECORRELATES both
    * subqueries — EXISTS becomes a left-SEMI join and NOT EXISTS a
    * left-ANTI join on l_orderkey (the `l_suppkey <> …` inequality
    * rides each join as a secondary condition, not a filter over a
    * cross) — so lineitem is scanned three times as three hash-joined
    * legs, never re-executed per outer row, and no nested-loop or
    * cartesian node exists anywhere. The returnflag filter is pushed
    * into l1's and l3's scans, orderstatus into orders'. At 100 TB
    * each leg is a pruned columnar scan (two columns for l2, three
    * for l3) feeding shuffle hash joins on the same l_orderkey key —
    * the documented single-key co-shuffle strategy; an engine could
    * alternatively CTE-materialize one scan, but three pruned scans
    * beat one wide materialization when the columns are this narrow.
    *
    * Dialect discipline: count(*) is BIGINT on both engines; the
    * (numwait DESC, s_name) order is total because s_name is unique
    * per supplier. */
  def sqlMultiExists(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir, "supplier", "lineitem", "orders", "nation")
    spark.sql(sql13MultiExistsText)
  }

  val sql14NotInText: String =
    """SELECT c_mktsegment, count(*) AS n_cust
      |FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
      |                        WHERE o_orderstatus = 'F')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** sql14 — NOT IN through the parser path: the one remaining "bring
    * your SQL" class users write whether the style guide likes it or
    * not, and the classic three-valued-logic trap — `x NOT IN (subq)`
    * is NOT the complement of `x IN (subq)`: one NULL in the subquery
    * empties the whole result, and a NULL x never qualifies. Both
    * engines implement the same ANSI semantics, so the identical text
    * is its own oracle.
    *
    * Plan shape (PlanSpec-pinned): Spark plans the single-column form
    * as a NULL-AWARE broadcast hash anti join — `BroadcastHashJoin …
    * LeftAnti, BuildRight, true`, the trailing flag marking the
    * null-aware build (`HashedRelationBroadcastMode(…, true)` tracks
    * whether any build key was NULL so the probe can return the ANSI
    * empty-result answer without a nested loop). The status filter is
    * pushed into the orders scan and both scans prune to two columns.
    *
    * Scale honesty: the null-aware build side MUST broadcast — Spark
    * has no shuffled NAAJ, so an unbroadcastable subquery side
    * degenerates to BroadcastNestedLoopJoin. When NULL semantics
    * aren't the point, NOT EXISTS (sql13's anti-join leg, g6's shape)
    * remains the scalable spelling; sql14 covers the case where the
    * user's SQL — and its NULL semantics — must be answered as
    * written, which at 100 TB is fine exactly when the exclusion list
    * is dimension-sized (here: distinct finalized-order custkeys). */
  def sqlNotIn(spark: SparkSession, dir: String): DataFrame = {
    registerViews(spark, dir, "customer", "orders")
    spark.sql(sql14NotInText)
  }

  /** Two-stage salted aggregation registered as a query: salting is
    * semantics-preserving (sum/count compose from partials), so the
    * plain group-by SQL is the oracle. The salt spreads any hot user_id
    * over 32 reducers — the shape that saves the job when one key holds
    * 10% of a 100 TB table. */
  def skewSaltedAgg(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Skew.saltedSumCount(
      Tables.events(spark, dir).select(col("user_id"), cents(col("value")).as("cents")),
      "user_id", "cents")

  /** g32 — PERSISTED mergeable distinct sketches (DataSketches HLL via
    * Spark's `hll_sketch_agg` / `hll_union_agg`): the pre-aggregation a
    * 100 TB system actually stores. Daily distinct-user sketches are a
    * few KB per day regardless of data volume; any date-range rollup is
    * then a union over |days| sketches — it never rescans events. This
    * is the mergeable-sketch counterpart of g16's one-shot
    * `approx_count_distinct` (whose sketch cannot be persisted or
    * re-merged from SQL).
    *
    * Driver-checkable contract (g16b/x17b pattern — no ANSI SQL can
    * recompute DataSketches register state, but the claims are
    * pinnable booleans the oracle sets TRUE):
    *  - `hll_ok`: the merged weekly estimate lands within ±20% of the
    *    exact weekly distinct count (lgK=12 → rsd ≈ 1.6%; the band is
    *    >10σ, so a legitimate sketch deviation on regenerated data
    *    cannot read as a regression — g16b's 10σ rule).
    *  - `merge_ok`: the union-of-dailies estimate agrees with a sketch
    *    built directly over the whole week within ±5% (the direct path
    *    may use the HIP estimator while a union result uses the
    *    composite estimator — identical registers, two estimators whose
    *    difference is O(1σ), so the 3σ-dominating band is stable).
    * Register-level mergeability (union-of-dailies ≡ direct build,
    * exactly) is pinned in ApproxSpec where the sketch internals are
    * observable; the oracle row pins the user-visible contract. */
  def sketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"),
      date_trunc("day", col("ts")).as("day"),
      col("user_id"))
    // what a production system persists: one tiny sketch row per day
    val daily = ev.groupBy("week", "day")
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    // serving path: merge persisted daily sketches per week — no rescan
    val merged = daily.groupBy("week")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est_merged"))
    // verification path only run at audit time: direct sketch + exact
    val direct = ev.groupBy("week")
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est_direct"),
        countDistinct("user_id").as("exact_users"))
    merged.join(direct, "week").select(
      col("week"), col("exact_users"),
      (abs(col("est_merged") - col("exact_users"))
        <= greatest(col("exact_users") * lit(0.2), lit(5.0))).as("hll_ok"),
      (abs(col("est_merged") - col("est_direct"))
        <= greatest(col("exact_users") * lit(0.05), lit(3.0))).as("merge_ok"))
  }

  /** g36/g37/s22's shared finishing stage: pairwise distinct-set facts
    * from bottom-k sketches ([[graft.functions.Theta]]) plus the exact
    * audit side. Every emitted NUMBER is exact and SQL-recomputable
    * (per-segment distinct counts and all pairwise
    * intersection/union/difference cardinalities — one self-join of
    * the deduped (seg, user) pairs); the sketch-side estimates are
    * engine-internal and surface only as the pinned `*_ok` booleans:
    * |estimate − exact| ≤ max(10·|A∪B|/√k, 8) — ≥10 standard errors of
    * the KMV sampling regime (the g16b 10σ rule), and identically 0
    * below k where the sketch IS the set. Driver work is k-bounded by
    * construction (|segments| sketch rows × ≤ k longs, |segments|²
    * exact pair rows — the v24 collect discipline); the corpus-scale
    * work is the one sketch aggregation and the deduped self-join,
    * both segment-keyed shuffles. */
  private def thetaPairFacts(spark: SparkSession, sketches: DataFrame,
      segUsers: DataFrame, k: Int, aName: String, bName: String,
      adjacentOnly: Boolean = false): DataFrame = {
    import spark.implicits._
    val sk: Map[String, Seq[Long]] = sketches.collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    val d = segUsers.toDF("seg", "uid").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = d.groupBy("seg").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val inter = d.as("a").join(d.as("b"), col("a.uid") === col("b.uid"))
        .filter(col("a.seg") < col("b.seg"))
        .groupBy(col("a.seg").as("sa"), col("b.seg").as("sb"))
        .agg(count(lit(1)).as("ni")).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val segs = counts.keys.toSeq.sorted
      val pairs =
        if (adjacentOnly) segs.zip(segs.drop(1))
        else for { a <- segs; b <- segs if a < b } yield (a, b)
      val rows = pairs.map { case (a, b) =>
        val na = counts(a); val nb = counts(b)
        val ni = inter.getOrElse((a, b), 0L)
        val nu = na + nb - ni
        val (uEst, iEst, dEst) = graft.functions.Theta.setOps(sk(a), sk(b), k)
        val slack = math.max(10.0 * nu / math.sqrt(k.toDouble), 8.0)
        (a, b, na, nb, ni, nu, na - ni,
          math.abs(uEst - nu) <= slack,
          math.abs(iEst - ni) <= slack,
          math.abs(dEst - (na - ni)) <= slack)
      }
      // driver-side local relation (every input above is collected), so
      // nothing lazy outlives the persist
      rows.toDF(aName, bName, "exact_a", "exact_b", "exact_inter",
        "exact_union", "exact_diff", "union_ok", "inter_ok", "diff_ok")
    } finally d.unpersist(blocking = false)
  }

  /** g36 — cross-segment DISTINCT-SET ALGEBRA from bottom-k (KMV /
    * theta) sketches: per event-type user sketches, then |A ∪ B|,
    * |A ∩ B|, |A ∖ B| for every segment pair FROM THE SKETCHES ALONE
    * — the set-expression class HLL cannot answer (g32 unions
    * losslessly but can never intersect), and the exact answer at
    * 100 TB is a full (seg, user) self-join per question. One
    * segment-keyed aggregation builds every sketch in a single events
    * scan (O(k) partials per task); the exact self-join here is the
    * AUDIT side the oracle recomputes, not the production path.
    * Facts: exact pairwise cardinalities (SQL-recomputable) + the
    * three 10σ `*_ok` pins ([[thetaPairFacts]]); exact below k by the
    * sketch's small-set property. */
  def thetaSegments(spark: SparkSession, dir: String): DataFrame = {
    val k = graft.functions.Theta.DefaultK
    val ev = Tables.events(spark, dir)
      .select(col("event_type").as("seg"), col("user_id"))
    val th = udaf(new graft.functions.ThetaSketchAggregator(k))
    val sketches = ev.groupBy("seg")
      .agg(th(xxhash64(col("user_id"))).as("sk"))
    thetaPairFacts(spark, sketches, ev, k, "a_seg", "b_seg")
  }

  /** g37 — PERSISTED retention rollup from bottom-k sketches (g32's
    * persist-and-merge pattern, completed with the INTERSECTION the
    * HLL rollup cannot take): a production system stores one ≤ k-long
    * user sketch row per day; week-over-week RETURNING USERS —
    * |active(week i) ∩ active(week i+1)| — are then answered by
    * merging each week's stored daily rows
    * ([[graft.functions.ThetaMergeAggregator]]) and intersecting the
    * two weekly sketches driver-side, O(days) tiny rows at serve
    * time, the events rescanned never. The g34 cohort matrix answers
    * this exactly with a corpus-scale self-join; this row is the same
    * question at sketch cost. Facts: exact returning-user counts per
    * adjacent week pair (SQL-recomputable) + the 10σ pin. */
  def thetaRetentionRollup(spark: SparkSession, dir: String): DataFrame = {
    val k = graft.functions.Theta.DefaultK
    val ev = Tables.events(spark, dir).select(
      date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"),
      date_trunc("day", col("ts")).as("day"),
      col("user_id"))
    val th = udaf(new graft.functions.ThetaSketchAggregator(k))
    val tm = udaf(new graft.functions.ThetaMergeAggregator(k))
    // what a production system persists: one tiny sketch row per day
    val daily = ev.groupBy("week", "day")
      .agg(th(xxhash64(col("user_id"))).as("sk"))
    // serving path: merge the persisted daily rows per week
    val weekly = daily.groupBy("week").agg(tm(col("sk")).as("sk"))
    thetaPairFacts(spark, weekly, ev.select("week", "user_id"), k,
      "week", "next_week", adjacentOnly = true)
      .select(col("week"), col("next_week"),
        col("exact_inter").as("exact_returning"),
        col("inter_ok").as("returning_ok"))
  }

  /** s22 — the STREAMING twin of g36: the per-segment user sketches
    * kept by a real streaming aggregation over arriving events, pushed
    * through the same finishing stage. Unlike the q-digest (whose
    * contents are merge-tree state), a bottom-k sketch is EXACTLY
    * merge-order independent — bottomK(S) is a pure function of the
    * set — so the streamed sketches are bit-identical to the batch
    * ones and g36's oracle covers this run verbatim (stronger than
    * the s20/s21 pattern, which only shares order-independent
    * FACTS). */
  def streamThetaSegments(spark: SparkSession, dir: String): DataFrame = {
    val k = graft.functions.Theta.DefaultK
    val sketches = graft.streaming.Streaming.runToBatch(spark,
      graft.streaming.Streaming.userSegmentSketches(
        graft.streaming.Streaming.eventsStream(spark, dir), k))
    thetaPairFacts(spark, sketches,
      Tables.events(spark, dir)
        .select(col("event_type").as("seg"), col("user_id")),
      k, "a_seg", "b_seg")
  }

  /** The kind tag of the daily theta-user sketch store (g38). */
  private[graft] val ThetaStoreKind = "theta-user-daily"

  /** The g38 SERVE plan: weekly sketch rollup read from a persisted
    * [[graft.ext.SketchStore]] ALONE — merge the stored daily rows per
    * week with [[graft.functions.ThetaMergeAggregator]]. Factored out
    * so the plan spec can pin the serving-path claim literally: this
    * DataFrame's executed plan scans only the store's own parquet
    * (day-partition-pruned to the range), never the events table. */
  private[graft] def thetaStoreWeekly(spark: SparkSession, storePath: String,
      fromDay: String, toDay: String): DataFrame = {
    val tm = udaf(new graft.functions.ThetaMergeAggregator(
      graft.functions.Theta.DefaultK))
    graft.ext.SketchStore.readRange(spark, storePath, ThetaStoreKind,
      fromDay, toDay)
      .groupBy("week").agg(tm(col("sk")).as("sk"))
  }

  /** g38 — the PERSISTED sketch store, served for real: g37
    * demonstrates the persist-and-merge shape but computes its
    * "persisted" daily rows in-query; this row builds an actual
    * [[graft.ext.SketchStore]] on disk (manifest-governed, the index
    * layout's machinery), appends the LAST day as a separate
    * manifest-committed increment (the nightly-job shape: one atomic
    * commit per day, kill-safe), and serves the week-over-week
    * retention rollup from the STORED frames alone — the serve plan
    * never scans events (plan-spec pinned via [[thetaStoreWeekly]]),
    * O(days × ≤k) tiny rows at serve time. Facts: g37's exact
    * returning-user counts and 10σ pin, plus `n_days_stored` (the
    * stored row count — one per day, SQL-recomputable) and
    * `store_matches_direct` (the store-served weekly sketches are
    * BIT-IDENTICAL to the in-query build's — bottomK(S) is a pure
    * function of the set, so a parquet round trip plus incremental
    * append must change nothing; TRUE by construction). */
  def thetaStoreServe(spark: SparkSession, dir: String): DataFrame = {
    val k = graft.functions.Theta.DefaultK
    val ev = Tables.events(spark, dir).select(
      date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"),
      date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
      col("user_id"))
    val th = udaf(new graft.functions.ThetaSketchAggregator(k))
    val daily = ev.groupBy("week", "day").agg(th(xxhash64(col("user_id"))).as("sk"))
    Audit.withDailyStore("graft_g38", daily, ThetaStoreKind) { (days, store) =>
      // SERVE from the stored frames alone, audited against the
      // in-query build (g37's weekly stage)
      thetaStoreFacts(spark,
        thetaStoreWeekly(spark, store, days.head, days.last), daily, ev, k,
        days.length.toLong)
    }
  }

  /** g40 — the store's LIFECYCLE verbs served for real: the retention
    * horizon ([[graft.ext.SketchStore.retainFrom]] — whole day
    * partitions leave the composition at one compaction flip,
    * tombstone-free) and the as-of range serve
    * ([[graft.ext.SketchStore.readRangeAt]] — the x33/v26 machinery on
    * the store). Build the theta daily store (g38's shape), append the
    * last day as its own commit, then drop everything before the
    * median stored day and pin:
    *  - `days_total` / `days_after_retention`: the exact day counts
    *    (SQL recomputes both — the horizon is the middle distinct day
    *    by the same index arithmetic);
    *  - `survivors_identical`: every surviving day's sketch row is
    *    BIT-IDENTICAL to its pre-retention self (retention must only
    *    remove, never rewrite — bottomK rows round-trip the compaction
    *    untouched);
    *  - `asof_sees_all`: a range serve pinned at the pre-retention
    *    commit still reads every day including the dropped ones (the
    *    retired directories outlive the flip until a later verb's
    *    grace sweep). */
  def thetaStoreRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = graft.functions.Theta.DefaultK
    val ev = Tables.events(spark, dir).select(
      date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"),
      date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
      col("user_id"))
    val th = udaf(new graft.functions.ThetaSketchAggregator(k))
    val daily = ev.groupBy("week", "day").agg(th(xxhash64(col("user_id"))).as("sk"))
    Audit.withDailyStore("graft_g40", daily, ThetaStoreKind) { (days, store) =>
      graft.ext.IndexLayout.setManifestKeep(spark, store, 10)         // seq 2
      def rows() = graft.ext.SketchStore
        .readAll(spark, store, ThetaStoreKind).collect()
        .map(r => r.getString(1) -> r.getSeq[Long](2).toSeq).toMap
      val before = rows()
      val horizon = days(days.length / 2)
      graft.ext.SketchStore.retainFrom(spark, store, ThetaStoreKind,
        minDay = horizon)                                              // seq 3
      val after = rows()
      val survivorsIdentical =
        after == before.view.filterKeys(_ >= horizon).toMap
      // the pre-retention commit still serves every day, dropped ones
      // included (retired dirs outlive the flip)
      val asOf = graft.ext.SketchStore.readRangeAt(spark, store,
        ThetaStoreKind, days.head, days.last, seq = 2).collect()
        .map(r => r.getString(1) -> r.getSeq[Long](2).toSeq).toMap
      Seq((days.length.toLong, after.size.toLong, horizon,
        survivorsIdentical, asOf == before))
        .toDF("days_total", "days_after_retention", "horizon_day",
          "survivors_identical", "asof_sees_all")
    }
  }

  /** The kind tag of the daily HLL-user sketch store (g39). */
  private[graft] val HllStoreKind = "hll-user-daily"

  /** The g39 SERVE plan: weekly HLL rollup read from a persisted
    * [[graft.ext.SketchStore]] ALONE — union the stored daily register
    * blobs per week (`hll_union_agg`, codegen'd built-in) and
    * estimate. Factored out so the plan spec can pin the serving-path
    * claim exactly like g38's: the executed plan scans only the
    * store's parquet, never the events. */
  private[graft] def hllStoreWeekly(spark: SparkSession, storePath: String,
      fromDay: String, toDay: String): DataFrame =
    graft.ext.SketchStore.readRange(spark, storePath, HllStoreKind,
      fromDay, toDay)
      .groupBy("week")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))")
        .as("est_merged"))

  /** g39 — the HLL rollup (g32) routed through the persisted
    * [[graft.ext.SketchStore]], its second sketch family: g32
    * demonstrates the persist-and-merge shape but computes its
    * "persisted" daily register rows in-query; this row lands them in
    * a real store on disk (binary payload under the schema-agnostic
    * layout, kind-tagged `hll-user-daily`), appends the LAST day as
    * its own manifest-committed increment (the nightly-job shape), and
    * serves the weekly distinct-user rollup from the STORED frames
    * alone — no events scan in the serve plan (plan-spec pinned via
    * [[hllStoreWeekly]]), O(days) KB-sized register rows at serve
    * time. Facts are g32's driver-checkable contract (exact weekly
    * users + the ±20% `hll_ok` and ±5% `merge_ok` bands — both >3σ at
    * lgK=12, the g16b rule) plus `n_days_stored` and
    * `store_matches_inquery`: the store-served weekly estimate equals
    * the in-query union's EXACTLY — parquet round-trips the register
    * blobs bit-identically and the HLL union is a per-register max
    * (order-independent), so the two paths compute the same double;
    * TRUE by construction. */
  def hllStoreServe(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"),
      date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
      col("user_id"))
    val daily = ev.groupBy("week", "day")
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    Audit.withDailyStore("graft_g39", daily, HllStoreKind) { (days, store) =>
      // SERVE from the stored frames alone (|weeks|-bounded)
      import spark.implicits._
      val served = hllStoreWeekly(spark, store, days.head, days.last)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // audit sides: the in-query union (the g32 serving path — the
      // store must answer identically), the direct whole-week sketch,
      // and the exact count — all |weeks|-bounded driver collects
      val inQuery = daily.groupBy("week")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))")
          .as("est_inquery"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val nDays = days.length.toLong
      ev.groupBy("week")
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))")
          .as("est_direct"),
          countDistinct("user_id").as("exact_users"))
        .collect().map { r =>
          val week = r.getString(0)
          val estDirect = r.getLong(1)
          val exact = r.getLong(2)
          val estMerged = served(week)
          (week, exact,
            math.abs(estMerged - exact) <= math.max(exact * 0.2, 5.0),
            math.abs((estMerged - estDirect).toDouble) <= math.max(exact * 0.05, 3.0),
            nDays, estMerged == inQuery(week))
        }.toSeq.toDF("week", "exact_users", "hll_ok", "merge_ok",
          "n_days_stored", "store_matches_inquery")
    }
  }

  /** s23 — the STREAM → STORE → SERVE arc closed: events arrive as a
    * real Structured Streaming query draining per-batch delta sketch
    * rows ([[graft.streaming.Streaming.sketchDeltaStream]] — the
    * s15/s16 exactly-once per-batch-overwrite discipline), the days
    * close into a persisted [[graft.ext.SketchStore]] via
    * manifest-committed, replay-idempotent appends
    * ([[graft.streaming.Streaming.closeDaysIntoStore]]), and the
    * week-over-week retention rollup is served from the STORED frames
    * alone — g38's serve verbatim. The store starts EMPTY: every
    * stored row traveled the full streaming arc.
    *
    * Bottom-k sketches are exactly merge-order independent, so the
    * streamed store is BIT-IDENTICAL to a direct batch build over the
    * same events — `store_matches_direct` pins it, and the batch
    * twin's (g38's) oracle covers this run verbatim (the s22 = g36
    * pattern extended to the persisted store). Kill/resume landing
    * each day exactly once is pinned by StreamingSpec. */
  def streamSketchStore(spark: SparkSession, dir: String): DataFrame = {
    val k = graft.functions.Theta.DefaultK
    val ev = Tables.events(spark, dir).select(
      date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"),
      date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
      col("user_id"))
    val th = udaf(new graft.functions.ThetaSketchAggregator(k))
    Audit.withScratch("graft_s23") { root =>
      val store = s"$root/store"
      // the store starts empty — the arc is streaming end to end
      graft.ext.SketchStore.save(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "week STRING, day STRING, sk ARRAY<BIGINT>")),
        store, ThetaStoreKind)
      val q = graft.streaming.Streaming.sketchDeltaStream(
        graft.streaming.Streaming.eventsStream(spark, dir),
        s"$root/delta", s"$root/ck", k)
      q.awaitTermination()
      // the static corpus has fully drained: every day has closed
      graft.streaming.Streaming.closeDaysIntoStore(spark,
        s"$root/delta", store, ThetaStoreKind, k,
        closedDay = "9999-12-31")
      // SERVE from the stored frames alone (g38's serve path), audited
      // against a direct batch build
      thetaStoreFacts(spark,
        thetaStoreWeekly(spark, store, "0000-01-01", "9999-12-31"),
        ev.groupBy("week", "day").agg(th(xxhash64(col("user_id"))).as("sk")),
        ev, k, graft.ext.SketchStore.readAll(spark, store, ThetaStoreKind)
          .select("day").distinct().count()) // O(days)
    }
  }

  /** g38/s23's facts over the store-served weekly sketches `weekly`:
    * g37's exact returning-user counts and 10σ pin, `n_days_stored`
    * and `store_matches_direct` — the served sketches equal the weekly
    * merge of `directDaily`'s in-query daily sketches bit for bit
    * (|weeks|-bounded collects). */
  private def thetaStoreFacts(spark: SparkSession, weekly: DataFrame,
      directDaily: DataFrame, ev: DataFrame, k: Int,
      nDays: Long): DataFrame = {
    val tm = udaf(new graft.functions.ThetaMergeAggregator(k))
    def sketches(df: DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    val storeMatchesDirect = sketches(weekly) ==
      sketches(directDaily.groupBy("week").agg(tm(col("sk")).as("sk")))
    thetaPairFacts(spark, weekly, ev.select("week", "user_id"), k,
      "week", "next_week", adjacentOnly = true)
      .select(col("week"), col("next_week"),
        col("exact_inter").as("exact_returning"),
        col("inter_ok").as("returning_ok"),
        lit(nDays).as("n_days_stored"),
        lit(storeMatchesDirect).as("store_matches_direct"))
  }
}
