package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The column bindings of one viewing-ETL deployment: everything that
  * differs between the reference's native log schema
  * ([[ReferenceEtl]]: Contract/AppName/Mac/TotalDuration, string `'0'`
  * sentinel) and the oracle-testdata events mapping ([[Viewing]]:
  * user_id/event_type/props/value-cents, integer 0 sentinel). The
  * OPERATOR logic — E1's first-match-wins when-chain, P3+P4's
  * valid-row filter, A1's partial-aggregated category sums, A2's
  * faithful row-count "devices", A3+E9's explicit-values pivot, and
  * the §3.1/§3.2 one-aggregation pipelines — lives once, in [[ViewingCore]],
  * and both deployments are bindings of it.
  *
  * @param idCol     the grouping entity (Contract / user_id)
  * @param deviceCol the device column A2 faithfully projects-but-never-
  *                  aggregates (Mac / props)
  * @param appCol    the E1 input column (AppName / event_type)
  * @param measure   the duration measure expression — exact integer
  *                  arithmetic required (raw seconds / value cents)
  * @param measureName output name of the aggregated measure
  * @param validId   P3's sentinel predicate on `idCol` — the reference
  *                  compares the STRING `'0'`, the events mapping the
  *                  integer 0; both are "is not the invalid sentinel"
  * @param mapping   E1's (codes → category) arms, IN ORDER — the
  *                  when-chain is first-match-wins and case-sensitive
  *                  (KPLUS and KPlus are distinct arms of the same
  *                  code list), so order and case are semantics
  * @param categories pivot column order (explicit values: static
  *                  schema, no hidden distinct job)
  * @param catLabels category → label pairs in when-chain order — also
  *                  E5's tie-break order (Child→…→TV), so this ONE
  *                  sequence carries both the label map and the
  *                  argmax preference
  */
final case class ViewingSchema(
    idCol: String,
    deviceCol: String,
    appCol: String,
    measure: Column,
    measureName: String,
    validId: Column => Column,
    mapping: Seq[(Seq[String], String)],
    categories: Seq[String],
    catLabels: Seq[(String, String)])

/** The one implementation of the reference's viewing-ETL operators,
  * parameterized by [[ViewingSchema]] (see SURVEY.md §2; reference
  * lines cited on each op in [[ReferenceEtl]]). Factored so the
  * mapping lists, sentinel compares, and tie-break order exist in
  * exactly one place per deployment and the operator logic in exactly
  * one place total. */
object ViewingCore {

  /** E1 — first-match-wins category when-chain, sentinel "Error". */
  def categorize(s: ViewingSchema)(df: DataFrame): DataFrame = {
    val head = when(col(s.appCol).isin(s.mapping.head._1: _*), s.mapping.head._2)
    val chain = s.mapping.tail.foldLeft(head) { case (acc, (codes, cat)) =>
      acc.when(col(s.appCol).isin(codes: _*), cat)
    }
    df.withColumn("Type", chain.otherwise("Error"))
  }

  /** P3+P4 — drop the invalid-id sentinel and unmapped categories. */
  def validRows(s: ViewingSchema)(df: DataFrame): DataFrame =
    df.filter(s.validId(col(s.idCol))).filter(col("Type") =!= "Error")

  /** A1 — measure per (id, category). Spark plans this as partial
    * (map-side) + final hash aggregate: the shuffle moves one row per
    * (id, category) per partition, not raw events — the property that
    * keeps it viable at 100 TB. */
  def durationByCategory(s: ViewingSchema)(df: DataFrame): DataFrame =
    df.select(col(s.idCol), col("Type"), s.measure.as(s.measureName))
      .groupBy(s.idCol, "Type")
      .agg(sum(s.measureName).as(s.measureName))

  /** A2 faithful — counts LOG ROWS pre-filter (the reference selects
    * the device column but never aggregates it, so "TotalDevices" is
    * really a row count, Error rows included). `projectDevice` keeps
    * the reference's no-op (id, device) projection for fidelity;
    * Catalyst's column pruning makes it costless either way. */
  def deviceCountsFaithful(s: ViewingSchema, projectDevice: Boolean = true)(
      df: DataFrame): DataFrame = {
    val base = if (projectDevice) df.select(s.idCol, s.deviceCol) else df
    base.groupBy(s.idCol).count().withColumnRenamed("count", "TotalDevices")
  }

  /** A2 fixed — the intended semantics: distinct devices. One
    * (id, device) shuffle. */
  def deviceCountsDistinct(s: ViewingSchema)(df: DataFrame): DataFrame =
    df.groupBy(s.idCol).agg(countDistinct(s.deviceCol).as("TotalDevices"))

  /** A3+E9 — explicit-values pivot (+ optional zero-fill). */
  def pivotDurations(s: ViewingSchema, fillZero: Boolean = true)(
      df: DataFrame): DataFrame = {
    val wide = df.groupBy(s.idCol).pivot("Type", s.categories).sum(s.measureName)
    if (fillZero) wide.na.fill(0) else wide
  }

  /** §3.1 one-day shape: per-category sums over valid rows as ONE
    * conditional aggregation — one `groupBy(idCol)`, one shuffle — with
    * the same cells as `pivotDurations(fillZero = false)` over A1: no
    * zero-fill, so a category with no valid rows stays null (faithful).
    * Then E8's literal `Date` column. */
  def oneDayPipeline(s: ViewingSchema, date: String)(df: DataFrame): DataFrame = {
    val sums = s.categories.map(c => sum(when(col("Type") === c, s.measure)).as(c))
    validRows(s)(categorize(s)(df))
      .groupBy(s.idCol).agg(sums.head, sums.tail: _*)
      .withColumn("Date", lit(date))
  }

  /** Mergeable per-id aggregation STATE of the §3.2 flagship: the
    * zero-filled per-category sums over valid rows, the faithful A2 row
    * count `TotalDevices` (all rows, pre-filter, Error rows included)
    * and the valid-row count `n_valid`. One scan, one `groupBy(idCol)`.
    * Every cell is an associative sum/count, so states computed over
    * disjoint slices merge exactly via [[mergeProfileStates]] — the
    * property behind the incremental and streaming forms: aggregate only
    * the new slice, merge with the standing per-id state, finalize. */
  def profileState(s: ViewingSchema)(df: DataFrame): DataFrame = {
    val valid = s.validId(col(s.idCol)) && col("Type") =!= "Error"
    val sums = s.categories.map(c =>
      coalesce(sum(when(valid && col("Type") === c, s.measure)), lit(0L)).as(c))
    categorize(s)(df).groupBy(s.idCol).agg(
      sums.head,
      sums.tail :+ count(lit(1)).as("TotalDevices")
        :+ count(when(valid, lit(1))).as("n_valid"): _*)
  }

  /** Merge two disjoint-slice states: per-id cell-wise sums. */
  def mergeProfileStates(s: ViewingSchema)(a: DataFrame, b: DataFrame): DataFrame = {
    val cells = s.categories ++ Seq("TotalDevices", "n_valid")
    a.unionByName(b).groupBy(s.idCol)
      .agg(sum(cells.head).as(cells.head), cells.tail.map(c => sum(c).as(c)): _*)
  }

  /** Finalize a state into the flagship row: `n_valid > 0` keeps exactly
    * the ids the reference's inner join keeps (those with a valid row),
    * then the E4–E7 enrichment chain. */
  def profileFinalize(s: ViewingSchema)(state: DataFrame): DataFrame = {
    val joined = state.filter(col("n_valid") > 0)
      .select((s.idCol +: s.categories :+ "TotalDevices").map(col): _*)
    val enriched = Enrich.mostWatch(s.catLabels)(joined)
    Enrich.activityLevel(s.categories)(Enrich.taste(s.catLabels)(enriched))
  }

  /** §3.2 flagship: the reference computes device counts and the
    * category pivot as two branches over one input and joins them
    * (`ETL_full.py:74-90`), which Spark plans as two scans of the input.
    * Here both branches are one aggregation — one scan, one shuffle, no
    * join — with the same output: TotalDevices counts all rows
    * pre-filter, `n_valid > 0` reproduces the inner join, and `coalesce`
    * to 0 reproduces the pivot's `na.fill(0)`. */
  def fullPipeline(s: ViewingSchema)(df: DataFrame): DataFrame =
    profileFinalize(s)(profileState(s)(df))
}
