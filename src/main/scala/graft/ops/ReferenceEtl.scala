package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.LogSource

/** Faithful re-expression of the reference's viewing-log ETL over its
  * native Elasticsearch-export JSONL input (SURVEY.md §3.1-§3.2).
  *
  * Every constant — the 14 app codes (case-sensitive, both `KPLUS` and
  * `KPlus`), the five Vietnamese labels, the `'0'` contract sentinel as a
  * STRING compare, the 86400 divisor and the 10/20 activity cut-points —
  * is byte-identical to `ETL_full_output/ETL_full.py:47-56,93-138`.
  *
  * Deliberate divergences from the reference (SURVEY.md §7.4), all
  * flagged here: the pivot uses an EXPLICIT category list (static schema,
  * kills the hidden distinct job, makes per-day unions alignable), the
  * scan declares its schema (no inference pass), and the month report's
  * device-count and pivot branches plus their join run as ONE
  * per-contract aggregation, so the JSON is parsed once, not twice.
  */
object ReferenceEtl {

  /** Pivot column order — fixed, alphabetical, matches the label map. */
  val categories: Seq[String] =
    Seq("ChildDuration", "MovieDuration", "RelaxDuration", "SportDuration", "TVDuration")

  /** Category → Vietnamese label, in the reference's when-chain order
    * (`ETL_full_output/ETL_full.py:101-108,113-117`). */
  val catLabels: Seq[(String, String)] = Seq(
    "ChildDuration" -> "Thiếu nhi",
    "MovieDuration" -> "Phim truyện",
    "RelaxDuration" -> "Giải trí",
    "SportDuration" -> "Thể thao",
    "TVDuration" -> "Truyền hình")

  /** This deployment's binding of the ONE viewing-ETL implementation
    * ([[ViewingCore]]): the reference's native columns, its 14
    * case-sensitive app codes (both `KPLUS` and `KPlus` — the one
    * place that list exists), the STRING `'0'` sentinel, and raw
    * TotalDuration seconds. The operator logic is shared with
    * [[Viewing.schema]] — only these bindings differ. */
  val schema: ViewingSchema = ViewingSchema(
    idCol = "Contract",
    deviceCol = "Mac",
    appCol = "AppName",
    measure = col("TotalDuration"),
    measureName = "TotalDuration",
    validId = _ =!= "0",
    mapping = Seq(
      Seq("CHANNEL", "DSHD", "KPLUS", "KPlus") -> "TVDuration",
      Seq("VOD", "FIMS_RES", "BHD_RES", "VOD_RES", "FIMS", "BHD",
        "DANET") -> "MovieDuration",
      Seq("RELAX") -> "RelaxDuration",
      Seq("CHILD") -> "ChildDuration",
      Seq("SPORT") -> "SportDuration"),
    categories = categories,
    catLabels = catLabels)

  /** E1 — first-match-wins app→category mapping, sentinel "Error"
    * (`ETL_full_output/ETL_full.py:47-56`). */
  def categorize(df: DataFrame): DataFrame =
    ViewingCore.categorize(schema)(df)

  /** P3+P4 — drop sentinel contract `'0'` (string compare!) and unmapped
    * categories (`ETL_full_output/ETL_full.py:59-60`). */
  def validRows(df: DataFrame): DataFrame =
    ViewingCore.validRows(schema)(df)

  /** A1 — seconds per (contract, category)
    * (`ETL_full_output/ETL_full.py:61`). */
  def durationByCategory(df: DataFrame): DataFrame =
    ViewingCore.durationByCategory(schema)(df)

  /** A2 — "TotalDevices" per contract (`ETL_full_output/ETL_full.py:42-45`).
    * Faithful mode counts LOG ROWS (the reference selects Mac but never
    * aggregates it) and runs PRE-filter, so Error rows count; `fixed`
    * mode is the intended-semantics `countDistinct(Mac)`. */
  def deviceCounts(df: DataFrame, faithful: Boolean = true): DataFrame =
    if (faithful) ViewingCore.deviceCountsFaithful(schema)(df)
    else ViewingCore.deviceCountsDistinct(schema)(df)

  /** A3+E9 — long→wide pivot with explicit values + zero-fill
    * (`ETL_full_output/ETL_full.py:63`). */
  def pivotDurations(df: DataFrame, fillZero: Boolean = true): DataFrame =
    ViewingCore.pivotDurations(schema, fillZero)(df)

  /** §3.2 ETL_process + OLAP_process — the flagship full pipeline from a
    * flattened log frame to the 10-column analytics row
    * (`ETL_full_output/ETL_full.py:74-90,140-150`), as one per-contract
    * aggregation over one scan ([[ViewingCore.fullPipeline]]). */
  def fullPipeline(flat: DataFrame): DataFrame =
    ViewingCore.fullPipeline(schema)(flat)

  /** §3.1 one-day pipeline: per-contract category sums in one
    * aggregation, no zero-fill (nulls survive, faithful), plus the
    * literal Date column (`ETL_one_day/ETL_one_day.py:37-40`). */
  def oneDayPipeline(flat: DataFrame, date: String): DataFrame =
    ViewingCore.oneDayPipeline(schema, date)(flat)

  /** End-to-end over daily JSONL files, one multi-path scan (S2 — the
    * strategy the reference measured 2.45x faster, SURVEY.md §6). A
    * reversed date range fails in [[LogSource.datePaths]]. */
  def runFull(spark: SparkSession, base: String, fromDate: String, toDate: String): DataFrame =
    fullPipeline(LogSource.flattenSource(
      LogSource.readDays(spark, LogSource.datePaths(base, fromDate, toDate))))

  /** U1 — per-day pipeline + union-by-name (method 2,
    * `test_method1_eachFILE_output/test_method2_eachFILE.py:116-133`).
    * With the explicit pivot value list the per-day schemas always align,
    * fixing the reference's misaligned-union hazard (SURVEY.md §2.6). */
  def runPerDayUnion(spark: SparkSession, base: String, fromDate: String, toDate: String): DataFrame =
    LogSource.datePaths(base, fromDate, toDate)
      .map(p => fullPipeline(LogSource.flattenSource(LogSource.readDay(spark, p))))
      .reduce(_.unionByName(_))
}
