package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Schemas

/** Parquet testdata loader (`/root/testdata/sfN/{name}.parquet`).
  * Parquet scans are vectorized and support filter pushdown + column
  * pruning out of the box — at 100 TB this is the only sane default.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Timestamp columns per table, normalized by [[normalizeTs]]. The
    * driver's generated parquet has shipped these in different physical
    * layouts across regenerations (TIMESTAMP(NANOS); TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) = TIMESTAMP_NTZ), so ingestion must be
    * schema-driven, never hard-wired to one layout. */
  private val tsCols = Map(
    "events" -> Seq("ts"),
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"))

  /** Read-time confs that make every timestamp layout loadable:
    * TIMESTAMP(NANOS) columns (unreadable natively) surface as raw nanos
    * longs, and MICROS isAdjustedToUTC=false columns surface directly as
    * UTC TimestampType (bit-exact: the stored micros ARE the epoch
    * micros; no session-timezone reinterpretation) instead of
    * TIMESTAMP_NTZ, which `unix_micros`/watermarks reject. */
  private def setTsReadConfs(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
  }

  /** Schema-driven normalization to ONE canonical UTC TimestampType,
    * whatever the file actually stored:
    *  - raw nanos long (legacy-conf read of TIMESTAMP(NANOS)) → exact
    *    integer `DIV 1000` to µs (a double division would lose precision
    *    at ~1.7e18 ns), then `timestamp_micros`;
    *  - TIMESTAMP_NTZ (micros, seen when a caller reads without
    *    [[setTsReadConfs]]) → cast to TimestampType; all entry points pin
    *    the session timezone to UTC, so the cast is value-preserving;
    *  - TimestampType → already canonical, untouched.
    * Shared by the batch loader and the streaming source so batch and
    * stream can never disagree on the layout again. */
  def normalizeTs(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{DateType, LongType, TimestampNTZType, TimestampType}
    cols.filter(df.schema.fieldNames.contains).foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case LongType         => d.withColumn(c, timestamp_micros(expr(s"`$c` DIV 1000")))
        case TimestampNTZType => d.withColumn(c, col(c).cast(TimestampType))
        // a future date32 regeneration of the order/ship dates: every
        // current value IS a midnight timestamp, so midnight-UTC
        // widening preserves every oracle comparison/format
        case DateType         => d.withColumn(c, col(c).cast(TimestampType))
        case _                => d
      }
    }
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    setTsReadConfs(spark)
    val table = normalizeTs(spark.read.parquet(s"$dir/$name.parquet"),
      tsCols.getOrElse(name, Nil))
    // Loud schema guard (round-9 lesson: a silently-changed physical
    // layout produced wrong answers for a whole round). The vector
    // operators' codegen expressions AND their fixed-point oracles
    // assume float32 embeddings; if a regenerated testdata ships
    // doubles, fail HERE with a pointer instead of letting every
    // v/x-family query drift from its oracle.
    if (name == "embeddings") {
      import org.apache.spark.sql.types.{ArrayType, FloatType}
      val et = table.schema.fields.find(_.name == "embedding").map(_.dataType)
      require(et.exists { case ArrayType(FloatType, _) => true; case _ => false },
        s"embeddings.embedding is ${et.getOrElse("MISSING (schema: " +
          table.schema.fieldNames.mkString(", ") + ")")}, expected " +
          "array<float>: the vector expressions (CosineSim/PQ/quantize) " +
          "and the fixed-point oracles are float32-based — update " +
          "graft.functions.VectorFunctions and the v-family oracle SQL " +
          "together for the new layout")
    }
    table
  }

  /** The actual on-disk schema of a testdata table (footer-only read,
    * driver-side) under [[setTsReadConfs]] — what a streaming source
    * must declare to read the same files. */
  def fileSchema(spark: SparkSession, dir: String, name: String)
      : org.apache.spark.sql.types.StructType = {
    setTsReadConfs(spark)
    spark.read.parquet(s"$dir/$name.parquet").schema
  }

  def events(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
}

/** SQL surface: register every testdata table as a temp view so users
  * can `spark.sql("SELECT ... FROM lineitem JOIN ...")` directly —
  * the API the reference never had but a complete engine needs. */
object Catalog {
  def registerViews(spark: SparkSession, dir: String): Unit =
    Tables.all.foreach(n => Tables(spark, dir, n).createOrReplaceTempView(n))
}

/** Readers/writers for the reference's daily Elasticsearch-export JSONL
  * files (SURVEY.md §2.1 S1/S2/S4/S5).
  */
object LogSource {

  /** S1 — single daily file scan (`ETL_one_day/ETL_one_day.py:12-14`).
    * Explicit schema: no inference pass over the input. */
  def readDay(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.esEnvelope).json(path)

  /** S2 — one scan over N daily files (`ETL_full_output/ETL_full.py:30-35`).
    * A single multi-path scan gives file-level parallelism in one
    * FileSourceScanExec — the reference measured this 2.45x faster than
    * per-file union (`test_method1_readALL.py:119-123`). */
  def readDays(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(Schemas.esEnvelope).json(paths: _*)

  /** Fault-tolerant daily scan: PERMISSIVE parse with the malformed raw
    * line captured in `_corrupt` instead of poisoning the job (FAILFAST)
    * or silently vanishing (DROPMALFORMED). At 100 TB/day some lines ARE
    * malformed; the split lets the pipeline proceed on the good rows and
    * quarantine the bad ones for inspection/replay. Spark requires
    * caching the parsed frame before a `_corrupt`-only query (the
    * parser needs the data columns to decide malformed-ness) — the
    * returned handle owns that cache: call [[PermissiveScan.unpersist]]
    * once both splits are consumed, or a daily loop leaks one cached
    * frame per day into executor storage. */
  def readDayPermissive(spark: SparkSession, path: String): PermissiveScan = {
    val withCorrupt = org.apache.spark.sql.types.StructType(
      Schemas.esEnvelope.fields :+
        org.apache.spark.sql.types.StructField("_corrupt",
          org.apache.spark.sql.types.StringType))
    val parsed = spark.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)
      .cache()
    PermissiveScan(
      parsed.filter(col("_corrupt").isNull).drop("_corrupt"),
      parsed.filter(col("_corrupt").isNotNull).select(col("_corrupt").as("raw")),
      parsed)
  }

  /** S4 — driver-side date-range → path list
    * (`ETL_full_output/ETL_full.py:17-30`): inclusive [from, to],
    * yyyyMMdd file names. A reversed range fails here rather than
    * yielding no paths, which would make a month report silently empty. */
  def datePaths(base: String, fromDate: String, toDate: String): Seq[String] = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd")
    val from = java.time.LocalDate.parse(fromDate, fmt)
    val to = java.time.LocalDate.parse(toDate, fmt)
    require(!from.isAfter(to), s"date range is reversed: from $fromDate is after to $toDate")
    Iterator.iterate(from)(_.plusDays(1))
      .takeWhile(!_.isAfter(to))
      .map(d => s"$base/${d.format(fmt)}.json")
      .toSeq
  }

  /** P1 — drop the ES envelope, keep the `_source` payload fields
    * (`ETL_one_day/ETL_one_day.py:17` `select('_source.*')`). */
  def flattenSource(df: DataFrame): DataFrame = df.select(col("_source.*"))
}

/** Result of [[LogSource.readDayPermissive]]: the good/quarantined
  * splits plus the shared cached parse backing both. The caller owns
  * the cache lifetime — consume both splits, then `unpersist()`. */
final case class PermissiveScan(good: DataFrame, corrupt: DataFrame,
    parsed: DataFrame) {
  def unpersist(): Unit = { parsed.unpersist(); () }
}

/** S5 — single-file CSV sink
  * (`ETL_one_day/ETL_one_day.py:69` `repartition(1).write...csv`).
  * `coalesce(1)` instead of `repartition(1)`: same single output file,
  * no extra full shuffle. Only sane for small final results — never
  * funnel a 100 TB result through one task.
  */
object CsvSink {
  def writeSingle(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
}

/** Scale-correct sink: day-partitioned parquet. This is what S5 becomes
  * at 100 TB — readers prune partitions on the day column instead of
  * scanning everything, and writes parallelize per partition. */
object ParquetSink {
  def writePartitionedByDay(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("day", date_format(col(tsCol), "yyyy-MM-dd"))
      .write.mode("overwrite")
      .partitionBy("day")
      .parquet(path)

  /** Reprocess-one-day writes: dynamic partition overwrite replaces ONLY
    * the day partitions present in `df` and leaves every other partition
    * untouched — the daily-backfill primitive. (Static overwrite, the
    * default, would wipe the whole dataset.) */
  def overwriteDays(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("day", date_format(col(tsCol), "yyyy-MM-dd"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day")
      .parquet(path)

  /** Sorted, range-partitioned layout: `repartitionByRange` on the sort
    * key, then `sortWithinPartitions` before writing. Each output file
    * then covers a disjoint key range and parquet row-group min/max
    * statistics line up with the sort, so a selective key-range filter
    * touches only the files/row-groups that can match (data skipping) —
    * the layout that makes selective scans cheap at 100 TB when the
    * predicate column is too fine-grained for directory partitioning
    * (e.g. a timestamp or a user id). One range shuffle at write time
    * buys every later scan its skipping. */
  def writeSorted(df: DataFrame, sortCol: String, path: String,
      numFiles: Int = 32): Unit =
    df.repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)

  /** Small-files compaction: rewrite a parquet dataset into ~`targetMB`
    * files using the optimizer's size estimate. `coalesce`, not
    * `repartition` — merging partitions needs no shuffle. The
    * maintenance job that keeps a streaming/daily sink from degrading
    * every later scan with tiny files. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetMB: Int = 128): Unit = {
    val df = spark.read.parquet(inPath)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val parts = (bytes / (targetMB.toLong * 1024 * 1024)).toInt.max(1)
    df.coalesce(parts).write.mode("overwrite").parquet(outPath)
  }
}

/** Training-export sink: the corpus as `nShards` JSONL files under
  * `shard=N/` directories, pre-shuffled — the layout training loaders
  * stream directly. Shard assignment and within-shard order come from
  * [[graft.ext.DataSplit.shuffledShards]] (salted-md5: deterministic
  * across runs, engines, and cluster sizes — re-exporting an unchanged
  * corpus is byte-identical, unlike anything `rand()`-based).
  *
  * Exactly ONE file per shard directory, with rows in `pos` order:
  * `repartition(nShards, $"shard")` puts all of a shard's rows in one
  * task (a task may hold several shards — hash collisions are fine),
  * `sortWithinPartitions(shard, pos)` fixes the line order, and
  * `partitionBy("shard")` then splits each task's output per shard, one
  * file each. No single-task funnel: writes parallelize across shards,
  * so throughput scales with the cluster up to `nShards` tasks. */
object JsonlShardSink {
  def writeShards(df: DataFrame, idCol: String, nShards: Int, path: String,
      salt: String = "#shard"): Unit =
    graft.ext.DataSplit.shuffledShards(df, idCol, nShards, salt)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .write.mode("overwrite").partitionBy("shard").json(path)

  /** Per-shard manifest of an export written by [[writeShards]]:
    * (shard, n_rows, file) — the index a loader uses to plan epochs
    * without listing/scanning the shards themselves. */
  def manifest(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)
      .select(col("shard"), input_file_name().as("file"))
      .groupBy("shard", "file").agg(count(lit(1)).as("n_rows"))
      .select("shard", "n_rows", "file")
}
