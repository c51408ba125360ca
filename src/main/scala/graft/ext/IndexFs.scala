package graft.ext

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** Hadoop-FileSystem helpers for the persisted-index MAINTENANCE layer
  * (MinHash / IVF tombstones, compactions, streaming-delta folds).
  *
  * The index layouts are written and read by Spark's parquet
  * writers/readers, which speak to whatever FileSystem the path names
  * (`file:/`, `hdfs:/`, `s3a:/`). The maintenance side must resolve
  * paths the SAME way: a `java.io.File` existence check against an
  * `hdfs://` index is simply false on the driver's local disk — which
  * would turn takedown deletes into silent no-ops (tombstones written
  * but never loaded) and compactions into no-ops on exactly the
  * cluster deployments the 100 TB design targets. Every helper here
  * resolves the FileSystem FROM the path against the session's Hadoop
  * configuration, so local tests exercise the identical code path
  * (LocalFileSystem) that HDFS/S3 deployments run.
  *
  * The manifest/generation layout built on these helpers lives in
  * [[IndexLayout]]; this object keeps only the FileSystem-resolution
  * primitives (existence, recursive delete, committed-footer
  * presence, footer row counts) both index families and the streaming
  * delta lifecycle share. */
private[graft] object IndexFs {
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  /** Recursive delete; quiet on absence. */
  def delete(spark: SparkSession, path: String): Unit = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (f.exists(p)) f.delete(p, true)
    ()
  }

  /** True iff the tree under `path` holds at least one COMMITTED
    * parquet DATA file. A partitioned write of an empty frame leaves
    * only `_SUCCESS` (no footers), and a bare `spark.read.parquet`
    * over a footer-less tree throws at schema inference — so presence
    * checks must look for FILES, not directory names. HIDDEN entries
    * (`_`/`.`-prefixed: `_temporary`, `_SUCCESS`, `.crc`, the
    * compaction staging dirs) are skipped, matching Spark's own path
    * filter — a write hard-killed mid-job leaves task files under
    * `_temporary` that Spark's reader will NOT surface; counting them
    * would wedge every replay on a dir Spark reads as empty. */
  def hasParquetData(spark: SparkSession, path: String): Boolean =
    anyDataFile(spark, path)((_, _) => true)

  /** True iff some committed parquet data file under `path` (the
    * [[hasParquetData]] rule) holds at least one row, by its footer's
    * row count, read on the driver: no Spark job. An UNPARTITIONED
    * write of an empty frame leaves one zero-row schema-anchor file,
    * which [[hasParquetData]] would count as data. */
  def hasRows(spark: SparkSession, path: String): Boolean =
    anyDataFile(spark, path) { (st, conf) =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount > 0 finally r.close()
    }

  /** Whether `p` holds for some committed parquet data file under
    * `path`; stops at the first that does. */
  private def anyDataFile(spark: SparkSession, path: String)(
      p: (FileStatus, Configuration) => Boolean): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    val f = new Path(path).getFileSystem(conf)
    def walk(dir: Path): Boolean = {
      val entries = f.listStatus(dir).filterNot(st => hidden(st.getPath.getName))
      entries.exists(st => st.isFile && st.getPath.getName.endsWith(".parquet") &&
        p(st, conf)) ||
        entries.exists(st => st.isDirectory && walk(st.getPath))
    }
    f.exists(new Path(path)) && walk(new Path(path))
  }

  /** The names [[hasParquetData]] and every index read skip: commit
    * markers, checksums and in-flight `_temporary` output. */
  def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")
}
