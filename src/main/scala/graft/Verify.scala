package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump one query result to `outDir/<name>` parquet. A THROWN query
    * must still leave a driver-visible artifact: round 9's regenerated
    * testdata made three queries throw, the old catch logged to stderr
    * only, and the driver's correctness artifact reported them as
    * *absent* — a regression disguised as a smaller query set. On
    * failure we write a 1-row parquet with a `_graft_error` column: its
    * schema can never match an oracle, so the driver reports a loud
    * per-query failure row instead of silence. */
  def dumpQuery(spark: SparkSession, sfDir: String, outDir: String,
      name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
    try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/$name")
    catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      try {
        import spark.implicits._
        Seq(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
          .toDF("_graft_error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e2: Throwable =>
        System.err.println(s"[verify] $name error marker also failed: ${e2.getMessage}")
      }
    }

  def main(args: Array[String]): Unit = {
    // Optional third arg: comma-separated query-name prefixes — dump
    // (and list oracle SQL for) only matching queries. Builder-side
    // iteration aid; the driver always invokes with two args.
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSeq))
    }
    def keep(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val spark = GraftSession.local(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1))
      .foreach { case (name, fn) => dumpQuery(spark, sfDir, outDir, name, fn) }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
