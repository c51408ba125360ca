package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print formatted physical plans for selected queries.
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  * The checks that matter at 100 TB: PushedFilters reaching the parquet
  * scan, ReadSchema pruned to used columns, BroadcastHashJoin on
  * dimension joins, wide WholeStageCodegen spans, no unexpected
  * CartesianProduct/SortMergeJoin where a broadcast fits.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(appName = "graft-explain")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
