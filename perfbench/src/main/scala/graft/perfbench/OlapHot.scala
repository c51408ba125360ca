package graft.perfbench

import org.apache.spark.storage.StorageLevel
import graft.{Bench, SparkEntry}
import graft.sources.Tables

/** The analytics layer, called from outside: the 14 headline queries
  * (`Bench.headline`) over generated star-schema, events, documents and
  * embeddings tables, cached once, each written to the `noop` sink in an
  * order shuffled from the seed. A first pass writes every query's
  * output for the oracle check and warms codegen; `passes` traced passes
  * follow. */
object OlapHot {
  def run(c: Ctx, dir: String, passes: Int): Unit = {
    val spark = c.spark
    val t = c.tracer
    val rnd = new scala.util.Random(c.seed)
    val tables = Tables.all.map(Tables(spark, dir, _))
    tables.foreach(df => df.persist(StorageLevel.MEMORY_AND_DISK).count())
    val inputRows = tables.map(_.count()).sum

    Bench.headline.foreach { q =>
      c.attempt(s"query $q") {
        SparkEntry.queries(q)(spark, dir).coalesce(1)
          .write.mode("overwrite").parquet(s"${c.work}/olap/$q")
      }
    }
    c.info("olap_oracle_sql") = Bench.headline.map(q => q -> SparkEntry.oracleSql(q)).toMap

    t.setActive(true)
    (0 until passes).foreach { _ =>
      c.attempt("query mix pass") {
        val s = t.span("olap.pass") {
          rnd.shuffle(Bench.headline).map { q =>
            val s = c.timed(t.span(s"analytics.$q")(
              Main.runNoop(SparkEntry.queries(q)(spark, dir))))._2
            c.record(s"analytics.${q}_s", s)
            s
          }.sum
        }
        c.record("olap.pass_s", s)
        c.record("olap.rows_per_s", inputRows / s)
      }
    }
    t.setActive(false)
    tables.foreach(_.unpersist(blocking = true))

    Bench.headline.foreach { q =>
      c.series.get(s"analytics.${q}_s").foreach { xs =>
        c.layer(s"analytics.${q}_s", c.median(xs.toSeq))
      }
    }
    c.countsPer("olap.pass", "analytics",
      Set("jobs", "tasks", "shuffle_write_bytes", "spill_bytes"))
    c.layers.remove("analytics.shuffle_write_bytes")
      .foreach(v => c.layer("analytics.shuffle_bytes", v))
  }
}
