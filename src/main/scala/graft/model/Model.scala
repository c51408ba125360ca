package graft.model

import org.apache.spark.sql.types._

/** Typed row models + explicit schemas for every input the engine reads.
  *
  * The reference infers all schemas at read time
  * (`ETL_one_day/ETL_one_day.py:13`, `ETL_full_output/ETL_full.py:33`);
  * we declare them so scans skip the inference pass — at 100 TB an extra
  * full pass over JSON input is a non-starter.
  */

/** Flat viewing-log row after the ES envelope is dropped
  * (reference `ETL_one_day/ETL_one_day.py:17` `select('_source.*')`). */
final case class LogRow(
    Contract: String,
    Mac: String,
    TotalDuration: Long,
    AppName: String)

/** One synthetic-testdata event (`/root/testdata/sfN/events.parquet`) —
  * plays the viewing log in the oracle harness (FIXTURES.md §2):
  * user_id→Contract, event_type→AppName, value→TotalDuration. */
final case class Event(
    event_id: Long,
    ts: java.sql.Timestamp,
    user_id: Long,
    event_type: String,
    value: Double,
    props: String)

final case class Document(
    doc_id: Long,
    text: String,
    lang: String,
    source: String,
    n_chars: Long)

final case class EmbeddingRow(
    vec_id: Long,
    embedding: Array[Float],
    label: Int)

object Schemas {

  /** Elasticsearch bulk-export envelope, exactly as the reference's JSON
    * input presents it (`Dataset/sample_20220401.jsonl:1`; SURVEY.md §1.2). */
  val esEnvelope: StructType = StructType(Seq(
    StructField("_id", StringType),
    StructField("_index", StringType),
    StructField("_score", LongType),
    StructField("_type", StringType),
    StructField("_source", StructType(Seq(
      StructField("Contract", StringType),
      StructField("Mac", StringType),
      StructField("TotalDuration", LongType),
      StructField("AppName", StringType))))))

  val events: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))
}
