package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.{LogSource, CsvSink, Catalog}
import graft.ops.{ReferenceEtl, Viewing}
import graft.ext.{Dedup, Similarity, TextAnalysis, Packing}

/** Compiles the README quick-start verbatim so the example can never
  * drift from the API. Never executed — compilation IS the check
  * (paths are fake; running it would require real data). Keep in sync
  * with README.md "Quick start". */
private object ReadmeQuickStartCheck {
  def example(): Unit = {
    val spark = GraftSession.local()        // AQE on, UTC, cores-sized shuffle

    // Reference-parity ETL over the JSONL export format. The profile is one
    // per-contract aggregation, so the input is scanned once:
    val day     = LogSource.readDay(spark, "/data/logs/20240115.json")
    val profile = ReferenceEtl.fullPipeline(LogSource.flattenSource(day))
    CsvSink.writeSingle(profile, "/out/profiles.csv")

    // Or the same semantics over parquet event tables:
    val events  = graft.sources.Tables.events(spark, "/data/sf")
    val users   = Viewing.fullPipeline(events)

    // Training-corpus prep: dedup -> near-dup clusters -> pack:
    val docs     = graft.sources.Tables.documents(spark, "/data/sf")
    val unique   = Dedup.dedupKeepFirst(docs)
    val clusters = Dedup.connectedComponents(
      Dedup.minhashNearDups(unique))        // LSH at scale, exact verify
    val shards   = Packing.tokenOffsets(unique.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).as("n_tokens")))

    // ANN over an embedding column (brute-force twin: bruteForceTopK):
    val emb  = graft.sources.Tables.embeddings(spark, "/data/sf")
    val topk = Similarity.lshTopK(emb, emb.limit(10), k = 5)

    // Semantic dedup (SemDeDup), corpus kNN graph, incremental daily ingest:
    val semKept  = Dedup.semanticDedup(emb, nClusters = 64, nIters = 2)
    val knn      = Similarity.knnGraphClustered(emb, k = 3, nList = 64)
    val admitted = Dedup.incrementalIngest(corpus = unique, batch = docs)

    // Living-corpus maintenance: snapshot delta, change triage, curation
    // (or run the whole x19→x21→x20→x22 chain: the CorpusRefresh app):
    val delta    = Dedup.snapshotDiff(oldSnap = unique, newSnap = docs)
    val triage   = Dedup.changeMagnitude(oldSnap = unique, newSnap = docs)
    val outliers = Similarity.centroidOutliers(
      emb.join(docs.select(col("doc_id").as("vec_id"), col("source")), "vec_id"))

    // Retrieval prep: chunks, positional index, phrase search, BPE stats:
    val chunks   = graft.ext.Retrieval.chunks(unique)
    val hits     = graft.ext.Retrieval.phraseSearch(unique, Seq("deep", "learning"))
    val bpePairs = TextAnalysis.bpePairStats(unique)

    // Loader-ready export: deterministic pre-shuffled JSONL shards:
    graft.sources.JsonlShardSink.writeShards(unique, "doc_id",
      nShards = 1024, "/out/shards")

    // Plain SQL over everything, with the graft_* native functions:
    Catalog.registerViews(spark, "/data/sf") // or spark.sql.extensions=graft.GraftExtensions
    spark.sql("SELECT doc_id, graft_repeat_stats(split(text, ' ')) FROM documents").show()

    // silence unused-value warnings — the bindings mirror the README
    val _ = (users, clusters, shards, topk, semKept, knn, admitted,
      delta, triage, outliers, chunks, hits, bpePairs)
  }
}
