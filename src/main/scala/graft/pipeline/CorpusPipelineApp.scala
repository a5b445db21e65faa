package graft.pipeline

import graft.Sessions
import graft.operators.{Corpus, Dedup, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Runnable driver for the training-data corpus build — the corpus
  * counterpart of [[AdvisoryPipelineApp]]. Reads a documents table,
  * runs the deterministic construction chain (exact-dedup canonical ->
  * eval-set decontamination -> PII scrub -> per-language quality
  * gate -> per-source cap -> split assignment -> sequence-packing
  * layout), and materializes the result partitioned by `split` so
  * train/val/test read as partition-pruned scans.
  *
  * Usage:
  *   runMain graft.pipeline.CorpusPipelineApp <docsParquet> <outDir>
  *     [evalParquet]
  *
  * Every stage is a pure function of the data (md5 buckets, shingle
  * hashes, integer prefix sums) — re-running the build on the same
  * input lands byte-identical splits, which is what makes the corpus
  * auditable. The same chain is oracle-checked query-by-query and as
  * the composed `q_corpus_pipeline`.
  */
object CorpusPipelineApp {

  /** The construction chain, exposed for tests and reuse. `evalSet`
    * empty -> decontamination is a no-op (anti-join against nothing). */
  def build(docs: DataFrame, evalSet: DataFrame,
      minQualityRank: Double = 0.10, capPerSource: Int = 1000,
      packBudget: Int = 2048, shards: Int = 64): DataFrame = {
    val canon = Dedup.exactDedupGroups(docs, "text", "doc_id")
      .select(col("canonical_id").as("doc_id"))
    val base = docs.join(canon, "doc_id")
    val contam = Dedup.contaminatedDocs(docs, evalSet, "text", "doc_id")
      .select(col("doc_id"))
    val clean = base.join(contam, Seq("doc_id"), "left_anti")
      .withColumn("text", TextAnalysis.redactPii(col("text")))
    val scored = clean.withColumn("q", TextAnalysis.qualityScore(col("text")))
    val w = Window.partitionBy(col("lang")).orderBy(col("q"), col("doc_id"))
    val kept = scored.withColumn("pr", percent_rank().over(w))
      .filter(col("pr") >= minQualityRank).drop("pr")
    val capped = Corpus.capPerGroup(kept, "source", "doc_id", capPerSource)
      .withColumn("split", TextAnalysis.assignSplit(col("doc_id")))
      .withColumn("shard", pmod(col("doc_id"), lit(shards)))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
    val layout = Corpus.packChunks(
      capped.select(col("doc_id"), col("shard"), col("n_tokens")),
      "shard", "doc_id", "n_tokens", packBudget)
      .select(col("doc_id"), col("chunk_start"), col("chunk_end"),
        col("chunk_offset"))
    capped.join(layout, "doc_id")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: <docsParquet> <outDir> [evalParquet]")
    val Array(docsPath, outDir) = args.take(2)
    val spark = Sessions.local("corpus-pipeline", defaultCpus = 32)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    val docs = spark.read.parquet(docsPath)
    val evalSet = args.lift(2)
      .map(spark.read.parquet(_))
      .getOrElse(docs.limit(0))
    build(docs, evalSet)
      .write.mode("overwrite").partitionBy("split").parquet(outDir)
    spark.stop()
  }
}
