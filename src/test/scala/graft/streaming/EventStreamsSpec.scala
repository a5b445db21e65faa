package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class EventStreamsSpec extends SparkSpec {

  test("corpus operators are streaming-safe: stream output equals batch") {
    // stratified sampling, PII redaction, quality scoring, and split
    // assignment are STATELESS column expressions, so the same library
    // calls run unmodified on a readStream — the property that lets a
    // corpus ingest pipeline move from batch backfill to continuous
    // ingestion without a rewrite.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "reach me at bob@x.io for the a of and to details"),
      (2L, "en", "plain short text"),
      (3L, "de", "der die das und der die das und der die"),
      (4L, "zh", "some other text entirely here"),
      (5L, "en", "call 555-123-4567 right now please the the the"))
    def transform(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Corpus.stratifiedSample(
          df, "lang", "doc_id", Map("en" -> 0.7, "de" -> 1.0))
        .select($"doc_id",
          graft.operators.TextAnalysis.redactPii($"text").as("clean"),
          graft.operators.TextAnalysis.qualityScore($"text").as("q"),
          graft.operators.TextAnalysis.assignSplit($"doc_id").as("split"))
    val input = MemoryStream[(Long, String, String)]
    val q = transform(input.toDF().toDF("doc_id", "lang", "text"))
      .writeStream.format("memory").queryName("corpus_stream")
      .outputMode("append").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("corpus_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
        .toSet
      val batch = transform(docs.toDF("doc_id", "lang", "text")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
        .toSet
      assert(streamed == batch)
      assert(batch.nonEmpty && !batch.exists(_._1 == 4L), "zh has rate 0.0")
      batch.find(_._1 == 1L).foreach { r =>
        assert(r._2.contains("<EMAIL>") && !r._2.contains("bob@x.io"))
      }
      batch.find(_._1 == 5L).foreach { r =>
        assert(r._2.contains("<PHONE>"))
      }
    } finally q.stop()
  }
}
