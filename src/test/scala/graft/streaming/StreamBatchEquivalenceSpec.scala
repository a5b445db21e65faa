package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming ↔ batch EQUIVALENCE over the real testdata fixture.
  *
  * The engine itself runs in batch; these cases replay the sf0.001
  * documents through MemoryStream in several micro-batches and assert
  * that stateless library operators (BPE, stride windows, Gopher
  * rules, the trained classifier) and the frequent-items sketch
  * produce the REGISTERED batch query's result — the same result the
  * DuckDB oracle gate checks — when run unchanged on a stream.
  */
class StreamBatchEquivalenceSpec extends SparkSpec {

  private def chunks[T](xs: Seq[T], n: Int): Seq[Seq[T]] = {
    val size = math.max(1, math.ceil(xs.size / n.toDouble).toInt)
    xs.grouped(size).toSeq
  }

  test("stateless text analysis (real BPE) streams unchanged: replay equals q_text_tokens_bpe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the BPE merge chain is a pure Column projection, so the SAME
    // expression runs append-mode on a stream with zero state — the
    // property that makes the text-analysis layer reusable in a
    // streaming ingest pipeline without a parallel implementation
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .select($"doc_id",
        graft.operators.TextAnalysis.bpeTokenCount($"text").as("n_bpe_tokens"))
      .writeStream.format("memory").queryName("eq_bpe")
      .outputMode("append").start()
    try {
      chunks(docs, 4).foreach { c =>
        input.addData(c: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("eq_bpe").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = graft.SparkEntry.queries("q_text_tokens_bpe")(spark, sf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(batch.nonEmpty && streamed == batch,
        s"streamed ${streamed.size} docs vs batch ${batch.size}")
    } finally q.stop()
  }

  test("stride windowing streams unchanged: replay equals q_chunk_overlap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // windowChunks is a per-document generate (explode over a pure
    // function of the token count) — stateless, so the SAME operator
    // runs append-mode on a streaming ingest: chunks emit as each
    // document arrives, no watermark, no state store
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.Corpus.windowChunks(
        input.toDF().toDF("doc_id", "text")
          .select($"doc_id",
            graft.operators.TextAnalysis.bpeTokens($"text").as("toks")),
        "doc_id", "toks", chunkTokens = 64, overlapTokens = 16)
      .writeStream.format("memory").queryName("eq_chunks")
      .outputMode("append").start()
    try {
      chunks(docs, 4).foreach { c =>
        input.addData(c: _*)
        q.processAllAvailable()
      }
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))
      val streamed = spark.table("eq_chunks")
        .select("doc_id", "chunk_idx", "n_tokens", "chunk_text")
        .collect().map(key).toSet
      val batch = graft.SparkEntry.queries("q_chunk_overlap")(spark, sf)
        .select("doc_id", "chunk_idx", "n_tokens", "chunk_text")
        .collect().map(key).toSet
      assert(batch.nonEmpty && streamed == batch,
        s"streamed ${streamed.size} chunks vs batch ${batch.size}")
    } finally q.stop()
  }

  test("Gopher quality rules stream unchanged: replay equals q_quality_gopher") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the rule battery is pure scan-local Column math -> append-mode
    // streamable with zero state, like the BPE projection
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.TextAnalysis.gopherQuality(
        input.toDF().toDF("doc_id", "text"), "text", "doc_id")
      .writeStream.format("memory").queryName("eq_gopher")
      .outputMode("append").start()
    try {
      chunks(docs, 4).foreach { c =>
        input.addData(c: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("eq_gopher").collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      val batch = graft.SparkEntry.queries("q_quality_gopher")(spark, sf)
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      assert(batch.nonEmpty && streamed == batch,
        s"streamed ${streamed.size} docs vs batch ${batch.size}")
    } finally q.stop()
  }

  test("trained quality classifier scores stream unchanged: replay equals q_quality_clf_score") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // deploy shape for a growing corpus: fit once in batch, score every
    // arriving doc with the literal-weight scan-local projection —
    // stateless, so append-mode streamable with zero state
    val w = graft.operators.QualityClassifier.train(
      spark.read.parquet(s"$sf/documents.parquet")
        .where($"doc_id" % 5 =!= 0))
    val evalDocs = spark.read.parquet(s"$sf/documents.parquet")
      .where($"doc_id" % 5 === 0)
      .select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    val input = MemoryStream[(Long, String)]
    val q = graft.operators.QualityClassifier.score(
        input.toDF().toDF("doc_id", "text"), w)
      .writeStream.format("memory").queryName("eq_clf")
      .outputMode("append").start()
    try {
      chunks(evalDocs, 4).foreach { c =>
        input.addData(c: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("eq_clf").collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      val batch = graft.SparkEntry.queries("q_quality_clf_score")(spark, sf)
        .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      assert(batch.nonEmpty && streamed == batch,
        s"streamed ${streamed.size} docs vs batch ${batch.size}")
    } finally q.stop()
  }

  test("sketch-on-ingest: streaming frequent-items union equals the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the incremental-profile shape: each micro-batch contributes
    // token observations; the custom TypedImperativeAggregate unions
    // them in complete-mode streaming aggregation state, so the
    // standing result after N batches must equal one batch build over
    // everything ingested — the monoid law under the state store
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select($"lang", explode(split($"text", " ")).as("item"))
      .as[(String, String)].collect().sortBy(t => (t._1, t._2)).toSeq
    val input = MemoryStream[(String, String)]
    val q = input.toDF().toDF("lang", "item")
      .groupBy("lang")
      .agg(graft.functions.SketchAggregates.freqSketch($"item", 128).as("fsk"))
      .select($"lang",
        graft.functions.SketchAggregates.freqTopK($"fsk", 5).as("top"))
      .writeStream.format("memory").queryName("eq_sketch")
      .outputMode("complete").start()
    try {
      chunks(toks, 3).foreach { c =>
        input.addData(c: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("eq_sketch").collect()
        .map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
      val batch = spark.read.parquet(s"$sf/documents.parquet")
        .select($"lang", explode(split($"text", " ")).as("item"))
        .groupBy("lang")
        .agg(graft.functions.SketchAggregates.freqSketch($"item", 128).as("fsk"))
        .select($"lang",
          graft.functions.SketchAggregates.freqTopK($"fsk", 5).as("top"))
        .collect().map(r => r.getString(0) -> r.getSeq[Any](1)).toMap
      assert(batch.nonEmpty && streamed == batch,
        s"streaming union diverged: $streamed vs $batch")
    } finally q.stop()
  }
}
