package graft.operators

import graft.streaming.SnapshotUpsert
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BM25 retrieval against a STANDING inverted index — the third
  * standing-index operator next to [[IncrementalDedup]] (LSH) and
  * [[IncrementalAnn]] (IVF), and the incremental form of
  * [[TextAnalysis.bm25TopK]]: the postings live in a [[SnapshotUpsert]]
  * table, each ingest tokenizes ONLY its batch and commits the batch's
  * postings as the next version (never re-tokenizing the corpus), and
  * retrieval reads ONLY the query terms' buckets — the inverted-index
  * fetch, manifest-pruned, never a corpus tokenization.
  *
  * Index layout (two snapshot tables under `indexDir`):
  *   - `postings/` — one row per (term, doc): `(term, doc_id, tf_cnt,
  *     n_toks)`, keyed on (term, doc_id) and BUCKETED BY `term` alone
  *     (the `bucketCols` prefix, recorded in the manifest), so
  *     [[SnapshotUpsert.readKeys]] probed with a query's terms prunes
  *     to exactly those terms' buckets.
  *   - `doclen/` — one row per doc: `(doc_id, dl)`, the corpus-stats
  *     side. n_docs/sum_dl = one aggregate over this narrow table —
  *     linear in the corpus, the honest cost of EXACT corpus-wide
  *     idf/avgdl — MEMOIZED per committed version, so each JVM pays
  *     the scan once per commit, not once per query batch.
  *
  * Retrieval cost: a query reads its terms' buckets — each bucket file
  * holds ~1/nBuckets of the postings table, so the fetched fraction is
  * `|distinct probed buckets| / nBuckets` of the index, NOT a fixed
  * per-term cost. Size `nBuckets` so one bucket is a sane fetch unit
  * at the target corpus (e.g. 4096 buckets over a 1 TB postings table
  * = ~250 MB per probe); grow it later with [[maintain]] (r11:
  * in-place linear-hashing splits of just the overfull buckets,
  * slice-sized) — [[SnapshotUpsert.rebucket]] remains only as the
  * everything-at-once fallback.
  *
  * Scores are BIT-IDENTICAL to [[TextAnalysis.bm25TopK]] over the
  * accumulated corpus: the postings rows ARE
  * [[TextAnalysis.bm25Postings]]'s output and scoring runs the shared
  * [[TextAnalysis.bm25Rank]] kernel (one definition, no drift) —
  * oracle-gated as `q_text_bm25_incremental` against the
  * `q_text_bm25` recompute.
  *
  * Contract: a doc's ingest is append-or-identical-replay. Replays
  * converge (keyed upsert: the same postings re-state themselves), but
  * a CHANGED re-ingest of a doc would leave postings of its REMOVED
  * terms behind (they are other keys) — to update a doc, [[retire]] it
  * first, then ingest the new text. Retire takes the docs WITH text
  * for the same reason: the (term, doc_id) keys to tombstone are the
  * doc's own terms. Each ingest/retire is TWO atomic commits (postings
  * then doclen), not one cross-table transaction: a crash between them
  * leaves stats that disagree with the postings, and topK is only
  * guaranteed corpus-consistent again once the interrupted call is
  * REPLAYED to completion (both merges are idempotent, so the replay
  * converges) — the same replay-before-trusting rule as any
  * half-applied batch.
  */
object IncrementalText {

  private def postingsDir(indexDir: String) = s"$indexDir/postings"
  private def doclenDir(indexDir: String) = s"$indexDir/doclen"

  /** Corpus stats (n_docs, sum_dl) memoized per (doclen table, committed
    * version): the aggregate scans one narrow row per doc — linear in
    * the corpus — but can only change when a commit does, so each JVM
    * pays it once per version instead of once per query batch (the
    * rehearsal measured this as the dominant retrieval term at 5M
    * docs). The aggregate reads the PINNED version (not "current" — a
    * commit landing between the version lookup and the scan must not
    * memoize the newer state under the older key), runs OUTSIDE the
    * map's locks (a concurrent first query may duplicate the scan; it
    * must never serialize unrelated readers behind a Spark job), and
    * inserting a version EVICTS the same table's older entries, so the
    * cache holds one live entry per table, not one per commit ever
    * made. */
  private val statsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), (Long, Long)]()

  private def corpusStats(spark: SparkSession, indexDir: String)
      : (Long, Long) = {
    val dl = doclenDir(indexDir)
    val ver = SnapshotUpsert.versions(spark, dl).lastOption.getOrElse(
      sys.error(s"topK: no committed index at $indexDir"))
    val key = (dl, ver)
    Option(statsCache.get(key)).getOrElse {
      val r = SnapshotUpsert.readVersion(spark, dl, ver)
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")).head()
      val v = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      statsCache.putIfAbsent(key, v)
      statsCache.keySet.removeIf(k => k._1 == dl && k._2 < ver)
      v
    }
  }

  /** Add (or identically replay) a batch of docs to the standing
    * index: two atomic commits — the batch's postings (term-bucketed)
    * and its doc lengths. The batch is tokenized ONCE (the postings
    * are materialized and the doclen rows fold from them — `dl` is
    * the `n_toks` every posting of a doc carries). */
  def ingest(batch: DataFrame, indexDir: String, textCol: String,
      idCol: String, nBuckets: Int = 64, keepVersions: Int = 2): Unit = {
    val postings = TextAnalysis.bm25Postings(batch, textCol, idCol)
      .localCheckpoint(true)
    try {
      SnapshotUpsert.upsertBatchSnapshot(postings, postingsDir(indexDir),
        keys = Seq("term", "doc_id"), orderCol = "",
        nBuckets = nBuckets, keepVersions = keepVersions,
        bucketCols = Seq("term"))
      SnapshotUpsert.upsertBatchSnapshot(
        postings.groupBy("doc_id")
          .agg(max(col("n_toks")).cast("long").as("dl")),
        doclenDir(indexDir), keys = Seq("doc_id"), orderCol = "",
        nBuckets = nBuckets, keepVersions = keepVersions)
    } finally postings.unpersist(false)
  }

  /** Layout maintenance: split overfull POSTINGS buckets in place
    * (linear hashing, [[SnapshotUpsert.splitOverfull]]) — the standing
    * index's growth path, slice-sized instead of the table-sized
    * rebucket. Retrieval is layout-transparent (probes route by the
    * manifest's recorded depths); corpus stats are untouched. A split
    * is a WRITER: run it between ingests, not concurrently with one.
    * Returns the split bucket ids. */
  def maintain(spark: SparkSession, indexDir: String,
      maxBucketBytes: Long, keepVersions: Int = 2): Seq[Int] =
    SnapshotUpsert.splitOverfull(spark, postingsDir(indexDir),
      maxBucketBytes, keepVersions)

  /** Top-k docs per keyword query from the COMMITTED index — the
    * result [[TextAnalysis.bm25TopK]] would produce over the whole
    * accumulated corpus, computed from the query terms' buckets plus
    * one aggregate over the doclen table. Output: (query_id, doc_id,
    * bm25, rank), identical tie-break (score desc, doc_id asc). */
  def topK(spark: SparkSession, indexDir: String, queries: DataFrame,
      qIdCol: String, qTextCol: String, k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val qterms = TextAnalysis.bm25QueryTerms(queries, qIdCol, qTextCol)
    // the inverted-index fetch: ONLY the probed terms' buckets are read
    // (doc_freq comes from bm25Rank's restricted aggregate over these
    // rows — co-bucketed non-query terms are semi-joined away before
    // the count instead of inflating a full-bucket groupBy)
    val postings = SnapshotUpsert.readKeys(spark, postingsDir(indexDir),
      qterms.select(col("term")).distinct(), Seq("term"))
    val (nDocs, sumDl) = corpusStats(spark, indexDir)
    import spark.implicits._
    val stats = Seq((nDocs, sumDl)).toDF("n_docs", "sum_dl")
    TextAnalysis.bm25Rank(postings, stats, qterms, k, k1, b)
  }

  /** Tombstone retired docs out of the index. `docs` carries the
    * retired docs WITH their text (the tombstoned (term, doc_id) keys
    * are the docs' own terms — see object doc); layouts come from the
    * tables' current manifests. */
  def retire(spark: SparkSession, indexDir: String, docs: DataFrame,
      textCol: String, idCol: String, keepVersions: Int = 2): Unit = {
    val tombs = TextAnalysis.bm25Postings(docs, textCol, idCol)
      .select(col("term"), col("doc_id"),
        lit(null).cast("long").as("tf_cnt"),
        lit(null).cast("int").as("n_toks"))
      .withColumn("_deleted", lit(true))
    SnapshotUpsert.upsertBatchSnapshot(tombs, postingsDir(indexDir),
      keys = Seq("term", "doc_id"), orderCol = "",
      nBuckets = SnapshotUpsert.currentBuckets(spark, postingsDir(indexDir))
        .getOrElse(sys.error(s"retire: no committed index at $indexDir")),
      keepVersions = keepVersions, tombstoneCol = Some("_deleted"),
      bucketCols = Seq("term"))
    SnapshotUpsert.upsertBatchSnapshot(
      docs.select(col(idCol).as("doc_id"),
          lit(null).cast("long").as("dl"))
        .withColumn("_deleted", lit(true)),
      doclenDir(indexDir), keys = Seq("doc_id"), orderCol = "",
      nBuckets = SnapshotUpsert.currentBuckets(spark, doclenDir(indexDir))
        .getOrElse(sys.error(s"retire: no committed index at $indexDir")),
      keepVersions = keepVersions, tombstoneCol = Some("_deleted"))
  }
}
