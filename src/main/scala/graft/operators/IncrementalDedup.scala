package graft.operators

import graft.streaming.SnapshotUpsert
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-dup detection against a STANDING LSH index — the incremental
  * form [[Dedup.minHashCandidatesCross]]'s doc promises ("the existing
  * side's banded buckets are the precomputed LSH index, built once,
  * appended per ingest") made runnable: the index is a
  * [[SnapshotUpsert]] table of banded signature rows, so each ingest
  * reads the committed index, emits the batch's candidates against it,
  * and commits the batch's own signatures as the next version — the
  * daily-crawl dedup shape at 100 TB, where re-shingling the corpus
  * per ingest (what the non-incremental API does) would re-read
  * everything ever ingested.
  *
  * Index layout: one row per (doc, band) — `(doc_id, band, key)`,
  * keyed on (doc_id, band), merged in arrival order (a re-ingested
  * doc's signatures simply re-state themselves; the merge is
  * idempotent). Signature rows are a few dozen bytes — bands x corpus
  * rows total, the size of an LSH index, never of the text.
  *
  * Why the snapshot table (not a plain parquet append): the commit is
  * atomic (a crashed ingest never leaves half a batch's signatures),
  * replays converge (keyed upsert), retired docs are TOMBSTONED out
  * (an appended index can only grow), and — because committed files
  * are immutable and plans pin a manifest — the candidate DataFrame
  * returned by [[ingest]] stays valid (lazily!) across its own
  * subsequent index commit: no materialization barrier is needed
  * between "find candidates against the old index" and "add the batch
  * to the index".
  *
  * Candidate semantics match [[Dedup.minHashCandidatesCross]] exactly
  * (same signatures, same band join); verification composes as usual —
  * feed the pairs to [[Dedup.jaccardForPairs]] /
  * [[Dedup.containmentForPairs]] with the corpus text table.
  */
object IncrementalDedup {

  /** The batch's index rows: (doc_id, band, key). */
  def signatureRows(batch: DataFrame, textCol: String, idCol: String,
      k: Int = 8, bands: Int = 4, n: Int = 3): DataFrame =
    Dedup.bandedBuckets(batch, textCol, idCol, k, bands, n)
      .select(col("id").as("doc_id"), col("band"), col("key"))

  /** The standing index as of its current committed version (empty
    * frame with the index schema for a not-yet-created index). */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    if (SnapshotUpsert.versions(spark, indexDir).isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, band INT, key STRING"))
    else SnapshotUpsert.readSnapshot(spark, indexDir)

  /** One ingest step: candidates of `batch` against the standing index
    * (id1 = batch doc, id2 = previously-indexed doc, distinct), and the
    * batch's signatures committed as the index's next version. The
    * returned plan reads the PRE-ingest index version (immutable
    * files), so it can be consumed lazily after the commit. A replayed
    * ingest is convergent — same candidates, identical index content —
    * BECAUSE the batch's own doc_ids are anti-joined out of the
    * existing side: on a replay the index already holds the batch's
    * signatures, and without the exclusion the candidate join would
    * emit intra-batch pairs the first run never saw. The flip side of
    * that exclusion is the scope contract: candidates are batch vs the
    * PRE-batch corpus only — intra-batch pairs (two dups arriving in
    * the same crawl) are deliberately out of scope here; run
    * [[Dedup.minHashCandidates]] on the batch alongside when a crawl
    * can contain its own duplicates (that pairing also covers a
    * re-ingested doc vs its batch-mates, which this join excludes as
    * "its own prior rows"). */
  def ingest(batch: DataFrame, indexDir: String, textCol: String,
      idCol: String, k: Int = 8, bands: Int = 4, n: Int = 3,
      nBuckets: Int = 64, keepVersions: Int = 2): DataFrame = {
    val spark = batch.sparkSession
    val sigs = signatureRows(batch, textCol, idCol, k, bands, n)
    val batchIds = sigs.select(col("doc_id")).distinct()
    // the anti join keys on doc_id alone, so the index side shrinks to
    // docs NOT in the batch before the band join — replay-convergence
    // by construction (the batch's own committed signatures can never
    // join back against themselves)
    val existing = readIndex(spark, indexDir)
      .join(batchIds, Seq("doc_id"), "left_anti")
    val cands = sigs.as("l")
      .join(existing.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.doc_id") =!= col("r.doc_id"))
      .select(col("l.doc_id").as("id1"), col("r.doc_id").as("id2"))
      .distinct()
    SnapshotUpsert.upsertBatchSnapshot(sigs, indexDir,
      keys = Seq("doc_id", "band"), orderCol = "", nBuckets = nBuckets,
      keepVersions = keepVersions)
    cands
  }

  /** Layout maintenance: split overfull signature buckets in place
    * (see [[IncrementalText.maintain]] — same contract). */
  def maintain(spark: SparkSession, indexDir: String,
      maxBucketBytes: Long, keepVersions: Int = 2): Seq[Int] =
    SnapshotUpsert.splitOverfull(spark, indexDir, maxBucketBytes,
      keepVersions)

  /** Remove retired documents from the index (tombstones): their
    * signature rows stop matching future ingests from the next
    * committed version on. `ids` carries one `doc_id` per retired
    * doc; every band row of each doc is tombstoned. The band count is
    * read off the INDEX (max band + 1 — one column scan on the rare
    * maintenance path), not restated by the caller: a restated count
    * smaller than the real layout would silently leave some band rows
    * alive and the "retired" doc still matching. */
  def retire(spark: SparkSession, indexDir: String, ids: DataFrame,
      keepVersions: Int = 2): Unit = {
    val bandRow = readIndex(spark, indexDir)
      .agg(max(col("band")).as("maxb")).head()
    require(!bandRow.isNullAt(0),
      s"retire: no committed index at $indexDir")
    val bands = bandRow.getInt(0) + 1
    val tombs = ids.select(col("doc_id"))
      .crossJoin(spark.range(bands).select(col("id").cast("int").as("band")))
      .withColumn("key", lit(null).cast("string"))
      .withColumn("_deleted", lit(true))
    SnapshotUpsert.upsertBatchSnapshot(tombs, indexDir,
      keys = Seq("doc_id", "band"), orderCol = "",
      // the current manifest is the layout authority — a restated
      // bucket count could only be wrong
      nBuckets = SnapshotUpsert.currentBuckets(spark, indexDir).getOrElse(
        sys.error(s"retire: no committed index at $indexDir")),
      keepVersions = keepVersions, tombstoneCol = Some("_deleted"))
  }
}
