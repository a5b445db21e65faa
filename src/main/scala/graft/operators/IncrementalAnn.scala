package graft.operators

import graft.streaming.SnapshotUpsert
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF similarity search over a STANDING index — the ANN twin of
  * [[IncrementalDedup]]: cell assignments live in a [[SnapshotUpsert]]
  * table, so embedding batches are ingested incrementally (assign
  * against FIXED centroids, commit the assigned rows atomically) and
  * queries probe the committed index — no re-clustering or re-assigning
  * of the corpus per ingest, the daily-embedding-ingest shape at
  * 100 TB.
  *
  * Centroids are the caller's and must stay FIXED for the life of the
  * index (cells are a function of them — the same contract as
  * [[Similarity.assignCells]]'s oracle-checkable path; train them once
  * with [[Similarity.ivfIndex]] or pin deterministic ones). When the
  * corpus outgrows the centroid count (the sqrt-N rule,
  * [[Similarity.autoCells]]), retrain and rebuild the index — that
  * rebuild is SEMANTIC (new cells = new keys) and stays table-sized.
  * Mere bucket-LAYOUT growth, by contrast, is [[maintain]] (r11):
  * in-place linear-hashing splits of the overfull buckets only.
  *
  * Index layout: one row per vector — `(id, cell, vector)`, keyed on
  * (cell, id) and BUCKETED BY `cell` alone (the `bucketCols` prefix,
  * recorded in the manifest): the table IS the inverted file, so
  * [[topK]] reads ONLY the probed cells' buckets — `nProbe x queries`
  * distinct buckets, never the index — via [[SnapshotUpsert.readKeys]].
  * Search semantics are exactly [[Similarity.ivfTopK]] over the
  * committed assignment (the probe selection is the SHARED
  * [[Similarity.probeSet]], so the pruned read covers every cell the
  * scorer joins).
  *
  * Contract: a vector's ingest is append-or-identical-replay. Replays
  * converge (same embedding -> same cell -> same key re-states
  * itself), but a CHANGED embedding can land in a DIFFERENT cell — a
  * different key, so the old row would survive as a stale duplicate.
  * To update a vector, [[retire]] it first, then ingest the new
  * embedding (same rule as [[IncrementalText]]'s changed-doc
  * re-ingest). Retired vectors are tombstoned out and stop matching
  * from the next version.
  */
object IncrementalAnn {

  /** One ingest step: assign the batch against the fixed centroids and
    * commit the assigned rows as the index's next version.
    * `verifyNoReassign` turns the changed-embedding misuse (see object
    * doc: a re-ingested vector landing in a different cell leaves a
    * stale duplicate) into a loud error by checking the batch's ids
    * against the committed index first — an extra index scan per
    * ingest, so it is OFF by default and meant for callers whose
    * upstream cannot promise append-or-identical batches. */
  def ingest(batch: DataFrame, indexDir: String, centroids: DataFrame,
      idCol: String, vecCol: String, nBuckets: Int = 64,
      keepVersions: Int = 2, verifyNoReassign: Boolean = false,
      withIdMap: Boolean = false): Unit = {
    val spark = batch.sparkSession
    val assigned = Similarity.assignCells(batch, centroids, idCol, vecCol)
      .select(col(idCol), col("cell"), col(vecCol))
    if (verifyNoReassign &&
        SnapshotUpsert.currentBuckets(spark, indexDir).isDefined) {
      val moved = readIndex(spark, indexDir)
        .select(col(idCol), col("cell").as("__oldcell"))
        .join(assigned.select(col(idCol), col("cell")), Seq(idCol))
        .where(col("cell") =!= col("__oldcell"))
        .select(col(idCol)).limit(5).collect().map(_.get(0))
      require(moved.isEmpty,
        s"ingest: batch re-assigns already-indexed ids to different cells " +
          s"(e.g. ${moved.mkString(", ")}) — the old rows would survive as " +
          "stale duplicates; retire these ids first, then ingest")
    }
    // an EXISTING idmap is always maintained, flag or no flag: [[retire]]
    // trusts the idmap whenever one exists, so an ingest that skipped it
    // would make later retires of these ids silently tombstone nothing
    // (the invariant is idmap ids ⊇ live index ids, not "idmap when the
    // caller remembered the flag")
    val maintainMap = withIdMap ||
      SnapshotUpsert.versions(spark, idMapDir(indexDir)).nonEmpty
    // single evaluation across the TWO commits: the idmap and the
    // index must record the SAME assignment even for a
    // non-deterministic upstream batch
    val pinned = if (maintainMap) assigned.localCheckpoint(true) else assigned
    try {
      if (maintainMap)
        commitIdMap(pinned.select(col(idCol), col("cell")), indexDir,
          idCol, keepVersions)
      SnapshotUpsert.upsertBatchSnapshot(pinned, indexDir,
        keys = Seq("cell", idCol), orderCol = "", nBuckets = nBuckets,
        keepVersions = keepVersions, bucketCols = Seq("cell"))
    } finally if (maintainMap) pinned.unpersist(false)
  }

  /** The id -> cell SIDE TABLE that makes [[retire]] slice-sized: a
    * snapshot table keyed (and bucketed) by the id alone, so resolving
    * a retire batch's cells is a [[SnapshotUpsert.readKeys]] point
    * lookup instead of an index scan. Created by `withIdMap = true` (or
    * a one-time [[buildIdMap]] backfill); once it exists, EVERY ingest
    * maintains it regardless of the flag — [[retire]] trusts an
    * existing idmap, so an unmaintained one would silently retire
    * nothing for the missing ids. The idmap commits BEFORE the index commit, so it
    * always covers every indexed id (a crash in between leaves an
    * idmap entry whose index row never landed — retiring it tombstones
    * nothing, harmless; the replayed ingest converges both tables). */
  private def idMapDir(indexDir: String) = s"$indexDir/_idmap"

  private def commitIdMap(idCells: DataFrame, indexDir: String,
      idCol: String, keepVersions: Int): Unit =
    SnapshotUpsert.upsertBatchSnapshot(idCells, idMapDir(indexDir),
      keys = Seq(idCol), orderCol = "", nBuckets = 64,
      keepVersions = keepVersions)

  /** One-time idmap backfill for an index built without `withIdMap`:
    * a single index scan committing (id, cell). */
  def buildIdMap(spark: SparkSession, indexDir: String, idCol: String,
      keepVersions: Int = 2): Unit =
    commitIdMap(readIndex(spark, indexDir).select(col(idCol), col("cell")),
      indexDir, idCol, keepVersions)

  /** The committed index (id, cell, vector) at its current version. */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    SnapshotUpsert.readSnapshot(spark, indexDir)

  /** Layout maintenance: split overfull index buckets in place (see
    * [[IncrementalText.maintain]] — same contract: slice-sized, run
    * between ingests, queries route transparently). */
  def maintain(spark: SparkSession, indexDir: String,
      maxBucketBytes: Long, keepVersions: Int = 2): Seq[Int] =
    SnapshotUpsert.splitOverfull(spark, indexDir, maxBucketBytes,
      keepVersions)

  /** [[ingest]] with PQ codes stored alongside each vector — the
    * IVF-PQ standing index: codes are computed ONCE at ingest against
    * the FIXED `codebook` (the same fixed-artifact contract as the
    * centroids; retrain = rebuild), so [[topKPq]] never re-encodes the
    * corpus. Index rows: (id, cell, vector, codes). At production
    * scale the codes are the only per-vector state the ADC search
    * reads; the vectors ride along for the exact rerank of the
    * shortlist (and could move to a separate rerank table if bucket
    * files outgrow their fetch-unit budget). */
  def ingestPq(batch: DataFrame, indexDir: String, centroids: DataFrame,
      codebook: DataFrame, idCol: String, vecCol: String, m: Int = 8,
      nBuckets: Int = 64, keepVersions: Int = 2,
      withIdMap: Boolean = false): Unit = {
    val assigned = Similarity.assignCells(batch, centroids, idCol, vecCol)
    val rows = assigned.select(col(idCol), col("cell"), col(vecCol))
      .join(Similarity.pqEncode(assigned, codebook, idCol, vecCol, m),
        Seq(idCol))
    // an existing idmap is always maintained (see ingest)
    val maintainMap = withIdMap || SnapshotUpsert
      .versions(batch.sparkSession, idMapDir(indexDir)).nonEmpty
    // single evaluation across the two commits (see ingest)
    val pinned = if (maintainMap) assigned.localCheckpoint(true) else assigned
    val rowsPinned =
      if (maintainMap) pinned.select(col(idCol), col("cell"), col(vecCol))
        .join(Similarity.pqEncode(pinned, codebook, idCol, vecCol, m),
          Seq(idCol))
      else rows
    try {
      if (maintainMap)
        commitIdMap(pinned.select(col(idCol), col("cell")), indexDir,
          idCol, keepVersions)
      SnapshotUpsert.upsertBatchSnapshot(rowsPinned, indexDir,
        keys = Seq("cell", idCol), orderCol = "", nBuckets = nBuckets,
        keepVersions = keepVersions, bucketCols = Seq("cell"))
    } finally if (maintainMap) pinned.unpersist(false)
  }

  /** ADC top-k over an [[ingestPq]] index: probe cells from the FIXED
    * centroids, read ONLY those cells' buckets, ADC-score the STORED
    * codes, exact-rerank the shortlist — identical semantics to
    * [[Similarity.ivfPqTopK]] over the freshly-assigned-and-encoded
    * whole corpus, with the encode cost paid at ingest instead of per
    * query batch. */
  def topKPq(spark: SparkSession, indexDir: String, centroids: DataFrame,
      codebook: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 5, m: Int = 8, nProbe: Int = 4,
      rerank: Int = 32,
      smallIndexFiles: Int = SmallIndexFiles): DataFrame = {
    val (out, probes) = topKPqLazy(spark, indexDir, centroids, codebook,
      queries, idCol, vecCol, k, m, nProbe, rerank, smallIndexFiles)
    try finishSearch(out) finally probes.unpersist(false)
  }

  /** The un-materialized [[topKPq]] plan plus the checkpointed probe
    * frame it references — package-private so specs can inspect the
    * pruned plan (`inputFiles`); the CALLER owns the probes' lifetime
    * (unpersist after the plan is consumed). */
  private[graft] def topKPqLazy(spark: SparkSession, indexDir: String,
      centroids: DataFrame, codebook: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int, nProbe: Int,
      rerank: Int,
      smallIndexFiles: Int = SmallIndexFiles): (DataFrame, DataFrame) = {
    // materialized once: the pruned read and the scorer must see the
    // same probe set (see topK)
    val probes = Similarity
      .probeSet(centroids, queries, idCol, vecCol, nProbe)
      .select(col("query_id"), col("cell"))
      .localCheckpoint(true)
    val index = readAdaptive(spark, indexDir,
      probes.select(col("cell")).distinct(), smallIndexFiles)
    (Similarity.ivfPqRankEncoded(index, probes, index, codebook, queries,
      idCol, vecCol, k, m, rerank), probes)
  }

  /** Materialize a top-k result so the checkpointed probe frame it was
    * built from can be released IMMEDIATELY: without this every query
    * call in a long-lived driver leaks the probes' cached RDD blocks
    * (a localCheckpoint cannot be recomputed after unpersist, so the
    * lazy plan could not outlive them). The result is k rows per query
    * — definitionally driver-sized, like the probe set itself — so the
    * collect is bounded by construction. */
  private def finishSearch(out: DataFrame): DataFrame =
    out.sparkSession.createDataFrame(
      java.util.Arrays.asList(out.collect(): _*), out.schema)

  /** Approximate top-k of `queries` against the committed index:
    * probe + exact rerank, identical semantics to running
    * [[Similarity.ivfTopK]] over the freshly-assigned whole corpus —
    * but reading ONLY the probed cells' buckets (the inverted-file
    * fetch; non-probed cells never join the scorer, so pruning them
    * from the read cannot change the result). */
  def topK(spark: SparkSession, indexDir: String, centroids: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int = 5,
      nProbe: Int = 4, smallIndexFiles: Int = SmallIndexFiles): DataFrame = {
    val (out, probes) = topKLazy(spark, indexDir, centroids, queries,
      idCol, vecCol, k, nProbe, smallIndexFiles)
    try finishSearch(out) finally probes.unpersist(false)
  }

  /** Below this manifest file count the PRUNED read is adaptively
    * replaced by the full-index read: on a small index the probe
    * collect + bucket semi-join costs more than just scanning it
    * (AnnIndexScale r11: pruned 0.55/0.60 s vs full 0.30/0.49 s at
    * 2k/20k vectors — 27/93 files; pruned wins from ~283 files up),
    * and the scorer's cell join makes the two semantically identical
    * (non-probed cells drop out either way). The threshold is a FILE
    * count because that is what the manifest states without reading
    * data. */
  val SmallIndexFiles: Int = 128

  /** The un-materialized [[topK]] plan plus the checkpointed probe
    * frame it references (see [[topKPqLazy]] for the ownership rule). */
  private[graft] def topKLazy(spark: SparkSession, indexDir: String,
      centroids: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int,
      smallIndexFiles: Int = SmallIndexFiles): (DataFrame, DataFrame) = {
    // the probe set is MATERIALIZED once and feeds BOTH the pruned
    // index read and the scorer: one definition is not enough — a
    // re-evaluated non-deterministic `queries` could probe a cell
    // whose bucket was never read, silently dropping neighbors
    val probes = Similarity
      .probeSet(centroids, queries, idCol, vecCol, nProbe)
      .localCheckpoint(true)
    val index = readAdaptive(spark, indexDir,
      probes.select(col("cell")).distinct(), smallIndexFiles)
    (Similarity.ivfRank(
      Similarity.ivfScoredProbes(index, probes, idCol, vecCol), k), probes)
  }

  /** Pruned read of the probed cells' buckets — or the whole index
    * when it is small enough that pruning costs more than scanning
    * (see [[SmallIndexFiles]]; correctness is unaffected, the scorer
    * joins on cell either way). */
  private def readAdaptive(spark: SparkSession, indexDir: String,
      cellProbes: DataFrame, smallIndexFiles: Int): DataFrame = {
    val total = SnapshotUpsert.currentFileCount(spark, indexDir).getOrElse(
      sys.error(s"no committed index at $indexDir"))
    if (total <= smallIndexFiles) SnapshotUpsert.readSnapshot(spark, indexDir)
    else SnapshotUpsert.readKeys(spark, indexDir, cellProbes, Seq("cell"))
  }

  /** Split ONE oversized (or drifted) cell of the standing index in
    * place — the LINEAR-HASHING move applied to centroids, retiring
    * the layer's last table-sized maintenance event (without it the
    * only answer to corpus growth beyond the trained cell count is a
    * full centroid retrain + index rebuild): the cell's rows are read as a
    * point lookup (its buckets only), re-divided between two child
    * centroids, and the MOVED half commits as one atomic batch
    * (tombstone old key + insert new key); every other cell is
    * untouched. Cost tracks the CELL, never the corpus.
    *
    * Child centroids: pass `children` explicitly (deterministic
    * reassignment by argmax cosine — the oracle-checkable path, same
    * contract as [[Similarity.assignCells]]), or omit them and the
    * split LEARNS them from the cell's own vectors — a spherical
    * 2-means seeded by the deterministic farthest-pair rule (the row
    * least similar to the cell mean, then the row least similar to
    * THAT), `lloydIters` refinement passes, every step a slice-sized
    * aggregation (nothing corpus-wide, nothing driver-side but the
    * two dim-length mean vectors).
    *
    * Returns the UPDATED centroid table — the split cell's row
    * replaced by the two children (`cell` keeps the old id for the
    * stay-side so only movers rewrite; `newCellId` must be unused,
    * default = max existing + 1). The centroid table is the caller's
    * fixed artifact: persist the returned frame wherever the old one
    * lived before the next ingest/search uses it.
    *
    * Crash contract: the index commit lands first, then the idmap's
    * moved-id update. A crash between the two leaves moved ids mapped
    * to the OLD cell — re-running splitCell with the SAME `newCellId`
    * detects the landed index commit (the new cell already holds
    * rows) and repairs the idmap instead of re-splitting; the PQ
    * codes ride along unchanged (they encode the raw vector, not the
    * cell). */
  /** The delete half of an atomic move/retire commit: `keyRows`
    * (exactly the (cell, idCol) key pair) null-filled to `dataCols`'s
    * shape with `_deleted` = true. ONE definition for splitCell /
    * reassign / retire — the three copies had already drifted in
    * where they sourced column types from. */
  private def nullTombstones(keyRows: DataFrame,
      schema: org.apache.spark.sql.types.StructType,
      dataCols: Seq[String], idCol: String): DataFrame =
    dataCols.filterNot(c => c == idCol || c == "cell")
      .foldLeft(keyRows)((d, c) =>
        d.withColumn(c, lit(null).cast(schema(c).dataType)))
      .select(dataCols.map(col): _*)
      .withColumn("_deleted", lit(true))

  def splitCell(spark: SparkSession, indexDir: String,
      centroids: DataFrame, cell: Long, idCol: String, vecCol: String,
      newCellId: Option[Long] = None, keepVersions: Int = 2,
      lloydIters: Int = 2,
      children: Option[(Array[Double], Array[Double])] = None)
      : DataFrame = {
    import spark.implicits._
    val cellType = centroids.schema("cell").dataType
    val centType = centroids.schema("centroid").dataType
    val newId: Long = newCellId.getOrElse(
      centroids.agg(max(col("cell").cast("long"))).head.getLong(0) + 1L)
    require(newId != cell, s"splitCell: newCellId $newId is the split cell")
    require(centroids.where(col("cell").cast("long") === newId).isEmpty,
      s"splitCell: cell id $newId already exists in the centroid table")
    val hasIdMap = SnapshotUpsert.versions(spark, idMapDir(indexDir)).nonEmpty

    def updatedCentroids(c1: Array[Double], c2: Array[Double]): DataFrame =
      centroids.where(col("cell").cast("long") =!= cell).unionByName(
        Seq((cell, c1), (newId, c2)).toDF("cell", "centroid")
          .select(col("cell").cast(cellType).as("cell"),
            col("centroid").cast(centType).as("centroid")))

    def cellMean(rows: DataFrame): Array[Double] = rows
      .select(posexplode(col(vecCol).cast("array<double>")))
      .groupBy("pos").agg(avg("col").as("m")).orderBy("pos")
      .collect().map(_.getDouble(1))

    // resume detection: rows already landed under the new cell mean a
    // prior run's INDEX commit succeeded — repair the idmap (the only
    // thing that can still be stale) and return centroids recomputed
    // from the two cells' committed content
    val landed = SnapshotUpsert.readKeys(spark, indexDir,
      Seq(newId).toDF("cell").select(col("cell").cast(cellType)),
      Seq("cell"))
    if (!landed.isEmpty) {
      if (hasIdMap)
        commitIdMap(landed.select(col(idCol),
          col("cell")), indexDir, idCol, keepVersions)
      val stay = SnapshotUpsert.readKeys(spark, indexDir,
        Seq(cell).toDF("cell").select(col("cell").cast(cellType)),
        Seq("cell"))
      return updatedCentroids(cellMean(stay), cellMean(landed))
    }

    val rows = SnapshotUpsert.readKeys(spark, indexDir,
      Seq(cell).toDF("cell").select(col("cell").cast(cellType)),
      Seq("cell")).localCheckpoint(true)
    try {
      require(rows.count() >= 2,
        s"splitCell: cell $cell holds fewer than 2 vectors")
      val v = col(vecCol).cast("array<double>")

      val (c1, c2) = children.getOrElse {
        // deterministic farthest-pair seed, then Lloyd refinement —
        // each step one slice aggregation
        val mean = cellMean(rows)
        def leastSimilarTo(ref: Array[Double]): Array[Double] = rows
          .orderBy(Similarity.cosine(v, lit(ref)).asc, col(idCol).asc)
          .select(v).head().getSeq[Double](0).toArray
        var a = leastSimilarTo(mean)
        var b = leastSimilarTo(a)
        var i = 0
        while (i < lloydIters) {
          val side = Similarity.cosine(v, lit(a)) >=
            Similarity.cosine(v, lit(b))
          val ms = rows.select(side.as("s"), posexplode(v))
            .groupBy("s", "pos").agg(avg("col").as("m"))
            .collect()
            .map(r => (r.getBoolean(0), r.getInt(1), r.getDouble(2)))
          val na = ms.filter(_._1).sortBy(_._2).map(_._3)
          val nb = ms.filterNot(_._1).sortBy(_._2).map(_._3)
          // a side emptied out: the seed split is already the answer
          if (na.nonEmpty && nb.nonEmpty) { a = na; b = nb }
          i += 1
        }
        (a, b)
      }

      // final deterministic division (argmax cosine; tie -> stay)
      val stays = Similarity.cosine(v, lit(c1)) >=
        Similarity.cosine(v, lit(c2))
      val movers = rows.where(!stays)
      val dataCols = rows.columns.toSeq
      val inserts = movers
        .withColumn("cell", lit(newId).cast(cellType))
        .select(dataCols.map(col): _*)
        .withColumn("_deleted", lit(false))
      val tombs = nullTombstones(movers.select(col(idCol), col("cell")),
        rows.schema, dataCols, idCol)
      // one atomic commit: movers appear in the child cell and vanish
      // from the parent in the same version — readers never see a
      // vector twice or not at all
      SnapshotUpsert.upsertBatchSnapshot(inserts.unionByName(tombs),
        indexDir, keys = Seq("cell", idCol), orderCol = "",
        nBuckets = SnapshotUpsert.currentBuckets(spark, indexDir).get,
        keepVersions = keepVersions, tombstoneCol = Some("_deleted"),
        bucketCols = Seq("cell"))
      if (hasIdMap)
        commitIdMap(movers.select(col(idCol))
          .withColumn("cell", lit(newId).cast(cellType)),
          indexDir, idCol, keepVersions)
      updatedCentroids(c1, c2)
    } finally rows.unpersist(false)
  }

  /** One maintenance pass: split every cell holding more than
    * `maxCellRows` vectors (largest first, up to `maxCells` per call),
    * threading the centroid updates through. The per-cell row counts
    * come from ONE column-pruned scan of the index's `cell` column —
    * the splits themselves stay slice-sized. Returns the updated
    * centroid table (identical frame when nothing qualified); the
    * caller persists it as the new fixed artifact.
    *
    * Budget policy (measured, AnnSplitScale r12): size `maxCellRows`
    * to ~`2 * sqrt(currentCorpusRows)` so the steady-state cell count
    * tracks the sqrt-N rule ([[Similarity.autoCells]]) as the corpus
    * grows. A FIXED budget drives the cell count LINEAR in N, the
    * probed mass fraction at fixed nProbe collapses, and recall sags
    * (0.61 vs a same-cell-count rebuild's 0.86 by 6x growth in the
    * fixed-budget rehearsal run); under the sqrt budget the
    * split-grown layout holds recall parity with periodic full
    * rebuilds across a full decade of growth. */
  def splitOversized(spark: SparkSession, indexDir: String,
      centroids: DataFrame, maxCellRows: Long, idCol: String,
      vecCol: String, maxCells: Int = 16, keepVersions: Int = 2)
      : DataFrame =
    splitOversizedWithIds(spark, indexDir, centroids, maxCellRows,
      idCol, vecCol, maxCells, keepVersions)._1

  /** [[splitOversized]] returning the split cell ids too — the seeds
    * a scheduled [[rebalance]] needs (children are found from there:
    * a child's centroid is by construction among its parent's nearest
    * siblings, so the neighbor expansion covers it). */
  def splitOversizedWithIds(spark: SparkSession, indexDir: String,
      centroids: DataFrame, maxCellRows: Long, idCol: String,
      vecCol: String, maxCells: Int = 16, keepVersions: Int = 2)
      : (DataFrame, Seq[Long]) = {
    val over = readIndex(spark, indexDir)
      .groupBy(col("cell").cast("long").as("cell")).count()
      .where(col("count") > maxCellRows)
      .orderBy(col("count").desc, col("cell").asc)
      .limit(maxCells).collect().map(_.getLong(0))
    (over.foldLeft(centroids)((cents, c) =>
      splitCell(spark, indexDir, cents, c, idCol, vecCol,
        keepVersions = keepVersions)), over.toSeq)
  }

  /** Re-home the given cells' vectors to their CURRENT nearest
    * centroid — the inter-subtree mass move that greedy hierarchical
    * splits structurally cannot make (a split only divides ONE cell's
    * region; a vector whose nearest centroid changed because a
    * NEIGHBORING region split stays put and stops being probed —
    * the measured recall sag past ~5x growth in AnnSplitScale's r12
    * decade). One atomic commit, same tombstone+insert shape as
    * [[splitCell]]: a mover appears under its new cell and vanishes
    * from its old one in the same version. PQ codes ride along
    * unchanged (they encode the VECTOR against the fixed codebook,
    * not a cell residual). Returns the number of moved vectors.
    *
    * Cost: the listed cells' rows (bucket-pruned [[SnapshotUpsert
    * .readKeys]]) x the broadcast centroid table — scan-local compute,
    * slice-sized I/O; never the index.
    *
    * Crash contract: the index commits BEFORE the idmap (retire's
    * ordering), so a crash between the two leaves idmap entries
    * pointing at movers' OLD cells. RE-RUNNING reassign repairs that
    * window: the no-movers path point-reads the idmap for the listed
    * cells' ids and re-commits any entry that disagrees with the
    * committed index (same converge-by-replay contract as
    * [[splitCell]]'s landed-rows resume). */
  def reassign(spark: SparkSession, indexDir: String,
      centroids: DataFrame, cells: Seq[Long], idCol: String,
      vecCol: String, keepVersions: Int = 2): Long = {
    import spark.implicits._
    if (cells.isEmpty) return 0L
    val cellType = centroids.schema("cell").dataType
    val rows = SnapshotUpsert.readKeys(spark, indexDir,
      cells.toDF("cell").select(col("cell").cast(cellType)), Seq("cell"))
    val dataCols = rows.columns.toSeq
    // current-nearest assignment over the SAME argmax the ingest path
    // uses (identical tie-breaks, so an unmoved vector re-derives its
    // own cell exactly)
    val rehomed = Similarity.assignCells(
      rows.withColumnRenamed("cell", "__home"), centroids, idCol, vecCol)
    val movers = rehomed.where(col("cell") =!= col("__home"))
      .localCheckpoint(true)
    try {
      val n = movers.count()
      if (n == 0) {
        repairIdMap(spark, indexDir,
          rows.select(col(idCol), col("cell")), idCol, keepVersions)
        return 0L
      }
      val inserts = movers.select(dataCols.map(col): _*)
        .withColumn("_deleted", lit(false))
      val tombs = nullTombstones(
        movers.select(col(idCol), col("__home").as("cell")),
        movers.schema, dataCols, idCol)
      SnapshotUpsert.upsertBatchSnapshot(inserts.unionByName(tombs),
        indexDir, keys = Seq("cell", idCol), orderCol = "",
        nBuckets = SnapshotUpsert.currentBuckets(spark, indexDir).get,
        keepVersions = keepVersions, tombstoneCol = Some("_deleted"),
        bucketCols = Seq("cell"))
      if (SnapshotUpsert.versions(spark, idMapDir(indexDir)).nonEmpty)
        commitIdMap(movers.select(col(idCol), col("cell")), indexDir,
          idCol, keepVersions)
      n
    } finally movers.unpersist(false)
  }

  /** [[reassign]]'s crash repair: point-read the idmap for `actual`'s
    * ids (the listed cells' committed rows) and re-commit any entry
    * whose recorded cell disagrees — a no-op commit-free pass when the
    * idmap already agrees. */
  private def repairIdMap(spark: SparkSession, indexDir: String,
      actual: DataFrame, idCol: String, keepVersions: Int): Unit = {
    if (SnapshotUpsert.versions(spark, idMapDir(indexDir)).isEmpty) return
    val mapped = SnapshotUpsert.readKeys(spark, idMapDir(indexDir),
      actual.select(col(idCol)), Seq(idCol))
      .select(col(idCol), col("cell").as("__mapped"))
    val stale = actual.join(mapped, Seq(idCol))
      .where(col("__mapped") =!= col("cell"))
      .select(col(idCol), col("cell"))
    if (!stale.isEmpty)
      commitIdMap(stale, indexDir, idCol, keepVersions)
  }

  /** Post-split neighborhood rebalance: [[reassign]] over the freshly
    * split cells AND each one's `neighbors` nearest sibling cells (by
    * centroid cosine) — exactly where inter-subtree drift
    * concentrates, because a split plants new centroids whose true
    * members sit in the ADJACENT cells the split never read. Run it
    * after [[splitOversized]] with the returned split ids (plus their
    * children, already in `seedCells` via the updated centroid table);
    * scheduled this way the decade rehearsal holds its recall floor
    * without the table-sized retrain (AnnSplitScale r12).
    * Returns the number of moved vectors. */
  def rebalance(spark: SparkSession, indexDir: String,
      centroids: DataFrame, seedCells: Seq[Long], idCol: String,
      vecCol: String, neighbors: Int = 3, keepVersions: Int = 2)
      : Long = {
    import spark.implicits._
    if (seedCells.isEmpty) return 0L
    val cellL = col("cell").cast("long")
    val seeds = centroids.where(cellL.isin(seedCells: _*))
      .select(cellL.as("scell"), col("centroid").as("scent"))
    // per seed, the k nearest OTHER centroids: seeds x broadcast
    // centroids is (|seeds| x C) tiny rows, collapsed map-side
    val near = seeds.crossJoin(broadcast(
        centroids.select(cellL.as("ncell"), col("centroid"))))
      .where(col("ncell") =!= col("scell"))
      .withColumn("__sim", Similarity.cosine(
        col("scent").cast("array<double>"),
        col("centroid").cast("array<double>")))
      .groupBy("scell")
      .agg(slice(reverse(array_sort(collect_list(
        struct(col("__sim"), col("ncell"))))), 1, neighbors).as("top"))
      .select(explode(col("top.ncell")).as("cell"))
      .collect().map(_.getLong(0))
    reassign(spark, indexDir, centroids,
      (seedCells ++ near).distinct, idCol, vecCol, keepVersions)
  }

  /** Tombstone retired vectors out of the index. `ids` carries one row
    * per retired id in column `idCol`. The index is keyed (cell, id)
    * and `ids` carries no cells, so the retire SCANS the index once to
    * resolve them (a semi-join against the batch of ids) — retire is
    * the rare maintenance path; the scan is its honest cost. */
  def retire(spark: SparkSession, indexDir: String, ids: DataFrame,
      idCol: String, keepVersions: Int = 2): Unit = {
    val index = readIndex(spark, indexDir)
    val fields = index.schema.fields
    // resolve the key by the RECORDED name, loudly: Spark resolution is
    // case-insensitive, so a case-variant idCol would otherwise let the
    // null-fill below silently replace the id column and tombstone key
    // NULL — a retire that retires nothing without an error
    require(fields.exists(_.name == idCol), {
      val variant = fields.find(_.name.equalsIgnoreCase(idCol)).map(_.name)
      s"retire: no column '$idCol' in the index" +
        variant.fold("")(v => s" (did you mean '$v'? names are exact here)")
    })
    // the retired rows' (cell, id) keys: resolved by a POINT LOOKUP on
    // the idmap side table when one is maintained (slice-sized — the
    // retire-at-100TB path), else by the index scan (the honest cost
    // an idmap-less index pays; backfill once with buildIdMap)
    val hasIdMap = SnapshotUpsert.versions(spark, idMapDir(indexDir)).nonEmpty
    val keyRows =
      if (hasIdMap)
        SnapshotUpsert.readKeys(spark, idMapDir(indexDir),
          ids.select(col(idCol)), Seq(idCol))
          .select(col("cell"), col(idCol))
      else
        index.join(ids.select(col(idCol)), Seq(idCol), "left_semi")
          .select(col("cell"), col(idCol))
    val tombs = nullTombstones(keyRows, index.schema,
      fields.map(_.name).toSeq, idCol)
    SnapshotUpsert.upsertBatchSnapshot(tombs, indexDir,
      keys = Seq("cell", idCol), orderCol = "",
      nBuckets = SnapshotUpsert.currentBuckets(spark, indexDir).get,
      keepVersions = keepVersions, tombstoneCol = Some("_deleted"),
      bucketCols = Seq("cell"))
    if (hasIdMap) {
      // the retired ids leave the idmap too, AFTER the index commit:
      // ingest writes idmap-then-index and retire deletes
      // index-then-idmap, so a crash between any pair of commits keeps
      // the invariant idmap ids ⊇ live index ids (a later retire can
      // always resolve every live row; a superfluous idmap entry
      // tombstones nothing — harmless, and the replay converges it)
      val idmapSchema = SnapshotUpsert.readSnapshot(spark,
        idMapDir(indexDir)).schema
      val cellType = idmapSchema("cell").dataType
      val mapTombs = keyRows.select(col(idCol))
        .withColumn("cell", lit(null).cast(cellType))
        .withColumn("_deleted", lit(true))
      SnapshotUpsert.upsertBatchSnapshot(mapTombs, idMapDir(indexDir),
        keys = Seq(idCol), orderCol = "",
        nBuckets = SnapshotUpsert.currentBuckets(spark,
          idMapDir(indexDir)).get,
        keepVersions = keepVersions, tombstoneCol = Some("_deleted"))
    }
  }
}
