package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Merge-on-read delta commits ([[SnapshotUpsert.appendDeltaSnapshot]] /
  * [[SnapshotUpsert.compactDeltas]]): the write-amplification-free
  * ingest path. The load-bearing property throughout: a delta sequence
  * must be INDISTINGUISHABLE from the same batches applied
  * copy-on-write — every read API folds the layers back to the exact
  * CoW image, including the CoW tombstone quirk (a winning tombstone's
  * marker is discarded, so a LOWER-ordered later row still resurrects
  * the key). */
class DeltaSnapshotSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-delta").toString

  private def df(rows: (Long, String, Long)*) = {
    import spark.implicits._
    rows.toDF("id", "status", "v")
  }

  private def tombDf(rows: (Long, String, Long, Boolean)*) = {
    import spark.implicits._
    rows.toDF("id", "status", "v", "del")
  }

  private def snapSet(dir: String): Set[(Long, String, Long)] =
    SnapshotUpsert.readSnapshot(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  /** (base files, delta layers) per bucket from the raw manifest. */
  private def manifestShape(dir: String, v: Long): (Map[Int, Int], Map[Int, Int]) = {
    val lines = scala.io.Source.fromFile(
      f"$dir/_manifests/v$v%012d.txt", "UTF-8").getLines().toVector
    val fl = lines.filterNot(l => l.isEmpty || l.startsWith("#") ||
        l.startsWith("S\t") ||
        l.startsWith("L\t") || l.startsWith("V\t"))
      .map(_.split('\t'))
    (fl.filter(_.length == 2).groupBy(_(0).toInt).map { case (b, g) => b -> g.size },
      fl.filter(_.length == 3).groupBy(_(0).toInt).map { case (b, g) => b -> g.size })
  }

  private def currentVersion(dir: String): Long =
    SnapshotUpsert.versions(spark, dir).last

  // ------------------------------------------------------ CoW equivalence

  test("a randomized batch sequence applied as deltas matches copy-on-write " +
      "after every commit (updates, ties, regressions, tombstones)") {
    val cow = tmp(); val mor = tmp()
    val rnd = new scala.util.Random(20260816L)
    val statuses = Array("new", "fixed", "triaged", "stale")
    for (step <- 1 to 12) {
      val rows = (0 until 1 + rnd.nextInt(10)).map { _ =>
        (rnd.nextInt(12).toLong, statuses(rnd.nextInt(4)),
          rnd.nextInt(6).toLong, rnd.nextInt(5) == 0)
      }
      val b = tombDf(rows: _*)
      SnapshotUpsert.upsertBatchSnapshot(b, cow, Seq("id"), "v",
        nBuckets = 4, tombstoneCol = Some("del"))
      SnapshotUpsert.appendDeltaSnapshot(b, mor, Seq("id"), "v",
        nBuckets = 4, tombstoneCol = Some("del"))
      assert(snapSet(cow) == snapSet(mor), s"diverged at step $step")
    }
    // the delta table never rewrote a bucket: every version's base file
    // set is exactly the (empty) carried set — all content is layers
    val (base, deltas) = manifestShape(mor, currentVersion(mor))
    assert(base.isEmpty, s"delta-only table must have no base files: $base")
    // one layer file per (commit, touched bucket): bounded by 12 commits
    // x 4 buckets, and at least one per commit
    assert(deltas.values.sum >= 12 && deltas.values.sum <= 48,
      s"layer count out of range: ${deltas.values.sum}")
  }

  test("arrival-order mode (orderCol = \"\"): later delta always replaces, " +
      "matching the CoW arrival semantics") {
    val cow = tmp(); val mor = tmp()
    val batches = Seq(
      df((1L, "a", 9L), (2L, "a", 9L)),
      df((1L, "b", 1L)), // lower v, but arrival order: replaces
      df((2L, "c", 5L), (3L, "c", 5L)))
    batches.foreach { b =>
      SnapshotUpsert.upsertBatchSnapshot(b, cow, Seq("id"), "", nBuckets = 4)
      SnapshotUpsert.appendDeltaSnapshot(b, mor, Seq("id"), "", nBuckets = 4)
    }
    assert(snapSet(mor) == snapSet(cow))
    assert(snapSet(mor) ==
      Set((1L, "b", 1L), (2L, "c", 5L), (3L, "c", 5L)))
  }

  test("the CoW tombstone quirk folds exactly: a winning delete's order is " +
      "forgotten, so a lower-ordered later row resurrects the key") {
    val cow = tmp(); val mor = tmp()
    val batches = Seq(
      tombDf((1L, "live", 5L, false)),
      tombDf((1L, "kill", 7L, true)),   // tombstone wins (7 > 5): key gone
      tombDf((1L, "back", 6L, false)))  // 6 < 7, but the key is ABSENT: lands
    batches.foreach { b =>
      SnapshotUpsert.upsertBatchSnapshot(b, cow, Seq("id"), "v",
        nBuckets = 2, tombstoneCol = Some("del"))
      SnapshotUpsert.appendDeltaSnapshot(b, mor, Seq("id"), "v",
        nBuckets = 2, tombstoneCol = Some("del"))
    }
    assert(snapSet(cow) == Set((1L, "back", 6L)))
    assert(snapSet(mor) == Set((1L, "back", 6L)))
    // and the mirror case: a delete that LOSES leaves the key in place
    val b4 = tombDf((1L, "late-kill", 2L, true))
    SnapshotUpsert.upsertBatchSnapshot(b4, cow, Seq("id"), "v",
      nBuckets = 2, tombstoneCol = Some("del"))
    SnapshotUpsert.appendDeltaSnapshot(b4, mor, Seq("id"), "v",
      nBuckets = 2, tombstoneCol = Some("del"))
    assert(snapSet(cow) == Set((1L, "back", 6L)))
    assert(snapSet(mor) == Set((1L, "back", 6L)))
  }

  test("mixed CoW and delta commits interleave: a CoW merge compacts the " +
      "buckets it touches in passing and leaves other buckets' layers") {
    val mor = tmp(); val cow = tmp()
    def both(b: DataFrame, delta: Boolean): Unit = {
      SnapshotUpsert.upsertBatchSnapshot(b, cow, Seq("id"), "v", nBuckets = 4)
      if (delta)
        SnapshotUpsert.appendDeltaSnapshot(b, mor, Seq("id"), "v", nBuckets = 4)
      else
        SnapshotUpsert.upsertBatchSnapshot(b, mor, Seq("id"), "v", nBuckets = 4)
    }
    // seed CoW over all buckets, then layer deltas, then a partial CoW
    both(df((0L to 7L).map(i => (i, "seed", 1L)): _*), delta = false)
    both(df((0L, "d1", 2L), (1L, "d1", 2L)), delta = true)
    both(df((2L, "d2", 2L), (0L, "d2", 3L)), delta = true)
    both(df((0L, "cow", 4L)), delta = false) // touches key 0's bucket only
    assert(snapSet(mor) == snapSet(cow))
    val (_, deltaLayers) = manifestShape(mor, currentVersion(mor))
    // key 0's bucket was CoW-rewritten: its layers are gone; at least
    // one OTHER bucket (keys 1/2 if bucketed apart) may retain layers
    val kb0 = SnapshotUpsert.readSnapshot(spark, mor)
      .where(col("id") === 0L).count()
    assert(kb0 == 1L)
    assert(deltaLayers.values.sum < 3, // started with 3 layer files
      s"the CoW commit must clear its bucket's layers: $deltaLayers")
  }

  // ------------------------------------------------------------ compaction

  test("compactDeltas folds layers into base files: content identical, " +
      "layers cleared, and the compaction commit's change feed is EMPTY") {
    val dir = tmp()
    SnapshotUpsert.appendDeltaSnapshot(
      df((0L to 9L).map(i => (i, "seed", 1L)): _*), dir, Seq("id"), "v",
      nBuckets = 4)
    SnapshotUpsert.appendDeltaSnapshot(df((3L, "upd", 2L)), dir,
      Seq("id"), "v", nBuckets = 4)
    SnapshotUpsert.appendDeltaSnapshot(
      tombDf((5L, "gone", 3L, true)), dir, Seq("id"), "v", nBuckets = 4,
      tombstoneCol = Some("del"))
    val before = snapSet(dir)
    val vBefore = currentVersion(dir)
    val compacted = SnapshotUpsert.compactDeltas(spark, dir)
    assert(compacted.nonEmpty)
    assert(snapSet(dir) == before, "compaction must not change content")
    val (base, layers) = manifestShape(dir, currentVersion(dir))
    assert(layers.isEmpty, s"layers must be folded away: $layers")
    assert(base.nonEmpty)
    // the compaction version's row-level change feed is empty
    val feed = SnapshotUpsert.changesBetween(spark, dir, vBefore,
      currentVersion(dir), Seq("id"), emitDeletes = true)
    assert(feed.count() == 0L, "compaction is a no-op to consumers")
    // idempotent: nothing left to compact
    assert(SnapshotUpsert.compactDeltas(spark, dir).isEmpty)
  }

  test("compactDeltas honors minLayers and maxBuckets") {
    val dir = tmp()
    // key 1 gets 3 layers; key 2 gets 1 layer (different buckets, 4 buckets)
    SnapshotUpsert.appendDeltaSnapshot(df((1L, "a", 1L)), dir, Seq("id"), "v",
      nBuckets = 4)
    SnapshotUpsert.appendDeltaSnapshot(df((1L, "b", 2L)), dir, Seq("id"), "v",
      nBuckets = 4)
    SnapshotUpsert.appendDeltaSnapshot(df((1L, "c", 3L), (2L, "x", 1L)), dir,
      Seq("id"), "v", nBuckets = 4)
    val compacted = SnapshotUpsert.compactDeltas(spark, dir, minLayers = 2)
    assert(compacted.size == 1, "only key 1's bucket has >= 2 layers")
    assert(snapSet(dir) ==
      Set((1L, "c", 3L), (2L, "x", 1L)))
    val (_, layers) = manifestShape(dir, currentVersion(dir))
    assert(layers.values.sum == 1, "key 2's single layer remains")
  }

  test("compactAt bounds layer stacking inline from the append path") {
    val dir = tmp()
    for (i <- 1 to 7)
      SnapshotUpsert.appendDeltaSnapshot(df((1L, s"s$i", i.toLong)), dir,
        Seq("id"), "v", nBuckets = 2, compactAt = 3)
    assert(snapSet(dir) == Set((1L, "s7", 7L)))
    val (_, layers) = manifestShape(dir, currentVersion(dir))
    assert(layers.values.forall(_ < 3),
      s"no bucket may reach compactAt layers after the inline pass: $layers")
  }

  // ---------------------------------------------------------- reads & feed

  test("readKeys prunes to the probed bucket and folds its layers") {
    val dir = tmp()
    SnapshotUpsert.appendDeltaSnapshot(
      df((0L to 15L).map(i => (i, "seed", 1L)): _*), dir, Seq("id"), "v",
      nBuckets = 8)
    SnapshotUpsert.appendDeltaSnapshot(df((7L, "upd", 2L)), dir,
      Seq("id"), "v", nBuckets = 8)
    import spark.implicits._
    val got = SnapshotUpsert.readKeys(spark, dir,
        Seq(7L).toDF("id"), Seq("id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((7L, "upd", 2L)))
    // a key whose delta layer is a tombstone reads as absent
    SnapshotUpsert.appendDeltaSnapshot(tombDf((7L, "x", 3L, true)), dir,
      Seq("id"), "v", nBuckets = 8, tombstoneCol = Some("del"))
    assert(SnapshotUpsert.readKeys(spark, dir,
      Seq(7L).toDF("id"), Seq("id")).count() == 0L)
  }

  test("changesBetween across delta commits reports row-level " +
      "inserts/updates/deletes, reading only the layered buckets") {
    val dir = tmp()
    SnapshotUpsert.appendDeltaSnapshot(
      df((0L to 9L).map(i => (i, "seed", 1L)): _*), dir, Seq("id"), "v",
      nBuckets = 4, keepVersions = 10)
    val v1 = currentVersion(dir)
    SnapshotUpsert.appendDeltaSnapshot(df((3L, "upd", 2L), (100L, "ins", 1L)),
      dir, Seq("id"), "v", nBuckets = 4, keepVersions = 10)
    SnapshotUpsert.appendDeltaSnapshot(tombDf((5L, "x", 9L, true)), dir,
      Seq("id"), "v", nBuckets = 4, tombstoneCol = Some("del"),
      keepVersions = 10)
    val feed = SnapshotUpsert.changesBetween(spark, dir, v1,
        currentVersion(dir), Seq("id"), emitDeletes = true)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(r.fieldIndex("_change")))).toSet
    assert(feed == Set((3L, "upd", "update"), (100L, "ins", "insert"),
      (5L, "seed", "delete")))
  }

  test("time travel: every retained version folds to its own point-in-time " +
      "image, and readAsOf resolves through delta commits") {
    val dir = tmp()
    val t0 = 1_700_000_000_000L
    SnapshotUpsert.appendDeltaSnapshot(df((1L, "a", 1L)), dir, Seq("id"), "v",
      nBuckets = 2, keepVersions = 10, nowMs = t0)
    SnapshotUpsert.appendDeltaSnapshot(df((1L, "b", 2L), (2L, "a", 1L)), dir,
      Seq("id"), "v", nBuckets = 2, keepVersions = 10, nowMs = t0 + 1000)
    SnapshotUpsert.appendDeltaSnapshot(df((2L, "b", 2L)), dir, Seq("id"), "v",
      nBuckets = 2, keepVersions = 10, nowMs = t0 + 2000)
    def vSet(v: Long) = SnapshotUpsert.readVersion(spark, dir, v).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(vSet(1L) == Set((1L, "a", 1L)))
    assert(vSet(2L) == Set((1L, "b", 2L), (2L, "a", 1L)))
    assert(vSet(3L) == Set((1L, "b", 2L), (2L, "b", 2L)))
    val asOf = SnapshotUpsert.readAsOf(spark, dir, t0 + 1500).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(asOf == Set((1L, "b", 2L), (2L, "a", 1L)))
  }

  // --------------------------------------------- evolution, layout, safety

  test("additive schema evolution lands through a delta commit; " +
      "pre-evolution base rows read the new column as NULL") {
    import spark.implicits._
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L), (2L, "a", 1L)), dir,
      Seq("id"), "v", nBuckets = 2)
    val evolved = Seq((1L, "b", 2L, "high")).toDF("id", "status", "v", "sev")
    SnapshotUpsert.appendDeltaSnapshot(evolved, dir, Seq("id"), "v",
      nBuckets = 2)
    val got = SnapshotUpsert.readSnapshot(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        Option(r.getString(r.fieldIndex("sev"))))).toSet
    assert(got == Set((1L, "b", 2L, Some("high")), (2L, "a", 1L, None)))
  }

  test("the merge contract freezes while layers are pending: a CoW merge " +
      "restating a different orderCol is refused with a clear error") {
    val dir = tmp()
    SnapshotUpsert.appendDeltaSnapshot(df((1L, "a", 1L)), dir, Seq("id"), "v",
      nBuckets = 2)
    val e = intercept[IllegalArgumentException] {
      SnapshotUpsert.upsertBatchSnapshot(df((2L, "b", 1L)), dir, Seq("id"),
        "id", nBuckets = 2)
    }
    assert(e.getMessage.contains("pending delta layers"), e.getMessage)
    // after compaction the contract may change again
    SnapshotUpsert.compactDeltas(spark, dir)
    SnapshotUpsert.upsertBatchSnapshot(df((2L, "b", 1L)), dir, Seq("id"),
      "id", nBuckets = 2)
    assert(snapSet(dir) == Set((1L, "a", 1L), (2L, "b", 1L)))
  }

  test("an empty batch commits nothing (no version bump, no debris refs)") {
    val dir = tmp()
    SnapshotUpsert.appendDeltaSnapshot(df((1L, "a", 1L)), dir, Seq("id"), "v",
      nBuckets = 2)
    SnapshotUpsert.appendDeltaSnapshot(df(), dir, Seq("id"), "v", nBuckets = 2)
    assert(SnapshotUpsert.versions(spark, dir) == Seq(1L))
  }

  test("splitBucket on a layered bucket folds the layers into the children " +
      "and reads stay identical") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(
      df((0L to 31L).map(i => (i, "seed", 1L)): _*), dir, Seq("id"), "v",
      nBuckets = 2, bucketCols = Seq("id"))
    SnapshotUpsert.appendDeltaSnapshot(df((4L, "upd", 2L), (9L, "upd", 2L)),
      dir, Seq("id"), "v", nBuckets = 2)
    val before = snapSet(dir)
    // split whichever bucket holds layers
    val snapFiles = manifestShape(dir, currentVersion(dir))._2
    val target = snapFiles.keys.head
    SnapshotUpsert.splitBucket(spark, dir, target)
    assert(snapSet(dir) == before, "split must not change content")
    val (_, layersAfter) = manifestShape(dir, currentVersion(dir))
    assert(!layersAfter.contains(target),
      s"the split bucket's layers must fold away: $layersAfter")
  }

  test("two delta appends racing one table both land (optimistic retry), " +
      "and retention + vacuum never touch a live layer file") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((0L, "seed", 1L)), dir, Seq("id"),
      "v", nBuckets = 2)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val fails = new java.util.concurrent.atomic.AtomicInteger(0)
    (1 to 2).foreach { w =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try SnapshotUpsert.appendDeltaSnapshot(
            df((w.toLong, s"writer$w", 2L)), dir, Seq("id"), "v", nBuckets = 2)
          catch { case _: Throwable => fails.incrementAndGet() }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(fails.get() == 0, "both racing appends must serialize and land")
    assert(snapSet(dir) == Set((0L, "seed", 1L), (1L, "writer1", 2L),
      (2L, "writer2", 2L)))
    // vacuum with an everything-is-old horizon: live layers survive
    // because they are REFERENCED, not because they are fresh
    SnapshotUpsert.vacuum(spark, dir, olderThanMs = -1000L)
    assert(snapSet(dir) == Set((0L, "seed", 1L), (1L, "writer1", 2L),
      (2L, "writer2", 2L)))
    // age out the early versions: their layer files are reaped once
    // out of retention, and the current image still folds correctly
    SnapshotUpsert.compactDeltas(spark, dir, keepVersions = 2)
    SnapshotUpsert.upsertBatchSnapshot(df((0L, "bump", 3L)), dir, Seq("id"),
      "v", nBuckets = 2, keepVersions = 2)
    assert(snapSet(dir) == Set((0L, "bump", 3L), (1L, "writer1", 2L),
      (2L, "writer2", 2L)))
  }

  test("both fold plans agree: the broadcast layer-key path (small stacks) " +
      "and the full group-by fallback produce the same image") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(
      df((0L to 19L).map(i => (i, "seed", 1L)): _*), dir, Seq("id"), "v",
      nBuckets = 4)
    SnapshotUpsert.appendDeltaSnapshot(df((3L, "upd", 2L), (100L, "ins", 1L)),
      dir, Seq("id"), "v", nBuckets = 4)
    SnapshotUpsert.appendDeltaSnapshot(tombDf((7L, "x", 9L, true)), dir,
      Seq("id"), "v", nBuckets = 4, tombstoneCol = Some("del"))
    val broadcastPath = snapSet(dir)
    val prop = "graft.mor.broadcastMaxBytes"
    System.setProperty(prop, "0") // force the full group-by fold
    try assert(snapSet(dir) == broadcastPath)
    finally System.clearProperty(prop)
    assert(broadcastPath.contains((3L, "upd", 2L)))
    assert(broadcastPath.contains((100L, "ins", 1L)))
    assert(!broadcastPath.exists(_._1 == 7L))
    assert(broadcastPath.count(_._2 == "seed") == 18)
  }

  test("an incremental MV refreshes off a DELTA-committed base exactly as " +
      "off a CoW base") {
    import graft.operators.IncrementalMv
    val base = tmp(); val mv = tmp()
    def refresh(): Unit = IncrementalMv.refreshDelta(spark, base, mv,
      baseKeys = Seq("id"), groupCols = Seq("status"), sumCols = Seq("v"),
      nBuckets = 4)
    def recompute(): Set[(String, Long)] =
      SnapshotUpsert.readSnapshot(spark, base)
        .groupBy("status").agg(sum("v").as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    def mvState(): Set[(String, Long)] =
      IncrementalMv.readMv(spark, mv)
        .select(col("status"), col("sum_v"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    SnapshotUpsert.appendDeltaSnapshot(
      df((1L, "a", 10L), (2L, "b", 5L)), base, Seq("id"), "",
      nBuckets = 4, keepVersions = 10)
    refresh()
    assert(mvState() == recompute())
    SnapshotUpsert.appendDeltaSnapshot(
      df((1L, "b", 20L), (3L, "a", 2L)), base, Seq("id"), "",
      nBuckets = 4, keepVersions = 10) // key 1 MOVES a -> b
    refresh()
    assert(mvState() == recompute())
    SnapshotUpsert.appendDeltaSnapshot(
      tombDf((2L, "x", 0L, true)), base, Seq("id"), "", nBuckets = 4,
      keepVersions = 10, tombstoneCol = Some("del"))
    refresh()
    assert(mvState() == recompute())
    assert(mvState() == Set(("a", 2L), ("b", 20L)))
  }
}
