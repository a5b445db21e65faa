package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Incremental bucket split (r11, linear hashing): one overfull bucket
  * rewrites as two children, everything else is carried by reference,
  * and readers — snapshot, keyed point lookup, merges, the change feed
  * — route by the per-bucket depth map the manifest records. */
class SnapshotSplitSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-split").toString

  private def df(rows: (Long, String, Long)*) = {
    import spark.implicits._
    rows.toDF("id", "status", "v")
  }

  private def snapSet(dir: String): Set[(Long, String, Long)] =
    SnapshotUpsert.readSnapshot(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  /** id -> base bucket under nBuckets, computed by the real expression. */
  private def baseBuckets(ids: Seq[Long], n: Int): Map[Long, Int] = {
    import spark.implicits._
    ids.toDF("id")
      .select(col("id"), SnapshotUpsert.bucketOf(Seq("id"), n).as("kb"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  private def manifestFiles(dir: String): Map[Int, Set[String]] = {
    val lines = scala.io.Source.fromFile(
      new java.io.File(s"$dir/_manifests").listFiles()
        .filter(_.getName.endsWith(".txt")).sortBy(_.getName).last, "UTF-8")
      .getLines().toVector
    lines.filterNot(l => l.startsWith("#") ||
      l.startsWith("S\t") ||
        l.startsWith("L\t") || l.startsWith("V\t")).map { l =>
      val Array(b, rel) = l.split('\t'); (b.toInt, rel)
    }.groupBy(_._1).map { case (b, fs) => b -> fs.map(_._2).toSet }
  }

  private def seed(dir: String, n: Int = 4, keys: Long = 64): Unit =
    SnapshotUpsert.upsertBatchSnapshot(
      df((0L until keys).map(i => (i, s"s$i", 1L)): _*), dir,
      Seq("id"), "v", nBuckets = n, keepVersions = 10)

  test("a split table's reads are identical pre/post split; untouched " +
      "buckets are carried by reference; the depth map commits atomically") {
    val dir = tmp()
    seed(dir)
    val before = snapSet(dir)
    val filesBefore = manifestFiles(dir)
    SnapshotUpsert.splitBucket(spark, dir, 0, keepVersions = 10)
    // content identical
    assert(snapSet(dir) == before)
    // the pre-split version stays time-travel-readable
    assert(SnapshotUpsert.readVersion(spark, dir, 1L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet == before)
    val filesAfter = manifestFiles(dir)
    // parent 0 replaced by children 0 (depth 1) and 4; buckets 1..3
    // carried with the SAME file paths (by reference, not rewritten)
    (1 to 3).foreach(b => assert(filesAfter(b) == filesBefore(b),
      s"bucket $b must be carried by reference"))
    assert(filesAfter.keySet.contains(4), filesAfter.keySet.toString)
    assert((filesAfter.getOrElse(0, Set.empty) ++ filesAfter(4))
      .forall(_.contains("/v2-")), "children must be freshly staged files")
    // routing: every key still found where the layout says
    assert(snapSet(dir).map(_._1) == before.map(_._1))
  }

  test("merges after a split route rows into the children; untouched " +
      "buckets stay carried; a new key lands in the right child") {
    val dir = tmp()
    seed(dir)
    SnapshotUpsert.splitBucket(spark, dir, 0, keepVersions = 10)
    val base = baseBuckets(0L until 200L, 4)
    // a key of base bucket 0 whose depth-1 residue is 4 (the sibling):
    // derive it with the real layout routing
    import spark.implicits._
    val child = (0L until 200L).toDF("id")
      .select(col("id"), SnapshotUpsert.bucketOfLayout(Seq("id"), 4,
        Map(0 -> 1, 4 -> 1)).as("kb"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val inSibling = (0L until 200L).find(i => child(i) == 4).get
    val inChild0 = (0L until 200L).find(i => child(i) == 0).get
    val inCarried = (0L until 200L).find(i => base(i) == 2).get
    val filesBefore = manifestFiles(dir)
    // one batch touching the sibling child, child 0, and a carried bucket
    SnapshotUpsert.upsertBatchSnapshot(
      df((inSibling, "upd-sib", 2L), (inChild0, "upd-c0", 2L),
        (inCarried, "upd-car", 2L), (1000L + inSibling, "new-sib", 2L)),
      dir, Seq("id"), "v", nBuckets = 4, keepVersions = 10)
    val got = snapSet(dir)
    assert(got.contains((inSibling, "upd-sib", 2L)) &&
      got.contains((inChild0, "upd-c0", 2L)) &&
      got.contains((inCarried, "upd-car", 2L)))
    // exactly one row per updated key (no stale duplicate stranded in a
    // wrong bucket)
    Seq(inSibling, inChild0, inCarried).foreach { k =>
      assert(got.count(_._1 == k) == 1, s"key $k duplicated: $got")
    }
    val filesAfter = manifestFiles(dir)
    // buckets not touched by the merge keep their exact files
    val newKeyBucket = Seq(1000L + inSibling).toDF("id")
      .select(SnapshotUpsert.bucketOfLayout(Seq("id"), 4, Map(0 -> 1, 4 -> 1)))
      .head().getInt(0)
    val untouched = filesBefore.keySet -- Set(4, 0,
      base(inCarried), newKeyBucket)
    untouched.foreach(b => assert(filesAfter.get(b) == filesBefore.get(b),
      s"bucket $b must remain carried by reference"))
  }

  test("readKeys prunes to exactly the probed buckets across the mixed " +
      "layout and matches a full-scan filter") {
    val dir = tmp()
    seed(dir)
    SnapshotUpsert.splitBucket(spark, dir, 0, keepVersions = 10)
    import spark.implicits._
    val layout = Map(0 -> 1, 4 -> 1)
    val routed = (0L until 64L).toDF("id")
      .select(col("id"), SnapshotUpsert.bucketOfLayout(Seq("id"), 4, layout)
        .as("kb"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // probe one key in a split child and one in a carried bucket
    val pSib = routed.collectFirst { case (k, b) if b == 4 => k }.get
    val pCar = routed.collectFirst { case (k, b) if b == 3 => k }.get
    val lookup = Seq(pSib, pCar, 999999L).toDF("id")
    val got = SnapshotUpsert.readKeys(spark, dir, lookup, Seq("id"))
    val want = SnapshotUpsert.readSnapshot(spark, dir)
      .where(col("id").isin(pSib, pCar)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet == want)
    // pruning: scanned files = exactly the probed buckets' manifest rows
    val files = manifestFiles(dir)
    val probes3 = Seq(pSib, pCar, 999999L).toDF("id")
      .select(SnapshotUpsert.bucketOfLayout(Seq("id"), 4, layout).as("kb"))
      .distinct().collect().map(_.getInt(0)).toSet
    val expected = probes3.flatMap(b => files.getOrElse(b, Set.empty))
    val gotFiles = got.inputFiles.toSet
    assert(gotFiles.size == expected.size &&
      expected.forall(rel => gotFiles.exists(_.endsWith(rel))),
      s"expected $expected, scanned $gotFiles")
    assert(gotFiles.size <
      SnapshotUpsert.readSnapshot(spark, dir).inputFiles.length)
  }

  test("change feed across a split: a pure split emits nothing; a " +
      "post-split update reads only its base-residue class") {
    val dir = tmp()
    seed(dir)                                           // v1
    SnapshotUpsert.splitBucket(spark, dir, 0, keepVersions = 10) // v2
    // pure split: zero changes across the depth change
    assert(SnapshotUpsert.changesBetween(spark, dir, 1L, 2L, Seq("id"),
      emitDeletes = true).count() == 0)
    // an update in a CARRIED bucket after the split
    import spark.implicits._
    val base = baseBuckets(0L until 64L, 4)
    val k = base.collectFirst { case (id, b) if b == 2 => id }.get
    SnapshotUpsert.upsertBatchSnapshot(df((k, "upd", 9L)), dir, Seq("id"),
      "v", nBuckets = 4, keepVersions = 10)             // v3
    // spanning the split (v1 -> v3): exactly the one update, and the
    // diff reads only the changed class's files on each side
    val feed = SnapshotUpsert.changesBetween(spark, dir, 1L, 3L, Seq("id"),
      emitDeletes = true)
    val rows = feed.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(r.fieldIndex("_change"))))
    assert(rows.toSet == Set((k, "upd", "update")), rows.mkString(","))
    // pruning: the split touched class 0 (parent 0 -> children 0/4),
    // the update touched class 2 — the diff must NOT read classes 1, 3
    val scanned = feed.inputFiles.toSet
    val all = manifestFiles(dir)
    Seq(1, 3).foreach { b =>
      all(b).foreach(rel => assert(!scanned.exists(_.endsWith(rel)),
        s"class $b is unchanged and must not be read: $rel"))
    }
  }

  test("a child splits again (depth 2): reads exact, merges exact") {
    val dir = tmp()
    seed(dir, keys = 128)
    val before = snapSet(dir)
    SnapshotUpsert.splitBucket(spark, dir, 0, keepVersions = 10)
    // split the sibling child 4 (depth 1 -> children 4 and 12 at depth 2)
    SnapshotUpsert.splitBucket(spark, dir, 4, keepVersions = 10)
    assert(snapSet(dir) == before)
    val files = manifestFiles(dir)
    assert(files.keySet.subsetOf(Set(0, 1, 2, 3, 4, 12)),
      files.keySet.toString)
    // a merge against the depth-2 layout stays exact
    import spark.implicits._
    val routed = (0L until 128L).toDF("id")
      .select(col("id"), SnapshotUpsert.bucketOfLayout(Seq("id"), 4,
        Map(0 -> 1, 4 -> 2, 12 -> 2)).as("kb"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val deep = routed.collectFirst { case (k, b) if b == 12 => k }.get
    SnapshotUpsert.upsertBatchSnapshot(df((deep, "deep", 5L)), dir,
      Seq("id"), "v", nBuckets = 4, keepVersions = 10)
    val got = snapSet(dir)
    assert(got.contains((deep, "deep", 5L)) && got.count(_._1 == deep) == 1)
    // readKeys across the depth-2 layout
    val one = SnapshotUpsert.readKeys(spark, dir, Seq(deep).toDF("id"),
      Seq("id")).collect()
    assert(one.length == 1 && one.head.getString(1) == "deep")
    // a REBUCKET resets the split depths: one flat layout again,
    // content identical, and plain merges/reads keep working
    val beforeRebucket = snapSet(dir)
    SnapshotUpsert.rebucket(spark, dir, 16, Seq("id"), keepVersions = 10)
    assert(snapSet(dir) == beforeRebucket)
    assert(manifestFiles(dir).keySet.forall(_ < 16),
      "rebucket must clear split ids back to the flat layout")
    SnapshotUpsert.upsertBatchSnapshot(df((deep, "after", 9L)), dir,
      Seq("id"), "v", nBuckets = 16, keepVersions = 10)
    assert(snapSet(dir).contains((deep, "after", 9L)))
  }

  test("splitOverfull splits exactly the buckets over budget and " +
      "returns them") {
    val dir = tmp()
    // bucket sizes diverge: make one bucket hold far more rows
    import spark.implicits._
    val base = baseBuckets(0L until 4000L, 4)
    val fat = base.groupBy(_._2).view.mapValues(_.size).toMap
      .maxBy(_._2)._1
    val rows = (0L until 4000L).filter(i => base(i) == fat).map(i =>
      (i, "x" * 64, 1L)) ++ (0L until 4000L).filterNot(i => base(i) == fat)
      .take(8).map(i => (i, "y", 1L))
    SnapshotUpsert.upsertBatchSnapshot(df(rows: _*), dir, Seq("id"), "v",
      nBuckets = 4, keepVersions = 10)
    val sizes = manifestFiles(dir).map { case (b, rels) =>
      b -> rels.map(rel => new java.io.File(s"$dir/$rel").length()).sum
    }
    val budget = sizes.values.max - 1 // only the fattest bucket is over
    val split = SnapshotUpsert.splitOverfull(spark, dir, budget,
      keepVersions = 10)
    assert(split == Seq(fat), s"expected Seq($fat), got $split")
    assert(snapSet(dir).size == rows.size)
  }

  test("splitting an unknown or empty bucket is refused loudly; a table " +
      "without recorded bucket columns is refused with the upgrade hint") {
    val dir = tmp()
    seed(dir)
    val e = intercept[IllegalArgumentException] {
      SnapshotUpsert.splitBucket(spark, dir, 77)
    }
    assert(e.getMessage.contains("nothing to split"), e.getMessage)
  }
}
