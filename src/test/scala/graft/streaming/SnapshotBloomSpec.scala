package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Bloom-sidecar file skipping (r12, [[SnapshotUpsert.BloomColsProp]]):
  * per-file membership blooms for HIGH-cardinality columns, written as
  * `_blooms/` sidecars at commit, referenced from the manifest (`B`
  * lines), probed by the SQL relation as the LAST pruning tier. Every
  * test asserts both directions — results identical to the reference
  * reader, and the skipping decision itself (kept-file counts /
  * executed numFiles). */
class SnapshotBloomSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-bloom").toString

  // (group, uid, payload): bucketed by `group` (LOW cardinality), so
  // `uid` — unique per row — is the non-bucket high-cardinality column
  // bloom skipping exists for
  private def df(rows: (String, Long, Long)*) = {
    import spark.implicits._
    rows.toDF("grp", "uid", "v")
  }

  private def rows(n: Int, off: Long = 0L): Seq[(String, Long, Long)] =
    (0 until n).map(i => (s"g${i % 4}", off + i, 1L))

  private def seed(dir: String, n: Int = 64,
      props: Map[String, String] = Map(
        SnapshotUpsert.BloomColsProp -> "uid")): Unit =
    SnapshotUpsert.upsertBatchSnapshot(df(rows(n): _*), dir,
      keys = Seq("grp", "uid"), orderCol = "v", nBuckets = 8,
      bucketCols = Seq("grp"), keepVersions = 10, props = props)

  private def snap(dir: String): SnapshotUpsert.Snapshot = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotUpsert.currentSnapshot(fs, root).get
  }

  private def index(dir: String): SnapshotFileIndex =
    new SnapshotFileIndex(spark, new Path(dir), snap(dir))

  private def scannedFiles(d: DataFrame): Long = {
    d.collect()
    val plan = d.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case f: FileSourceScanExec => f }
      .map(_.metrics("numFiles").value).sum
  }

  private def asSet(d: DataFrame): Set[(String, Long, Long)] =
    d.select("grp", "uid", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("commit writes one sidecar per staged file for the declared " +
      "column, referenced from the manifest and present on storage") {
    val dir = tmp()
    seed(dir)
    val s = snap(dir)
    val dataRels = s.files.valuesIterator.flatten.toSeq
    assert(dataRels.nonEmpty)
    dataRels.foreach { rel =>
      val side = s.blooms.get(rel).flatMap(_.get("uid"))
      assert(side.nonEmpty, s"no bloom recorded for $rel")
      assert(side.get.contains("_blooms/"))
    }
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    s.blooms.valuesIterator.flatMap(_.valuesIterator).foreach { side =>
      assert(fs.exists(new Path(new Path(dir), side)), s"missing $side")
    }
  }

  test("a point predicate on the non-bucket bloom column opens only " +
      "the files whose bloom might contain it — and the result is " +
      "exact") {
    val dir = tmp()
    seed(dir)
    SnapshotRelation.registerSqlView(spark, "snap_bloom_pt", dir)
    val total = snap(dir).files.valuesIterator.map(_.size).sum
    assert(total > 1)
    val one = spark.sql("SELECT * FROM snap_bloom_pt WHERE uid = 37")
    val got = scannedFiles(one)
    // uid 37 lives in exactly one file; fpp 0.03 over 8 files makes a
    // false-positive second file possible but a full scan is a bug
    assert(got < total, s"bloom pruned nothing: $got of $total")
    assert(asSet(one) == Set(("g1", 37L, 1L)))
    // IN list: union of the hit files, still pruned
    val in = spark.sql(
      "SELECT * FROM snap_bloom_pt WHERE uid IN (3, 37, 55)")
    assert(scannedFiles(in) < total)
    assert(asSet(in) ==
      Set(("g3", 3L, 1L), ("g1", 37L, 1L), ("g3", 55L, 1L)))
  }

  test("a probe for an ABSENT value opens zero files") {
    val dir = tmp()
    seed(dir)
    val idx = index(dir)
    val kept = idx.keptRels(Seq(
      org.apache.spark.sql.catalyst.expressions.EqualTo(
        org.apache.spark.sql.catalyst.expressions.AttributeReference(
          "uid", org.apache.spark.sql.types.LongType)(),
        org.apache.spark.sql.catalyst.expressions.Literal(999999L))))
    assert(kept.isEmpty, s"expected zero kept files, got $kept")
    // end-to-end: the relation returns no rows (and stays correct)
    SnapshotRelation.registerSqlView(spark, "snap_bloom_abs", dir)
    assert(spark.sql(
      "SELECT * FROM snap_bloom_abs WHERE uid = 999999").count() == 0L)
  }

  test("blooms compose with bucket pruning, carry forward across " +
      "commits, and a second commit's files get their own sidecars") {
    val dir = tmp()
    seed(dir)
    // second commit touches only g0's bucket; other buckets' blooms
    // must carry forward by reference
    SnapshotUpsert.upsertBatchSnapshot(df(("g0", 1000L, 2L)), dir,
      keys = Seq("grp", "uid"), orderCol = "v", nBuckets = 8,
      bucketCols = Seq("grp"), keepVersions = 10)
    val s = snap(dir)
    s.files.valuesIterator.flatten.foreach { rel =>
      assert(s.blooms.get(rel).flatMap(_.get("uid")).nonEmpty,
        s"bloom lost for $rel after the second commit")
    }
    SnapshotRelation.registerSqlView(spark, "snap_bloom_c2", dir)
    val q = spark.sql(
      "SELECT * FROM snap_bloom_c2 WHERE grp = 'g0' AND uid = 1000")
    assert(asSet(q) == Set(("g0", 1000L, 2L)))
    assert(scannedFiles(q) <= 2)
  }

  test("conservative fallbacks: no declared column = no pruning; a " +
      "probe past the file cap skips the bloom tier; a missing " +
      "sidecar keeps its file") {
    val dir = tmp()
    seed(dir, props = Map.empty) // no bloom declaration
    val s = snap(dir)
    assert(s.blooms.isEmpty)
    SnapshotRelation.registerSqlView(spark, "snap_bloom_none", dir)
    val total = s.files.valuesIterator.map(_.size).sum
    assert(scannedFiles(spark.sql(
      "SELECT * FROM snap_bloom_none WHERE uid = 5")) == total)

    val dir2 = tmp()
    seed(dir2)
    // cap at 0: the tier is skipped wholesale, results stay exact
    System.setProperty("graft.bloom.maxProbeFiles", "0")
    try {
      SnapshotRelation.registerSqlView(spark, "snap_bloom_cap", dir2)
      val q = spark.sql("SELECT * FROM snap_bloom_cap WHERE uid = 37")
      assert(asSet(q) == Set(("g1", 37L, 1L)))
      assert(scannedFiles(q) ==
        snap(dir2).files.valuesIterator.map(_.size).sum)
    } finally System.clearProperty("graft.bloom.maxProbeFiles")

    // sidecar deleted out-of-band: its file is KEPT (never a wrong
    // answer), others still prune
    val dir3 = tmp()
    seed(dir3)
    val s3 = snap(dir3)
    val fs = new Path(dir3).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val victim = s3.blooms.valuesIterator.flatMap(_.valuesIterator).next()
    fs.delete(new Path(new Path(dir3), victim), false)
    val victimData = s3.blooms.find(
      _._2.valuesIterator.contains(victim)).get._1
    val kept = index(dir3).keptRels(Seq(
      org.apache.spark.sql.catalyst.expressions.EqualTo(
        org.apache.spark.sql.catalyst.expressions.AttributeReference(
          "uid", org.apache.spark.sql.types.LongType)(),
        org.apache.spark.sql.catalyst.expressions.Literal(888888L))))
    assert(kept == Seq(victimData),
      s"expected only the sidecar-less file kept, got $kept")
  }

  test("blooms compose with a SPLIT bucket layout: sidecars regenerate " +
      "for the children and probes stay exact across mixed depths") {
    val dir = tmp()
    seed(dir)
    // split g1's bucket (uid 37 lives in g1): children get fresh
    // files, whose blooms must be written by the split commit
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val s0 = SnapshotUpsert.currentSnapshot(fs, root).get
    val g1Bucket = {
      import spark.implicits._
      Seq("g1").toDF("grp").select(
        SnapshotUpsert.bucketOfLayout(Seq("grp"), s0.nBuckets, s0.depths)
          .as("kb")).head.getInt(0)
    }
    SnapshotUpsert.splitBucket(spark, dir, g1Bucket, keepVersions = 10)
    val s1 = snap(dir)
    s1.files.valuesIterator.flatten.foreach { rel =>
      assert(s1.blooms.get(rel).flatMap(_.get("uid")).nonEmpty,
        s"bloom missing for post-split file $rel")
    }
    // the probe still opens a pruned set and answers exactly
    SnapshotRelation.registerSqlView(spark, "snap_bloom_split", dir)
    val q = spark.sql("SELECT * FROM snap_bloom_split WHERE uid = 37")
    assert(asSet(q) == Set(("g1", 37L, 1L)))
    assert(scannedFiles(q) <
      s1.files.valuesIterator.map(_.size).sum)
  }

  test("retention GC deletes the dropped version's sidecars with its " +
      "data files; live sidecars survive") {
    val dir = tmp()
    // keepVersions = 2 so the third commit GCs the first
    SnapshotUpsert.upsertBatchSnapshot(df(rows(32): _*), dir,
      keys = Seq("grp", "uid"), orderCol = "v", nBuckets = 8,
      bucketCols = Seq("grp"), keepVersions = 2,
      props = Map(SnapshotUpsert.BloomColsProp -> "uid"))
    val v1 = snap(dir)
    val v1Sides = v1.blooms.valuesIterator.flatMap(_.valuesIterator).toSet
    assert(v1Sides.nonEmpty)
    // rewrite EVERY bucket twice so v1's files (and sidecars) age out
    SnapshotUpsert.upsertBatchSnapshot(df(rows(32, 2000): _*), dir,
      keys = Seq("grp", "uid"), orderCol = "v", nBuckets = 8,
      bucketCols = Seq("grp"), keepVersions = 2)
    SnapshotUpsert.upsertBatchSnapshot(
      df((rows(32) ++ rows(32, 2000)).map { case (g, u, _) =>
        (g, u, 3L) }: _*), dir,
      keys = Seq("grp", "uid"), orderCol = "v", nBuckets = 8,
      bucketCols = Seq("grp"), keepVersions = 2)
    val cur = snap(dir)
    val fs = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val liveSides = cur.blooms.valuesIterator.flatMap(_.valuesIterator).toSet
    liveSides.foreach(sd =>
      assert(fs.exists(new Path(new Path(dir), sd)), s"live $sd gone"))
    (v1Sides -- liveSides).foreach(sd =>
      assert(!fs.exists(new Path(new Path(dir), sd)),
        s"GC left dropped sidecar $sd"))
    // and the current read is exact
    assert(SnapshotUpsert.readSnapshot(spark, dir).count() == 64L)
  }
}
