package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The one commit path every snapshot writer publishes through: the
  * monotone `#ts` clamp, each writer's attempt budget on a lost version
  * race, and GC protecting exactly the live bloom sidecars. Tables are
  * a handful of rows so the suite stays cheap. */
class SnapshotCommitSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-snapc").toString

  private def df(rows: (Long, String, Long)*) = {
    import spark.implicits._
    rows.toDF("id", "status", "v")
  }

  private def rowSet(d: org.apache.spark.sql.DataFrame) =
    d.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  private def snapSet(dir: String) =
    rowSet(SnapshotUpsert.readSnapshot(spark, dir))

  private def hfs(dir: String): (Path, FileSystem) = {
    val root = new Path(dir)
    (root, root.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  private def head(dir: String): SnapshotUpsert.Snapshot = {
    val (root, fs) = hfs(dir)
    SnapshotUpsert.currentSnapshot(fs, root).get
  }

  private def upsert(dir: String, nowMs: Long, keep: Int,
      rows: (Long, String, Long)*): Unit =
    SnapshotUpsert.upsertBatchSnapshot(df(rows: _*), dir, Seq("id"), "v",
      nBuckets = SnapshotUpsert.currentBuckets(spark, dir).getOrElse(4),
      keepVersions = keep, nowMs = nowMs,
      props = Map(SnapshotUpsert.BloomColsProp -> "status"))

  private def someBucket(dir: String): Int = head(dir).files.keys.min

  // ------------------------------------------------------- monotone #ts

  Seq[(String, String => Unit)](
    "rebucket" -> (dir => SnapshotUpsert.rebucket(spark, dir, 8, Seq("id"),
      keepVersions = 10, nowMs = 2000L)),
    "splitBucket" -> (dir => SnapshotUpsert.splitBucket(spark, dir,
      someBucket(dir), keepVersions = 10, nowMs = 2000L))
  ).foreach { case (name, writer) =>
    test(s"$name behind the head's clock still commits a monotone #ts, " +
        "so readAsOf resolves to the version that was current then") {
      val dir = tmp()
      upsert(dir, 1000L, 10, (1L, "a", 1L))
      upsert(dir, 5000L, 10, (2L, "b", 1L))
      writer(dir)
      assert(SnapshotUpsert.versions(spark, dir) == Seq(1L, 2L, 3L))
      val ts = SnapshotUpsert.history(spark, dir).orderBy("version")
        .select("commit_ts_ms").collect().map(_.getLong(0)).toSeq
      assert(ts == ts.sorted, s"commit_ts_ms must never decrease: $ts")
      assert(rowSet(SnapshotUpsert.readAsOf(spark, dir, 3000L)) ==
        Set((1L, "a", 1L)), "at 3000 only v1 had committed")
      assert(snapSet(dir) == Set((1L, "a", 1L), (2L, "b", 1L)))
    }
  }

  // ---------------------------------------------------- attempt budgets

  private def seed(dir: String): Unit =
    upsert(dir, 1000L, 10, (1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))

  /** (writer, setup beyond the seed, call under the given primitive,
    * tries expected before the loss surfaces). */
  private val budgets: Seq[(String, String => Unit,
      (String, SnapshotUpsert.CommitPrimitive) => Unit, Int)] = Seq(
    ("upsert", _ => (), (dir, p) => SnapshotUpsert.upsertBatchSnapshot(
      df((4L, "d", 1L)), dir, Seq("id"), "v", nBuckets = 4,
      keepVersions = 10, maxCommitAttempts = 3, commit = p), 3),
    ("delta append", _ => (), (dir, p) => SnapshotUpsert.appendDeltaSnapshot(
      df((4L, "d", 1L)), dir, Seq("id"), "v", nBuckets = 4,
      keepVersions = 10, maxCommitAttempts = 3, commit = p), 3),
    ("mergeInto", _ => (), (dir, p) => SnapshotUpsert.mergeInto(
      df((1L, "z", 2L), (4L, "d", 1L)), dir, Seq("id"), updateAll = true,
      keepVersions = 10, maxCommitAttempts = 3, commit = p), 3),
    ("compactDeltas", dir => SnapshotUpsert.appendDeltaSnapshot(
      df((1L, "z", 2L)), dir, Seq("id"), "v", nBuckets = 4,
      keepVersions = 10), (dir, p) => SnapshotUpsert.compactDeltas(spark,
      dir, keepVersions = 10, maxCommitAttempts = 3, commit = p), 3),
    ("restore", dir => upsert(dir, 2000L, 10, (1L, "z", 2L)),
      (dir, p) => SnapshotUpsert.restore(spark, dir, 1L, keepVersions = 10,
        commit = p, maxCommitAttempts = 3), 3),
    ("rebucket", _ => (), (dir, p) => SnapshotUpsert.rebucket(spark, dir, 8,
      Seq("id"), keepVersions = 10, commit = p), 1),
    ("splitBucket", _ => (), (dir, p) => SnapshotUpsert.splitBucket(spark,
      dir, someBucket(dir), keepVersions = 10, commit = p), 1),
    ("setProps", _ => (), (dir, p) => SnapshotUpsert.setProps(spark, dir,
      Map("k" -> "v"), keepVersions = 10, commit = p), 1))

  budgets.foreach { case (name, setup, call, tries) =>
    test(s"$name against an always-losing primitive tries $tries time(s), " +
        "surfaces ConcurrentCommitException, and leaves the table as it was") {
      val dir = tmp()
      seed(dir)
      setup(dir)
      val rowsBefore = snapSet(dir)
      val versionsBefore = SnapshotUpsert.versions(spark, dir)
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      val alwaysLoses = new SnapshotUpsert.CommitPrimitive {
        override def createExclusive(fs: FileSystem, target: Path,
            bytes: Array[Byte]): Boolean = { calls.incrementAndGet(); false }
      }
      intercept[SnapshotUpsert.ConcurrentCommitException](call(dir, alwaysLoses))
      assert(calls.get() == tries, s"$name: ${calls.get()} tries")
      assert(snapSet(dir) == rowsBefore)
      assert(SnapshotUpsert.versions(spark, dir) == versionsBefore)
    }
  }

  // ------------------------------------------------- GC by allRefs

  private def bloomsOnDisk(dir: String): Set[String] = {
    val (root, fs) = hfs(dir)
    val it = fs.listFiles(new Path(root, "batches"), true)
    val prefix = fs.makeQualified(root).toString + "/"
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(p => p.getName.endsWith(".bloom"))
      .map(_.toString.stripPrefix(prefix)).toSet
  }

  private def bloomsReferenced(dir: String): Set[String] = {
    val (root, fs) = hfs(dir)
    SnapshotUpsert.versions(spark, dir).flatMap(v =>
      SnapshotUpsert.readManifest(fs, root, v).blooms.valuesIterator
        .flatMap(_.valuesIterator)).toSet
  }

  Seq[(String, String => Unit)](
    "rebucket" -> (dir => SnapshotUpsert.rebucket(spark, dir, 8, Seq("id"),
      keepVersions = 10)),
    "splitBucket" -> (dir => SnapshotUpsert.splitBucket(spark, dir,
      someBucket(dir), keepVersions = 10)),
    "compactDeltas" -> { dir =>
      SnapshotUpsert.appendDeltaSnapshot(df((1L, "z", 2L)), dir, Seq("id"),
        "v", nBuckets = 4, keepVersions = 10)
      SnapshotUpsert.compactDeltas(spark, dir, keepVersions = 10)
    },
    "restore" -> { dir =>
      upsert(dir, 2000L, 10, (1L, "z", 2L), (5L, "e", 1L))
      SnapshotUpsert.restore(spark, dir, 1L, keepVersions = 10)
    }
  ).foreach { case (name, writer) =>
    test(s"after $name and two keepVersions=2 upserts, the bloom sidecars " +
        "on disk are exactly those the retained manifests reference") {
      val dir = tmp()
      seed(dir)
      writer(dir)
      upsert(dir, 3000L, 2, (1L, "y", 3L))
      upsert(dir, 4000L, 2, (2L, "x", 3L), (6L, "f", 1L))
      val referenced = bloomsReferenced(dir)
      assert(referenced.nonEmpty)
      assert(bloomsOnDisk(dir) == referenced,
        s"orphaned: ${bloomsOnDisk(dir) -- referenced}; " +
          s"missing: ${referenced -- bloomsOnDisk(dir)}")
      assert(SnapshotUpsert.readSnapshot(spark, dir)
        .where(col("status") === "x").count() == 1)
    }
  }
}
