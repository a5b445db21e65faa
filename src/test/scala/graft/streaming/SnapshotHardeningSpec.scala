package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Round-10 hardening of the snapshot table layer: commit exclusivity,
  * torn-manifest handling, tombstone deletes, the change-feed consumer
  * cursor, age-based retention, debris vacuum, and GC delete-retry. */
class SnapshotHardeningSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-snaph").toString

  private def df(rows: (Long, String, Long)*) = {
    import spark.implicits._
    rows.toDF("id", "status", "v")
  }

  private def snapSet(dir: String): Set[(Long, String, Long)] =
    SnapshotUpsert.readSnapshot(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  private def hfs(dir: String) = {
    val root = new Path(dir)
    (root, root.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  // ---------------------------------------------------------------- commit

  test("two writers racing the same version: exactly one commits, the loser " +
      "gets a clear error, the winner's manifest is intact") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "seed", 1L)), dir,
      Seq("id"), "v", nBuckets = 4)
    val (root, fs) = hfs(dir)
    val schema = SnapshotUpsert.readSnapshot(spark, dir).schema
    // stage two distinct fake file sets and race the commit of v2 from
    // two threads through the real commit primitive
    val start = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until 2).map { i =>
      val t = new Thread(() => {
        start.await()
        try {
          val rel = s"batches/v2-writer$i/kb=0/part-w$i.parquet"
          SnapshotUpsert.commitManifest(fs, root,
            SnapshotUpsert.Snapshot(2L, 4, 1000L + i, schema,
              Map(0 -> Seq(rel)), Seq("id"), Seq("id"), "v",
              lens = Map(rel -> 1L)))
          wins.incrementAndGet()
        } catch { case e: RuntimeException => errors.add(e.getMessage) }
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join())
    assert(wins.get() == 1, s"exactly one writer must win, got ${wins.get()}")
    assert(errors.size == 1 &&
      errors.peek().contains("another writer committed concurrently"),
      s"loser must get the clear single-writer error: ${errors.peek()}")
    // the winner's manifest survived the loser's attempt byte-intact:
    // it parses, and references exactly one writer's file set
    val lines = scala.io.Source.fromFile(f"$dir/_manifests/v${2L}%012d.txt",
      "UTF-8").getLines().toVector
    assert(lines.last == "#eof")
    val refs = lines.filterNot(l => l.startsWith("#") || l.startsWith("L\t"))
    assert(refs.size == 1 && refs.head.contains("part-w"), refs.toString)
    assert(SnapshotUpsert.versions(spark, dir) == Seq(1L, 2L))
  }

  test("a second writer that starts after the first finished simply commits " +
      "the next version (no false positive)") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L)), dir, Seq("id"), "v",
      nBuckets = 4, keepVersions = 10)
    SnapshotUpsert.upsertBatchSnapshot(df((2L, "b", 1L)), dir, Seq("id"), "v",
      nBuckets = 4, keepVersions = 10)
    SnapshotUpsert.upsertBatchSnapshot(df((3L, "c", 1L)), dir, Seq("id"), "v",
      nBuckets = 4, keepVersions = 10)
    assert(SnapshotUpsert.versions(spark, dir) == Seq(1L, 2L, 3L))
    assert(snapSet(dir).size == 3)
  }

  test("a torn manifest (writer killed mid-commit) is invisible to readers " +
      "and reclaimed by the replaying writer") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L), (2L, "b", 1L)), dir,
      Seq("id"), "v", nBuckets = 4)
    val before = snapSet(dir)
    // simulate the torn write: a v2 manifest without the #eof trailer
    val torn = new java.io.File(f"$dir/_manifests/v${2L}%012d.txt")
    val w = new java.io.PrintWriter(torn, "UTF-8")
    w.print("#nbuckets=4\n#ts=123\n#schema=id BIGINT\n0\tbatches/v2-x/kb=0/p.parquet")
    w.close()
    // readers: the version never committed
    assert(SnapshotUpsert.versions(spark, dir) == Seq(1L))
    assert(snapSet(dir) == before)
    val e = intercept[RuntimeException] {
      SnapshotUpsert.readVersion(spark, dir, 2L).collect()
    }
    assert(e.getMessage.contains("torn"), e.getMessage)
    // the replaying writer reclaims the torn file and commits v2 cleanly
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a2", 2L)), dir, Seq("id"), "v",
      nBuckets = 4)
    assert(SnapshotUpsert.versions(spark, dir) == Seq(1L, 2L))
    assert(snapSet(dir) == Set((1L, "a2", 2L), (2L, "b", 1L)))
  }

  // ------------------------------------------------------------ tombstones

  test("tombstone deletes: the key is removed, the marker is not stored, " +
      "and the feed reports delete with the last known values") {
    import spark.implicits._
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(
      df((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)), dir, Seq("id"), "v",
      nBuckets = 1, keepVersions = 10)
    // one batch: update key 1, delete key 2 (null marker = false on key 1)
    val b2 = Seq((1L, "a2", 2L, Option.empty[Boolean]),
      (2L, "b", 2L, Some(true))).toDF("id", "status", "v", "_deleted")
    SnapshotUpsert.upsertBatchSnapshot(b2, dir, Seq("id"), "v",
      nBuckets = 1, keepVersions = 10, tombstoneCol = Some("_deleted"))
    assert(snapSet(dir) == Set((1L, "a2", 2L), (3L, "c", 1L)))
    assert(!SnapshotUpsert.readSnapshot(spark, dir).columns.contains("_deleted"))
    val feed = SnapshotUpsert.changesBetween(spark, dir, 1L, 2L, Seq("id"),
      emitDeletes = true).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(feed == Set((1L, "a2", 2L, "update"), (2L, "b", 1L, "delete")),
      "delete must carry the key's last known (old-image) values")
    // the historical insert/update-only shape is preserved by default
    val noDel = SnapshotUpsert.changesBetween(spark, dir, 1L, 2L, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(3))).toSet
    assert(noDel == Set((1L, "update")))
  }

  test("a fully-tombstoned bucket disappears from the manifest and is not " +
      "carried forward (no resurrect)") {
    val dir = tmp()
    import spark.implicits._
    // nBuckets=64: key 2 sits alone in its bucket with high probability
    // against 3 keys; assert on the invariant, not the layout
    SnapshotUpsert.upsertBatchSnapshot(
      df((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)), dir, Seq("id"), "v",
      nBuckets = 64, keepVersions = 10)
    SnapshotUpsert.upsertBatchSnapshot(
      Seq((2L, "b", 2L, true)).toDF("id", "status", "v", "_deleted"),
      dir, Seq("id"), "v", nBuckets = 64, keepVersions = 10,
      tombstoneCol = Some("_deleted"))
    assert(snapSet(dir) == Set((1L, "a", 1L), (3L, "c", 1L)))
    // a replay of the delete batch stays idempotent
    SnapshotUpsert.upsertBatchSnapshot(
      Seq((2L, "b", 2L, true)).toDF("id", "status", "v", "_deleted"),
      dir, Seq("id"), "v", nBuckets = 64, keepVersions = 10,
      tombstoneCol = Some("_deleted"))
    assert(snapSet(dir) == Set((1L, "a", 1L), (3L, "c", 1L)))
    // a later re-insert resurrects the key as a feed insert
    SnapshotUpsert.upsertBatchSnapshot(df((2L, "reborn", 3L)), dir,
      Seq("id"), "v", nBuckets = 64, keepVersions = 10)
    assert(snapSet(dir).contains((2L, "reborn", 3L)))
    val feed = SnapshotUpsert.changesBetween(spark, dir, 3L, 4L, Seq("id"),
      emitDeletes = true).collect()
      .map(r => (r.getLong(0), r.getString(3))).toSet
    assert(feed == Set((2L, "insert")))
  }

  test("delete and re-statement of one key inside ONE batch resolve by " +
      "order, then deterministically") {
    import spark.implicits._
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L)), dir, Seq("id"), "v",
      nBuckets = 4, keepVersions = 10)
    // higher-order live row beats the lower-order tombstone
    SnapshotUpsert.upsertBatchSnapshot(
      Seq((1L, "x", 2L, true), (1L, "alive", 3L, false))
        .toDF("id", "status", "v", "_deleted"),
      dir, Seq("id"), "v", nBuckets = 4, keepVersions = 10,
      tombstoneCol = Some("_deleted"))
    assert(snapSet(dir) == Set((1L, "alive", 3L)))
    // higher-order tombstone beats the lower-order live row
    SnapshotUpsert.upsertBatchSnapshot(
      Seq((1L, "y", 4L, false), (1L, "gone", 5L, true))
        .toDF("id", "status", "v", "_deleted"),
      dir, Seq("id"), "v", nBuckets = 4, keepVersions = 10,
      tombstoneCol = Some("_deleted"))
    assert(SnapshotUpsert.readSnapshot(spark, dir).count() == 0)
  }

  test("tombstones on a one-bucket table: deletes apply and an emptied " +
      "bucket leaves the manifest") {
    import spark.implicits._
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(
      df((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)),
      dir, Seq("id"), "v", nBuckets = 1)
    SnapshotUpsert.upsertBatchSnapshot(
      Seq((2L, "b", 2L, true)).toDF("id", "status", "v", "_deleted"),
      dir, Seq("id"), "v", nBuckets = 1, tombstoneCol = Some("_deleted"))
    val left = SnapshotUpsert.readSnapshot(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(left == Set((1L, "a"), (3L, "c")))
    // empty the whole (single) bucket: the head manifest lists no file
    SnapshotUpsert.upsertBatchSnapshot(
      Seq((1L, "a", 3L, true), (3L, "c", 3L, true))
        .toDF("id", "status", "v", "_deleted"),
      dir, Seq("id"), "v", nBuckets = 1, tombstoneCol = Some("_deleted"))
    val (root, fs) = hfs(dir)
    val head = SnapshotUpsert.currentSnapshot(fs, root).get
    assert(head.files.isEmpty, s"a fully-tombstoned bucket must leave the " +
      s"manifest: ${head.files}")
    // the table is now empty: the read must answer with an empty frame of
    // the recorded schema, not a schema-inference error
    val empty = SnapshotUpsert.readSnapshot(spark, dir)
    assert(empty.columns.toSeq == Seq("id", "status", "v"))
    assert(empty.count() == 0L)
    // a bad marker type is refused with a clear message
    val e = intercept[RuntimeException] {
      SnapshotUpsert.upsertBatchSnapshot(
        Seq((1L, "a", 4L, "yes")).toDF("id", "status", "v", "_deleted"),
        dir, Seq("id"), "v", nBuckets = 1, tombstoneCol = Some("_deleted"))
    }
    assert(e.getMessage.contains("BOOLEAN"), e.getMessage)
  }

  test("diffImages derives collision-free internal names (a data column " +
      "literally named __old_k or __old works)") {
    import spark.implicits._
    val newImg = Seq((1L, "n1", "o1", "x"), (2L, "n2", "o2", "y"))
      .toDF("k", "val", "__old_k", "__old")
    val oldImg = Seq((1L, "n1", "o1", "x"), (3L, "n3", "o3", "z"))
      .toDF("k", "val", "__old_k", "__old")
    val out = SnapshotUpsert.diffImages(newImg, oldImg, Seq("k"),
      emitDeletes = true).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(4))).toSet
    assert(out == Set((2L, "n2", "insert"), (3L, "n3", "delete")))
  }

  // --------------------------------------------------------------- cursor

  test("drainChanges: bootstrap, incremental slices, at-least-once replay, " +
      "and None when caught up") {
    val dir = tmp()
    val cursor = s"${tmp()}/consumer.cursor"
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L), (2L, "b", 1L)), dir,
      Seq("id"), "v", nBuckets = 4, keepVersions = 10)
    // bootstrap: whole image as inserts
    val boot = SnapshotUpsert.drainChanges(spark, dir, cursor, Seq("id")).get
    assert(boot.fromVersion == 0L && boot.toVersion == 1L)
    assert(boot.changes.collect().map(_.getString(3)).toSet == Set("insert"))
    // crash between read and commit: the SAME slice replays
    val replay = SnapshotUpsert.drainChanges(spark, dir, cursor, Seq("id")).get
    assert(replay.fromVersion == 0L && replay.toVersion == 1L)
    boot.commitCursor()
    assert(SnapshotUpsert.drainChanges(spark, dir, cursor, Seq("id")).isEmpty,
      "caught-up consumer must get None")
    // two commits, one drain: the slice spans both
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a2", 2L)), dir, Seq("id"), "v",
      nBuckets = 4, keepVersions = 10)
    SnapshotUpsert.upsertBatchSnapshot(df((3L, "c", 1L)), dir, Seq("id"), "v",
      nBuckets = 4, keepVersions = 10)
    val s2 = SnapshotUpsert.drainChanges(spark, dir, cursor, Seq("id")).get
    assert(s2.fromVersion == 1L && s2.toVersion == 3L)
    assert(s2.changes.collect()
      .map(r => (r.getLong(0), r.getString(3))).toSet ==
      Set((1L, "update"), (3L, "insert")))
    s2.commitCursor()
    assert(SnapshotUpsert.drainChanges(spark, dir, cursor, Seq("id")).isEmpty)
  }

  test("an incremental consumer driven by drainChanges equals the batch " +
      "recompute across commits, deletes, and a rebucket") {
    import spark.implicits._
    val dir = tmp()
    val cursor = s"${tmp()}/agg.cursor"
    // downstream state: key -> (status, v); aggregate: count by status
    var state = Map.empty[Long, (String, Long)]
    def drainInto(): Unit =
      SnapshotUpsert.drainChanges(spark, dir, cursor, Seq("id"),
          emitDeletes = true).foreach { slice =>
        slice.changes.collect().foreach { r =>
          val (k, ch) = (r.getLong(0), r.getString(3))
          if (ch == "delete") state -= k
          else state += k -> (r.getString(1), r.getLong(2))
        }
        slice.commitCursor()
      }
    def recompute(): Map[Long, (String, Long)] =
      SnapshotUpsert.readSnapshot(spark, dir).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    SnapshotUpsert.upsertBatchSnapshot(
      df((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)), dir, Seq("id"), "v",
      nBuckets = 4, keepVersions = 10)
    drainInto()
    assert(state == recompute())
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a2", 2L), (4L, "d", 1L)), dir,
      Seq("id"), "v", nBuckets = 4, keepVersions = 10)
    drainInto()
    assert(state == recompute())
    // a delete flows through the cursor path
    SnapshotUpsert.upsertBatchSnapshot(
      Seq((2L, "b", 3L, true)).toDF("id", "status", "v", "_deleted"), dir,
      Seq("id"), "v", nBuckets = 4, keepVersions = 10,
      tombstoneCol = Some("_deleted"))
    drainInto()
    assert(state == recompute() && !state.contains(2L))
    // a rebucket between drains: the cross-layout diff is still exact
    SnapshotUpsert.rebucket(spark, dir, 16, Seq("id"), keepVersions = 10)
    SnapshotUpsert.upsertBatchSnapshot(df((5L, "e", 1L)), dir, Seq("id"), "v",
      nBuckets = 16, keepVersions = 10)
    drainInto()
    assert(state == recompute() && state.contains(5L))
  }

  test("a cursor that aged out of the retention window fails with a clear " +
      "re-bootstrap error") {
    val dir = tmp()
    val cursor = s"${tmp()}/lagging.cursor"
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L)), dir, Seq("id"), "v",
      nBuckets = 4, keepVersions = 2)
    SnapshotUpsert.drainChanges(spark, dir, cursor, Seq("id"))
      .get.commitCursor() // cursor at v1
    // three more commits with keepVersions=2: v1 is GC'd
    (2L to 4L).foreach(i => SnapshotUpsert.upsertBatchSnapshot(
      df((i, s"s$i", i)), dir, Seq("id"), "v", nBuckets = 4, keepVersions = 2))
    val e = intercept[IllegalArgumentException] {
      SnapshotUpsert.drainChanges(spark, dir, cursor, Seq("id"))
    }
    assert(e.getMessage.contains("aged out"), e.getMessage)
  }

  // ------------------------------------------------------------- retention

  test("age-based retention: a version beyond the count window survives " +
      "until it is also older than keepAgeMs") {
    val t0 = 1_000_000_000_000L
    val hour = 3_600_000L
    val dir = tmp()
    def commit(batch: org.apache.spark.sql.DataFrame, at: Long): Unit =
      SnapshotUpsert.upsertBatchSnapshot(batch, dir, Seq("id"), "v",
        nBuckets = 4, keepVersions = 2, keepAgeMs = Some(hour), nowMs = at)
    commit(df((1L, "a", 1L)), t0)
    commit(df((1L, "b", 2L)), t0 + 60_000L)
    commit(df((1L, "c", 3L)), t0 + 120_000L)
    // v1 is beyond keepVersions=2 but only 2 minutes old: retained
    assert(SnapshotUpsert.versions(spark, dir) == Seq(1L, 2L, 3L),
      "young versions must survive the count bound when keepAgeMs is set")
    // two hours later: everything below the count window has aged out
    commit(df((1L, "d", 4L)), t0 + 2 * hour)
    assert(SnapshotUpsert.versions(spark, dir) == Seq(3L, 4L))
    assert(snapSet(dir) == Set((1L, "d", 4L)))
  }

  test("GC retries a failed stale-file delete on the next commit instead of " +
      "orphaning the files") {
    val dir = tmp()
    (1L to 2L).foreach(i => SnapshotUpsert.upsertBatchSnapshot(
      df((1L, s"s$i", i)), dir, Seq("id"), "v", nBuckets = 4,
      keepVersions = 2))
    // v1's file will be dropped by the NEXT commit; replace it with a
    // non-empty directory so the non-recursive delete fails
    val v1File = {
      val lines = scala.io.Source.fromFile(
        f"$dir/_manifests/v${1L}%012d.txt", "UTF-8").getLines().toVector
      lines.filterNot(_.startsWith("#")).head.split('\t')(1)
    }
    val f = new java.io.File(s"$dir/$v1File")
    assert(f.delete())
    assert(new java.io.File(f, "obstruction").mkdirs())
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "s3", 3L)), dir, Seq("id"), "v",
      nBuckets = 4, keepVersions = 2)
    // the delete failed, so the bookkeeping must be PARKED for retry —
    // renamed out of the readable version list, because some of v1's
    // files are already gone and time travel / the cursor's age-out
    // check must not treat a partially-deleted version as retained
    assert(new java.io.File(f"$dir/_manifests/.v${1L}%012d.gcretry").exists(),
      "a failed stale delete must park the manifest for retry")
    assert(!new java.io.File(f"$dir/_manifests/v${1L}%012d.txt").exists())
    assert(SnapshotUpsert.versions(spark, dir) == Seq(2L, 3L))
    // clear the obstruction: the next commit's GC retries and finishes
    assert(new java.io.File(f, "obstruction").delete() && f.delete())
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "s4", 4L)), dir, Seq("id"), "v",
      nBuckets = 4, keepVersions = 2)
    assert(!new java.io.File(f"$dir/_manifests/.v${1L}%012d.gcretry").exists(),
      "the parked manifest must be reaped once its deletes succeed")
    assert(!new java.io.File(f"$dir/_manifests/v${2L}%012d.txt").exists())
    assert(snapSet(dir) == Set((1L, "s4", 4L)))
  }

  test("readAsOf resolves wall-clock time travel against commit timestamps; " +
      "history lists the retained versions") {
    val t0 = 1_700_000_000_000L
    val dir = tmp()
    def commit(b: org.apache.spark.sql.DataFrame, at: Long): Unit =
      SnapshotUpsert.upsertBatchSnapshot(b, dir, Seq("id"), "v",
        nBuckets = 4, keepVersions = 10, nowMs = at)
    commit(df((1L, "a", 1L)), t0)
    commit(df((1L, "b", 2L)), t0 + 60_000L)
    commit(df((1L, "c", 3L), (2L, "d", 1L)), t0 + 120_000L)
    def asOf(t: Long): Set[(Long, String)] =
      SnapshotUpsert.readAsOf(spark, dir, t).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    // exact commit instant, between commits, and far future
    assert(asOf(t0) == Set((1L, "a")))
    assert(asOf(t0 + 90_000L) == Set((1L, "b")))
    assert(asOf(t0 + 999_999_999L) == Set((1L, "c"), (2L, "d")))
    // before the first commit: clear aged-out/predates error
    val e = intercept[RuntimeException] {
      SnapshotUpsert.readAsOf(spark, dir, t0 - 1L)
    }
    assert(e.getMessage.contains("at or before"), e.getMessage)
    // history: one row per retained version, header-derived
    val h = SnapshotUpsert.history(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(h.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(h.map(_._2).toSeq == Seq(t0, t0 + 60_000L, t0 + 120_000L))
    assert(h.forall(_._3 == 4))
    assert(h.last._4 >= 2, "v3 references at least its two keys' buckets")
  }

  // ---------------------------------------------------------------- vacuum

  test("vacuum sweeps old crash debris but never live files, fresh staging, " +
      "or carried references") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L), (2L, "b", 1L)), dir,
      Seq("id"), "v", nBuckets = 2, keepVersions = 10)
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a2", 2L)), dir, Seq("id"), "v",
      nBuckets = 2, keepVersions = 10)
    val before = snapSet(dir)
    val old = System.currentTimeMillis() - 24 * 3_600_000L
    def seed(path: String, body: String = "junk"): java.io.File = {
      val f = new java.io.File(s"$dir/$path")
      f.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(f, "UTF-8"); w.print(body); w.close()
      f
    }
    // (a) abandoned staging dir from a crashed writer, (b) pre-format
    // tmp manifest, (c) torn manifest — all OLD; (d) a FRESH staging
    // dir standing in for a live writer's in-flight attempt
    val a = seed("batches/v7-dead00/kb=0/part-junk.parquet")
    seed("batches/v7-dead00/_SUCCESS", "")
    val b = seed("_manifests/.v7.tmp")
    val c = seed(f"_manifests/v${7L}%012d.txt", "#nbuckets=2\n0\tx.parquet")
    val d = seed("batches/v8-live00/kb=0/part-fresh.parquet")
    Seq(a, a.getParentFile, a.getParentFile.getParentFile,
      new java.io.File(s"$dir/batches/v7-dead00/_SUCCESS"), b, c)
      .foreach(f => assert(f.setLastModified(old)))
    // age the LIVE table's files too: reference protection — not mtime
    // freshness — must be what keeps them (regression pin: qualified
    // listStatus paths must match the manifests' relative references)
    def walkAge(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().foreach(walkAge)
      else assert(f.setLastModified(old))
    walkAge(new java.io.File(s"$dir/batches"))
    new java.io.File(s"$dir/batches/v8-live00/kb=0/part-fresh.parquet")
      .setLastModified(System.currentTimeMillis())
    val deleted = SnapshotUpsert.vacuum(spark, dir, olderThanMs = 3_600_000L)
    assert(!a.exists() && !a.getParentFile.getParentFile.exists(),
      "old abandoned staging dir must be swept")
    assert(!b.exists(), "old tmp manifest must be swept")
    assert(!c.exists(), "old torn manifest must be swept")
    assert(d.exists(), "fresh staging (a live writer) must be untouched")
    assert(deleted.nonEmpty)
    // the live table is fully intact, including v1's carried files
    assert(snapSet(dir) == before)
    assert(SnapshotUpsert.readVersion(spark, dir, 1L).count() == 2)
  }

  test("two full API-level writers racing: BOTH batches land (optimistic " +
      "retry-merge serializes the loser), losers leave only sweepable debris") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((100L, "seed", 1L)), dir, Seq("id"),
      "v", nBuckets = 4, keepVersions = 10)
    val start = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val committed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (0 until 2).map { i =>
      val t = new Thread(() => {
        start.await()
        try {
          SnapshotUpsert.upsertBatchSnapshot(df((i.toLong, s"w$i", 1L)), dir,
            Seq("id"), "v", nBuckets = 4, keepVersions = 10)
          committed.add(i.toLong)
        } catch { case e: RuntimeException => errors.add(e.getMessage) }
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join())
    // with optimistic retry the loser re-merges against the winner's
    // version and commits the next one: EVERY interleaving ends with
    // both writers applied, in some serial order
    assert(errors.isEmpty, s"no writer may error under retry-merge: $errors")
    assert(committed.size == 2)
    val rows = snapSet(dir)
    assert(rows == Set((100L, "seed", 1L), (0L, "w0", 1L), (1L, "w1", 1L)),
      rows.toString)
    // versions are dense and every retained one is readable
    val vs = SnapshotUpsert.versions(spark, dir)
    assert(vs == (1L to vs.last).toSeq && vs.last >= 3L, vs.toString)
    vs.foreach(v => SnapshotUpsert.readVersion(spark, dir, v).collect())
    // a loser's abandoned staging (if any) is unreferenced debris that
    // vacuum can sweep without touching the live table
    SnapshotUpsert.vacuum(spark, dir, olderThanMs = -1000L)
    assert(snapSet(dir) == rows)
  }

  test("eight writers, three batches each, all racing: every batch lands, " +
      "versions stay dense and readable, timestamps stay monotone") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1000L, "seed", 1L)), dir,
      Seq("id"), "v", nBuckets = 4, keepVersions = 40)
    val start = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 8).map { w =>
      val t = new Thread(() => {
        start.await()
        (0 until 3).foreach { b =>
          try SnapshotUpsert.upsertBatchSnapshot(
            df(((w * 10 + b).toLong, s"w$w-b$b", 1L)), dir, Seq("id"), "v",
            nBuckets = 4, keepVersions = 40, maxCommitAttempts = 64)
          catch { case e: RuntimeException => errors.add(e.getMessage); () }
        }
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join())
    assert(errors.isEmpty, s"no writer may error under retry-merge: $errors")
    val want = (for (w <- 0 until 8; b <- 0 until 3)
      yield ((w * 10 + b).toLong, s"w$w-b$b", 1L)).toSet +
      ((1000L, "seed", 1L))
    assert(snapSet(dir) == want)
    // 25 commits happened; versions are dense, each retained one is
    // readable, and commit timestamps never regress (the retry clamp)
    val vs = SnapshotUpsert.versions(spark, dir)
    assert(vs == (1L to 25L).toSeq, vs.toString)
    val hist = SnapshotUpsert.history(spark, dir)
      .orderBy("version").collect()
    val ts = hist.map(_.getLong(hist.head.fieldIndex("commit_ts_ms")))
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b },
      s"commit timestamps must be monotone: ${ts.mkString(",")}")
    vs.foreach(v => SnapshotUpsert.readVersion(spark, dir, v).collect())
    SnapshotUpsert.vacuum(spark, dir, olderThanMs = -1000L)
    assert(snapSet(dir) == want)
  }

  test("deterministic lost race: the loser re-merges the winner's rows and " +
      "commits the next version — linearizable against either order") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((100L, "seed", 1L)), dir, Seq("id"),
      "v", nBuckets = 4, keepVersions = 10)
    // a primitive that, at writer A's FIRST commit point, lets a full
    // competing writer B commit the same version number first — so A
    // deterministically loses once and must retry-merge
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sabotage = new SnapshotUpsert.CommitPrimitive {
      override def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
          target: Path, bytes: Array[Byte]): Boolean = {
        if (fired.compareAndSet(false, true))
          SnapshotUpsert.upsertBatchSnapshot(df((2L, "writerB", 5L)), dir,
            Seq("id"), "v", nBuckets = 4, keepVersions = 10)
        SnapshotUpsert.CreateExclusive.createExclusive(fs, target, bytes)
      }
    }
    // writer A updates the SAME key B writes, with a higher order value:
    // the retry must re-merge against B's committed row and win it
    SnapshotUpsert.upsertBatchSnapshot(df((2L, "writerA", 9L), (3L, "x", 1L)),
      dir, Seq("id"), "v", nBuckets = 4, keepVersions = 10, commit = sabotage)
    // linearizable final content: B then A (A's key-2 row has higher v)
    assert(snapSet(dir) ==
      Set((100L, "seed", 1L), (2L, "writerA", 9L), (3L, "x", 1L)))
    // exactly three commits: seed, B's v2, A's retried v3
    assert(SnapshotUpsert.versions(spark, dir) == Seq(1L, 2L, 3L))
    // B's intermediate version is itself consistent (time travel)
    assert(SnapshotUpsert.readVersion(spark, dir, 2L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ==
      Set((100L, "seed", 1L), (2L, "writerB", 5L)))
    // A's abandoned v2 staging is unreferenced debris vacuum sweeps
    val swept = SnapshotUpsert.vacuum(spark, dir, olderThanMs = -1000L)
    assert(swept.exists(_.startsWith("batches/v2-")),
      s"the lost attempt's staging must be sweepable: $swept")
    assert(snapSet(dir) ==
      Set((100L, "seed", 1L), (2L, "writerA", 9L), (3L, "x", 1L)))
  }

  test("gc tolerates a racing gc's deletions: a vanished DROPPED manifest " +
      "is already-reaped work; a vanished RETAINED manifest aborts cleanly") {
    val dir = tmp()
    val (root, fs) = hfs(dir)
    // accumulate versions with wide retention
    (1L to 6L).foreach { i =>
      SnapshotUpsert.upsertBatchSnapshot(df((i, s"s$i", i)), dir, Seq("id"),
        "v", nBuckets = 4, keepVersions = 10)
    }
    // simulate the racing writer having already reaped v1: delete its
    // manifest out from under the next commit's gc (which will list it
    // as beyond the tightened window and then find it missing)
    fs.delete(new Path(dir, f"_manifests/v${1L}%012d.txt"), false)
    SnapshotUpsert.upsertBatchSnapshot(df((7L, "s7", 7L)), dir, Seq("id"),
      "v", nBuckets = 4, keepVersions = 2, keepAgeMs = Some(0L))
    // the commit succeeded and the table is fully readable
    assert(snapSet(dir).size == 7)
    assert(SnapshotUpsert.versions(spark, dir).nonEmpty)

    // a manifest missing from INSIDE the retention window (deleted
    // before the next commit even lists): the commit succeeds, later
    // versions stay fully readable (they carry the missing version's
    // files BY REFERENCE in their own manifests — content never
    // depended on the vanished manifest), and gc never deletes a file
    // a surviving manifest references. (The between-list-and-read
    // race, where gc aborts on a vanished RETAINED manifest, is not
    // reachable from outside — the Option-memo path covers it.)
    val dir2 = tmp()
    val (_, fs2) = hfs(dir2)
    (1L to 4L).foreach { i =>
      SnapshotUpsert.upsertBatchSnapshot(df((i, s"s$i", i)), dir2, Seq("id"),
        "v", nBuckets = 4, keepVersions = 10)
    }
    val before = SnapshotUpsert.readVersion(spark, dir2, 4L).count()
    fs2.delete(new Path(dir2, f"_manifests/v${3L}%012d.txt"), false)
    SnapshotUpsert.upsertBatchSnapshot(df((5L, "s5", 5L)), dir2, Seq("id"),
      "v", nBuckets = 4, keepVersions = 3)
    assert(snapSet(dir2).size == 5)
    assert(SnapshotUpsert.readVersion(spark, dir2, 4L).count() == before,
      "carried references must keep later versions whole")
  }

  test("maxCommitAttempts bounds the retry: a primitive that always loses " +
      "surfaces ConcurrentCommitException after the budget") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "seed", 1L)), dir, Seq("id"),
      "v", nBuckets = 4, keepVersions = 10)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val alwaysLoses = new SnapshotUpsert.CommitPrimitive {
      override def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
          target: Path, bytes: Array[Byte]): Boolean = {
        calls.incrementAndGet(); false
      }
    }
    intercept[SnapshotUpsert.ConcurrentCommitException] {
      SnapshotUpsert.upsertBatchSnapshot(df((2L, "b", 1L)), dir, Seq("id"),
        "v", nBuckets = 4, keepVersions = 10, maxCommitAttempts = 3,
        commit = alwaysLoses)
    }
    assert(calls.get() == 3, s"exactly maxCommitAttempts tries: ${calls.get()}")
    // nothing committed; the table is untouched
    assert(snapSet(dir) == Set((1L, "seed", 1L)))
    assert(SnapshotUpsert.versions(spark, dir) == Seq(1L))
  }

  test("a mock object-store conditional put (If-None-Match semantics) " +
      "drives the same commit protocol: precondition failure = lost race") {
    // simulates a store whose create is NOT atomic but whose PUT takes
    // a precondition: the put itself is tmp-write + putIfAbsent on a
    // shared key set + rename, failing (false) when the key was taken
    val taken = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val puts = new java.util.concurrent.atomic.AtomicInteger(0)
    val conditionalPut = new SnapshotUpsert.CommitPrimitive {
      override def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
          target: Path, bytes: Array[Byte]): Boolean = {
        puts.incrementAndGet()
        if (!taken.add(target.toString)) return false // 412 Precondition Failed
        val tmp = new Path(target.getParent, s".${target.getName}.put")
        val out = fs.create(tmp, true)
        try out.write(bytes) finally out.close()
        fs.rename(tmp, target)
        true
      }
    }
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L)), dir, Seq("id"), "v",
      nBuckets = 4, keepVersions = 10, commit = conditionalPut)
    SnapshotUpsert.upsertBatchSnapshot(df((2L, "b", 1L)), dir, Seq("id"), "v",
      nBuckets = 4, keepVersions = 10, commit = conditionalPut)
    assert(snapSet(dir) == Set((1L, "a", 1L), (2L, "b", 1L)))
    assert(SnapshotUpsert.versions(spark, dir) == Seq(1L, 2L))
    // a deterministic race THROUGH the conditional put: at writer A's
    // commit point a competitor fully commits v3 via the same
    // primitive, so A's put hits the taken key (precondition failure),
    // loses, re-merges, and lands on v4
    val raced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val racingPut = new SnapshotUpsert.CommitPrimitive {
      override def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
          target: Path, bytes: Array[Byte]): Boolean = {
        if (raced.compareAndSet(false, true))
          SnapshotUpsert.upsertBatchSnapshot(df((9L, "competitor", 1L)), dir,
            Seq("id"), "v", nBuckets = 4, keepVersions = 10,
            commit = conditionalPut)
        conditionalPut.createExclusive(fs, target, bytes)
      }
    }
    val putsBefore = puts.get()
    SnapshotUpsert.upsertBatchSnapshot(df((3L, "c", 1L)), dir, Seq("id"), "v",
      nBuckets = 4, keepVersions = 10, commit = racingPut)
    assert(puts.get() - putsBefore == 3,
      "competitor put + lost put + retried put must all go through the mock")
    assert(snapSet(dir) == Set((1L, "a", 1L), (2L, "b", 1L),
      (9L, "competitor", 1L), (3L, "c", 1L)))
    assert(SnapshotUpsert.versions(spark, dir) == Seq(1L, 2L, 3L, 4L))
  }

  test("case-variant reserved columns are rejected BEFORE any side effect " +
      "(no layout pin, no schema marker from an invalid first batch)") {
    val dir = tmp()
    val bad = df((1L, "a", 1L)).withColumn("KB", lit(9))
    val e1 = intercept[IllegalArgumentException] {
      SnapshotUpsert.upsertBatchSnapshot(bad, dir, Seq("id"), "v",
        nBuckets = 64)
    }
    // Spark resolution is case-insensitive: withColumn("kb") would
    // silently REPLACE the KB data column, so "KB" must be refused
    assert(e1.getMessage.contains("reserved"), e1.getMessage)
    assert(!new java.io.File(s"$dir/_graft_buckets").exists(),
      "a rejected first batch must not pin the table layout")
    assert(!new java.io.File(s"$dir/_graft_schema").exists(),
      "a rejected first batch must not record a schema")
    assert(SnapshotUpsert.versions(spark, dir).isEmpty,
      "a rejected first batch must not commit a version")
    // the corrected batch can then use ANY bucket count
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L)), dir, Seq("id"),
      "v", nBuckets = 8)
    assert(snapSet(dir) == Set((1L, "a", 1L)))
  }

  test("diffImages collision avoidance is case-insensitive (__OLD_k data " +
      "column)") {
    import spark.implicits._
    val newImg = Seq((1L, "n1", "x"), (2L, "n2", "y")).toDF("k", "val", "__OLD_k")
    val oldImg = Seq((1L, "n1", "x"), (3L, "n3", "z")).toDF("k", "val", "__OLD_k")
    val out = SnapshotUpsert.diffImages(newImg, oldImg, Seq("k"),
      emitDeletes = true).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSet
    assert(out == Set((2L, "n2", "insert"), (3L, "n3", "delete")))
  }

  // --------------------------------------------------------- arrival order

  test("orderCol=\"\" merges in arrival order: incoming always replaces, " +
      "no data column needed") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "first", 9L)), dir, Seq("id"),
      orderCol = "", nBuckets = 4, keepVersions = 10)
    // the incoming row wins even though its v is LOWER
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "second", 3L)), dir, Seq("id"),
      orderCol = "", nBuckets = 4, keepVersions = 10)
    assert(snapSet(dir) == Set((1L, "second", 3L)))
  }

  test("the default primitive is O_EXCL on local filesystems: exclusive " +
      "against files created by a foreign process, no JVM lock involved") {
    val (root, fs) = hfs(tmp())
    val t1 = new Path(root, "m1.txt")
    // direct primitive calls — deliberately NOT through the commit
    // path, so the in-JVM lock plays no part in what this asserts
    assert(SnapshotUpsert.CreateExclusive.createExclusive(
      fs, t1, "alpha".getBytes("UTF-8")))
    assert(!SnapshotUpsert.CreateExclusive.createExclusive(
      fs, t1, "beta".getBytes("UTF-8")),
      "a second create of the same target must lose")
    assert(SnapshotUpsert.readFully(fs, t1) == "alpha",
      "the loser must not tear the winner's content")
    // a file created by a FOREIGN process (simulated with raw NIO,
    // outside any Hadoop or commit-lock machinery) must also win
    val t2 = new Path(root, "m2.txt")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t2.toUri.getPath), "theirs".getBytes("UTF-8"))
    assert(!SnapshotUpsert.CreateExclusive.createExclusive(
      fs, t2, "mine".getBytes("UTF-8")))
    assert(SnapshotUpsert.readFully(fs, t2) == "theirs")
    // the link-commit leaves no temp debris on the success or loss
    // paths, and a crashed writer's orphan .tmp is vacuum's to sweep
    val mdir = java.nio.file.Paths.get(root.toUri.getPath)
    val leftovers = java.nio.file.Files.list(mdir).iterator()
    val names = scala.collection.mutable.Buffer.empty[String]
    while (leftovers.hasNext) names += leftovers.next().getFileName.toString
    assert(names.toSet == Set("m1.txt", "m2.txt"),
      s"no .tmp debris after commits: $names")
    // and the checksummed local reader accepts sidecar-less manifests:
    // a table whose every commit went through the NIO path reads back
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L)), dir, Seq("id"),
      "v", nBuckets = 4)
    SnapshotUpsert.upsertBatchSnapshot(df((2L, "b", 2L)), dir, Seq("id"),
      "v", nBuckets = 4)
    assert(snapSet(dir) == Set((1L, "a", 1L), (2L, "b", 2L)))
    // a crashed writer's orphan temp in _manifests is swept by vacuum
    // once past the horizon (it matches the .v*.tmp debris pattern)
    val orphan = java.nio.file.Paths.get(
      new Path(dir, "_manifests/.v000000000009.txt.dead.tmp").toUri.getPath)
    java.nio.file.Files.write(orphan, "dead".getBytes("UTF-8"))
    val swept = SnapshotUpsert.vacuum(spark, dir, olderThanMs = -1000)
    assert(swept.exists(_.endsWith(".v000000000009.txt.dead.tmp")),
      s"vacuum must sweep manifest temp debris: $swept")
    assert(snapSet(dir) == Set((1L, "a", 1L), (2L, "b", 2L)))
  }
}
