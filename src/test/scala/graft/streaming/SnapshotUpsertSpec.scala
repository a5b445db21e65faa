package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

class SnapshotUpsertSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-snap").toString

  private def df(rows: (Long, String, Long)*) = {
    import spark.implicits._
    rows.toDF("id", "status", "v")
  }

  private def snapSet(dir: String): Set[(Long, String, Long)] =
    SnapshotUpsert.readSnapshot(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  private def versionSet(dir: String, v: Long): Set[(Long, String, Long)] =
    SnapshotUpsert.readVersion(spark, dir, v).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  private def manifestFiles(dir: String, v: Long): Map[Int, Seq[String]] = {
    val lines = scala.io.Source.fromFile(
      f"$dir/_manifests/v$v%012d.txt", "UTF-8").getLines().toVector
    lines.filterNot(l => l.isEmpty || l.startsWith("#") ||
        l.startsWith("S\t") ||
        l.startsWith("L\t") || l.startsWith("V\t"))
      .map { l => val Array(b, rel) = l.split('\t'); b.toInt -> rel }
      .groupBy(_._1).map { case (b, fs0) => b -> fs0.map(_._2).toSeq }
  }

  test("merge semantics across a batch sequence: latest version per key " +
      "wins, incoming beats existing on a tie, a stale version is rejected") {
    val dir = tmp()
    // update key 1 at a HIGHER version, re-state key 2 at the SAME
    // version with different payload (the incoming row must win), then
    // a STALE version of key 1 that must not regress the row
    Seq(
      df((1L, "new", 1L), (2L, "new", 1L)),
      df((1L, "fixed", 2L), (2L, "revised", 1L), (3L, "new", 1L)),
      df((1L, "stale", 1L), (4L, "new", 1L))
    ).foreach(b =>
      SnapshotUpsert.upsertBatchSnapshot(b, dir, Seq("id"), "v", nBuckets = 8))
    assert(snapSet(dir) == Set((1L, "fixed", 2L), (2L, "revised", 1L),
      (3L, "new", 1L), (4L, "new", 1L)))
  }

  test("untouched buckets are carried forward BY REFERENCE, not rewritten") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(
      df((0L to 63L).map(i => (i, "seed", 1L)): _*), dir, Seq("id"), "v",
      nBuckets = 8)
    val v1 = manifestFiles(dir, 1L)
    assert(v1.size == 8, s"all 8 buckets seeded: ${v1.keySet}")
    // one key -> one touched bucket; the other 7 buckets' manifest
    // entries must be the SAME physical files as v1's
    SnapshotUpsert.upsertBatchSnapshot(df((5L, "upd", 2L)), dir,
      Seq("id"), "v", nBuckets = 8)
    val v2 = manifestFiles(dir, 2L)
    val touchedKb = df((5L, "x", 1L))
      .select(SnapshotUpsert.bucketOf(Seq("id"), 8)).head().getInt(0)
    assert(v2(touchedKb) != v1(touchedKb))
    assert(v2(touchedKb).forall(_.startsWith("batches/v2-")))
    (v1.keySet - touchedKb).foreach(b => assert(v2(b) == v1(b),
      s"bucket $b should be carried by reference"))
    assert(snapSet(dir).contains((5L, "upd", 2L)))
  }

  test("time travel: prior versions stay readable within the retention window") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L), (2L, "b", 1L)),
      dir, Seq("id"), "v", nBuckets = 4)
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a2", 2L)),
      dir, Seq("id"), "v", nBuckets = 4)
    assert(SnapshotUpsert.versions(spark, dir) == Seq(1L, 2L))
    assert(versionSet(dir, 1L) == Set((1L, "a", 1L), (2L, "b", 1L)))
    assert(versionSet(dir, 2L) == Set((1L, "a2", 2L), (2L, "b", 1L)))
  }

  test("a reader pinned to an old version survives a concurrent commit") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L), (2L, "b", 1L)),
      dir, Seq("id"), "v", nBuckets = 4)
    // pin the plan (NOT collected yet) to version 1's file list
    val pinned = SnapshotUpsert.readVersion(spark, dir, 1L)
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a2", 2L), (2L, "b2", 2L)),
      dir, Seq("id"), "v", nBuckets = 4)
    // the commit rewrote both buckets, but v1's files are immutable and
    // retained (keepVersions=2): the pinned reader sees a consistent
    // point-in-time snapshot, not a torn or failing read
    assert(pinned.collect().map(r => (r.getLong(0), r.getString(1)))
      .toSet == Set((1L, "a"), (2L, "b")))
  }

  test("crash before the manifest rename is invisible and the replay converges") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L), (2L, "b", 1L)),
      dir, Seq("id"), "v", nBuckets = 4)
    val before = snapSet(dir)
    // simulate: batch v2's data files fully written, manifest never
    // committed (the only multi-file window in the commit path)
    val b2 = df((1L, "a2", 2L), (3L, "c", 1L))
    b2.withColumn("kb", SnapshotUpsert.bucketOf(Seq("id"), 4))
      .write.partitionBy("kb").parquet(s"$dir/batches/v2-deadbeef")
    assert(snapSet(dir) == before, "uncommitted files must be invisible")
    assert(SnapshotUpsert.versions(spark, dir) == Seq(1L))
    // the streaming replay re-runs the SAME batch: it must reclaim the
    // orphaned v2 directory and commit cleanly
    SnapshotUpsert.upsertBatchSnapshot(b2, dir, Seq("id"), "v", nBuckets = 4)
    assert(snapSet(dir) ==
      Set((1L, "a2", 2L), (2L, "b", 1L), (3L, "c", 1L)))
  }

  test("replay after a committed batch is idempotent in content") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L)), dir, Seq("id"), "v")
    val b2 = df((1L, "a2", 2L), (2L, "b", 1L))
    SnapshotUpsert.upsertBatchSnapshot(b2, dir, Seq("id"), "v")
    val after = snapSet(dir)
    SnapshotUpsert.upsertBatchSnapshot(b2, dir, Seq("id"), "v")
    assert(snapSet(dir) == after)
  }

  test("GC deletes exactly the files only dropped versions reference") {
    val dir = tmp()
    def liveFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/batches"))
        .filter(_.getName.endsWith(".parquet"))
        .map(_.getPath.stripPrefix(s"$dir/")).toSet
    }
    SnapshotUpsert.upsertBatchSnapshot(
      df((0L to 15L).map(i => (i, "seed", 1L)): _*), dir, Seq("id"), "v",
      nBuckets = 4, keepVersions = 2)
    val v1Files = manifestFiles(dir, 1L)
    SnapshotUpsert.upsertBatchSnapshot(df((5L, "u2", 2L)), dir,
      Seq("id"), "v", nBuckets = 4, keepVersions = 2)
    SnapshotUpsert.upsertBatchSnapshot(df((5L, "u3", 3L)), dir,
      Seq("id"), "v", nBuckets = 4, keepVersions = 2)
    // v1 dropped: its touched-bucket file (superseded at v2) must be
    // gone, its carried files (still referenced by v2/v3) must survive
    assert(SnapshotUpsert.versions(spark, dir) == Seq(2L, 3L))
    val touchedKb = df((5L, "x", 1L))
      .select(SnapshotUpsert.bucketOf(Seq("id"), 4)).head().getInt(0)
    val superseded = v1Files(touchedKb).toSet
    val carried = (v1Files - touchedKb).values.flatten.toSet
    val live = liveFiles()
    assert(superseded.forall(!live.contains(_)),
      s"superseded files must be GC'd: ${superseded.intersect(live)}")
    assert(carried.forall(live.contains),
      s"carried files must survive: ${carried.diff(live)}")
    assert(!new java.io.File(f"$dir/_manifests/v${1L}%012d.txt").exists())
    // content intact across the GC
    assert(snapSet(dir).contains((5L, "u3", 3L)))
    assert(snapSet(dir).size == 16)
  }

  test("longevity: 30 commits hold file count, manifests, and disk flat " +
      "(GC keeps pace with the stream)") {
    val dir = tmp()
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    // steady drip of single-key updates — the long-running stream shape
    (1L to 30L).foreach { v =>
      SnapshotUpsert.upsertBatchSnapshot(df((v % 5, s"v$v", v)), dir,
        Seq("id"), "v", nBuckets = 4, keepVersions = 2)
    }
    assert(SnapshotUpsert.versions(spark, dir) == Seq(29L, 30L),
      "manifest retention must hold exactly keepVersions entries")
    assert(SnapshotUpsert.readSnapshot(spark, dir).count() == 5)
    // THE no-leak invariant: the parquet files on disk are EXACTLY the
    // files the retained manifests reference — nothing referenced is
    // missing, and nothing unreferenced survives 30 commits of GC.
    // (An old version's directory may legitimately persist while a
    // retained manifest still carries one of its bucket files.)
    val livePaths = walk(new java.io.File(s"$dir/batches"))
      .filter(_.getName.endsWith(".parquet"))
      .map(_.getPath.stripPrefix(s"$dir/")).toSet
    val referenced = Seq(29L, 30L)
      .flatMap(v => manifestFiles(dir, v).values.flatten).toSet
    assert(livePaths == referenced,
      s"leaked=${livePaths.diff(referenced)} missing=${referenced.diff(livePaths)}")
  }

  test("merging with a different nBuckets than the table layout is refused") {
    // the bucket is a function of nBuckets: a mismatched merge would
    // leave each key's old row in a bucket it neither reads nor
    // rewrites — duplicate keys with NO error. The head manifest's
    // recorded layout pins the count.
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L)), dir, Seq("id"), "v",
      nBuckets = 8)
    val e = intercept[IllegalArgumentException] {
      SnapshotUpsert.upsertBatchSnapshot(df((1L, "b", 2L)), dir,
        Seq("id"), "v", nBuckets = 16)
    }
    assert(e.getMessage.contains("nBuckets=8"))
    // the same count still merges
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "b", 2L)), dir, Seq("id"), "v",
      nBuckets = 8)
    assert(snapSet(dir) == Set((1L, "b", 2L)))
  }

  test("the input batch is evaluated exactly once when merging into a populated table") {
    val acc = spark.sparkContext.longAccumulator("snap-evals")
    val counted = udf { (s: String) => acc.add(1L); s }.asNondeterministic()
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((10L, "seed", 1L)), dir,
      Seq("id"), "v", nBuckets = 8)
    SnapshotUpsert.upsertBatchSnapshot(
      df((1L, "a", 1L), (2L, "b", 1L)).withColumn("status",
        counted(col("status"))),
      dir, Seq("id"), "v", nBuckets = 8)
    assert(acc.value == 2L,
      s"2-row incremental batch evaluated ${acc.value / 2.0}x")
  }

  test("write clustering: every bucket holds exactly ONE file after any merge") {
    val dir = tmp()
    // repeated merges into the same buckets must not drift into a
    // small-files table: each touched bucket is staged as a single
    // clustered file regardless of shuffle partitioning
    (1L to 5L).foreach { v =>
      SnapshotUpsert.upsertBatchSnapshot(df((5L, s"v$v", v), (100L + v, "other", 1L)),
        dir, Seq("id"), "v", nBuckets = 4)
    }
    val filesPerBucket = manifestFiles(dir, 5L).map { case (b, fs0) => b -> fs0.size }
    assert(filesPerBucket.nonEmpty && filesPerBucket.values.forall(_ == 1),
      s"one file per bucket expected: $filesPerBucket")
    assert(snapSet(dir) ==
      ((1L to 5L).map(v => (100L + v, "other", 1L)).toSet + ((5L, "v5", 5L))))
  }

  test("reserved columns in the batch are rejected, not clobbered") {
    // __rn in particular would otherwise be silently REPLACED by the
    // merge's row_number and come out as all-1s in the table; __old and
    // _change are reserved so any upsert table stays change-feed-safe
    for (reserved <- Seq("kb", "__src", "__rn", "__old", "_change")) {
      val bad = df((1L, "a", 1L)).withColumn(reserved, lit(9))
      val e = intercept[IllegalArgumentException] {
        SnapshotUpsert.upsertBatchSnapshot(bad, tmp(), Seq("id"), "v", nBuckets = 8)
      }
      assert(e.getMessage.contains("reserved"), s"$reserved: ${e.getMessage}")
    }
  }

  test("the merge scan PRUNES to the touched buckets (partition filter, not a full read)") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(
      df((0L to 63L).map(i => (i, "seed", 1L)): _*), dir, Seq("id"), "v",
      nBuckets = 8)
    assert(manifestFiles(dir, 1L).size == 8, "all 8 buckets seeded")
    // every record a task reads from a file during a one-key merge: the
    // merge scan and the commit's stats pass over the staged slice
    val recordsRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          recordsRead.addAndGet(m.inputMetrics.recordsRead))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SnapshotUpsert.upsertBatchSnapshot(df((5L, "upd", 2L)), dir,
        Seq("id"), "v", nBuckets = 8)
      org.apache.spark.graftspark.ListenerDrain.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(recordsRead.get > 0L && recordsRead.get < 64L,
      s"the merge read ${recordsRead.get} records of a 64-row table")
    assert(snapSet(dir).contains((5L, "upd", 2L)))
  }

  test("change feed: inserts and updates between versions, unchanged co-located rows filtered") {
    val dir = tmp()
    // nBuckets=1 forces EVERY key into one bucket, so each merge
    // rewrites rows whose keys did not change — the change feed must
    // still report only the logically changed rows
    SnapshotUpsert.upsertBatchSnapshot(
      df((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)), dir, Seq("id"), "v",
      nBuckets = 1, keepVersions = 10)
    SnapshotUpsert.upsertBatchSnapshot(
      df((1L, "a2", 2L), (4L, "d", 1L)), dir, Seq("id"), "v",
      nBuckets = 1, keepVersions = 10)
    SnapshotUpsert.upsertBatchSnapshot(
      df((2L, "b", 2L)), dir, Seq("id"), "v", nBuckets = 1, keepVersions = 10)
    def changes(from: Long, to: Long): Set[(Long, String, Long, String)] =
      SnapshotUpsert.changesBetween(spark, dir, from, to, Seq("id")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
        .toSet
    assert(changes(1L, 2L) ==
      Set((1L, "a2", 2L, "update"), (4L, "d", 1L, "insert")))
    // version-skipping diff composes the intervening merges
    assert(changes(1L, 3L) == Set((1L, "a2", 2L, "update"),
      (4L, "d", 1L, "insert"), (2L, "b", 2L, "update")))
    assert(changes(2L, 3L) == Set((2L, "b", 2L, "update")))
  }

  test("change feed matches null keys null-safely (no spurious inserts on bucket rewrites)") {
    import spark.implicits._
    val dir = tmp()
    // nullable string key; the merge stores a null-keyed row like any
    // other (bucketOf hashes it, the window groups it)
    def kdf(rows: (Option[String], String, Long)*) =
      rows.toDF("k", "status", "v").select(
        col("k"), col("status"), col("v"))
    SnapshotUpsert.upsertBatchSnapshot(
      kdf((None, "null-key", 1L), (Some("a"), "x", 1L)), dir, Seq("k"), "v",
      nBuckets = 1, keepVersions = 10)
    // rewrite the bucket WITHOUT touching the null-keyed row
    SnapshotUpsert.upsertBatchSnapshot(kdf((Some("a"), "x2", 2L)), dir,
      Seq("k"), "v", nBuckets = 1, keepVersions = 10)
    def changes(from: Long, to: Long) =
      SnapshotUpsert.changesBetween(spark, dir, from, to, Seq("k")).collect()
        .map(r => (Option(r.getString(0)), r.getString(1), r.getString(3)))
        .toSet
    assert(changes(1L, 2L) == Set((Some("a"), "x2", "update")),
      "the unchanged null-keyed row must NOT be re-reported as an insert")
    // a genuine update to the null-keyed row IS reported as an update
    SnapshotUpsert.upsertBatchSnapshot(kdf((None, "null-key2", 2L)), dir,
      Seq("k"), "v", nBuckets = 1, keepVersions = 10)
    assert(changes(2L, 3L) == Set((None, "null-key2", "update")))
  }

  test("keepVersions below 2 is refused (a pinned reader must survive the next GC)") {
    val e = intercept[IllegalArgumentException] {
      SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L)), tmp(),
        Seq("id"), "v", nBuckets = 4, keepVersions = 1)
    }
    assert(e.getMessage.contains("keepVersions"))
  }

  test("change feed reads only the buckets the manifests disagree on") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(
      df((0L to 63L).map(i => (i, "seed", 1L)): _*), dir, Seq("id"), "v",
      nBuckets = 8, keepVersions = 10)
    SnapshotUpsert.upsertBatchSnapshot(df((5L, "upd", 2L)), dir,
      Seq("id"), "v", nBuckets = 8, keepVersions = 10)
    val feed = SnapshotUpsert.changesBetween(spark, dir, 1L, 2L, Seq("id"))
    // 1 of 8 buckets changed: the feed must read only that bucket's
    // file from each side, never the carried 7
    val scanned = feed.inputFiles.toSet
    assert(scanned.size == 2,
      s"expected 2 files (one per side), scanned ${scanned.size}: $scanned")
    assert(feed.collect().map(r => (r.getLong(0), r.getString(3))).toSet ==
      Set((5L, "update")))
  }

  test("rebucket: new layout commits atomically, old count refused, content preserved") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(
      df((0L to 63L).map(i => (i, "seed", 1L)): _*), dir, Seq("id"), "v",
      nBuckets = 4, keepVersions = 10)
    val before = snapSet(dir)
    SnapshotUpsert.rebucket(spark, dir, 16, Seq("id"), keepVersions = 10)
    assert(snapSet(dir) == before, "rebucket must not change content")
    val v2dir = new java.io.File(s"$dir/batches").listFiles()
      .find(_.getName.startsWith("v2-")).get
    assert(v2dir.listFiles()
      .count(_.getName.startsWith("kb=")) > 4, "rows re-hashed into new layout")
    // the old count is now refused, the new count merges
    val e = intercept[IllegalArgumentException] {
      SnapshotUpsert.upsertBatchSnapshot(df((1L, "x", 2L)), dir,
        Seq("id"), "v", nBuckets = 4, keepVersions = 10)
    }
    assert(e.getMessage.contains("rebucket"), e.getMessage)
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "x", 2L)), dir,
      Seq("id"), "v", nBuckets = 16, keepVersions = 10)
    assert(snapSet(dir).contains((1L, "x", 2L)))
    // pre-rebucket version stays time-travel-readable in its own layout
    assert(versionSet(dir, 1L) == before)
    // a pure rebucket changes NO rows: the change feed across it is empty
    assert(SnapshotUpsert.changesBetween(spark, dir, 1L, 2L, Seq("id"))
      .count() == 0L)
    // a CROSS-LAYOUT diff with real changes (v1 @4 buckets vs v3 @16
    // after the merge) reports exactly the changed row with the right
    // label — bucket-number pruning must not leak across layouts
    assert(SnapshotUpsert.changesBetween(spark, dir, 1L, 3L, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(3)))
      .toSet == Set((1L, "x", "update")))
  }

  test("additive schema evolution: appended column commits atomically, " +
      "old rows read NULL, drops and type changes refused") {
    import spark.implicits._
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L), (2L, "b", 1L)),
      dir, Seq("id"), "v", nBuckets = 2, keepVersions = 10)
    // v2 appends a `score` column, touching only key 1's bucket
    SnapshotUpsert.upsertBatchSnapshot(
      Seq((1L, "a2", 2L, 0.9)).toDF("id", "status", "v", "score"),
      dir, Seq("id"), "v", nBuckets = 2, keepVersions = 10)
    val snap = SnapshotUpsert.readSnapshot(spark, dir)
    assert(snap.columns.toSeq == Seq("id", "status", "v", "score"))
    val rows = snap.collect().map(r =>
      (r.getLong(0), r.getString(1), if (r.isNullAt(3)) None
       else Some(r.getDouble(3)))).toSet
    // key 2's row lives in a PRE-evolution file: score reads as NULL
    assert(rows == Set((1L, "a2", Some(0.9)), (2L, "b", None)))
    // time travel: v1 keeps its own (narrower) schema
    assert(SnapshotUpsert.readVersion(spark, dir, 1L).columns.toSeq ==
      Seq("id", "status", "v"))
    // the feed across the evolution reports only the genuinely changed key
    assert(SnapshotUpsert.changesBetween(spark, dir, 1L, 2L, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(4))).toSet ==
      Set((1L, "update")))
    // a later batch MISSING an existing column is refused (full upserts)
    val miss = intercept[RuntimeException] {
      SnapshotUpsert.upsertBatchSnapshot(df((3L, "c", 1L)), dir,
        Seq("id"), "v", nBuckets = 2, keepVersions = 10)
    }
    assert(miss.getMessage.contains("score"), miss.getMessage)
    // a type change on an existing column is refused
    val tc = intercept[IllegalArgumentException] {
      SnapshotUpsert.upsertBatchSnapshot(
        Seq((3L, "c", 1L, "high")).toDF("id", "status", "v", "score"),
        dir, Seq("id"), "v", nBuckets = 2, keepVersions = 10)
    }
    assert(tc.getMessage.contains("type changed"), tc.getMessage)
    // merging WITH the full evolved schema works, old rows still intact
    SnapshotUpsert.upsertBatchSnapshot(
      Seq((3L, "c", 1L, 0.5)).toDF("id", "status", "v", "score"),
      dir, Seq("id"), "v", nBuckets = 2, keepVersions = 10)
    assert(SnapshotUpsert.readSnapshot(spark, dir).count() == 3)
    // rebucket carries the evolved schema through the layout change
    SnapshotUpsert.rebucket(spark, dir, 8, Seq("id"), keepVersions = 10)
    val after = SnapshotUpsert.readSnapshot(spark, dir)
    assert(after.columns.toSeq == Seq("id", "status", "v", "score"))
    assert(after.count() == 3)
  }

  test("array/map columns survive the manifest DDL round-trip (repeated merges accepted)") {
    import spark.implicits._
    // toDDL drops containsNull=false from ARRAY types; the evolution
    // check must compare nullability-normalized types or the SECOND
    // merge of the same pipeline is refused as "type changed" forever
    val dir = tmp()
    def b(rows: (Long, Seq[Long], Long)*) = rows.toDF("id", "tags", "v")
    SnapshotUpsert.upsertBatchSnapshot(b((1L, Seq(1L, 2L), 1L)), dir,
      Seq("id"), "v", nBuckets = 4)
    SnapshotUpsert.upsertBatchSnapshot(b((1L, Seq(3L), 2L), (2L, Seq(), 1L)),
      dir, Seq("id"), "v", nBuckets = 4)
    val rows = SnapshotUpsert.readSnapshot(spark, dir).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSet
    assert(rows == Set((1L, Seq(3L), 2L), (2L, Seq(), 1L)))
    // case-variant column names are refused with a clear message
    val e = intercept[IllegalArgumentException] {
      SnapshotUpsert.upsertBatchSnapshot(
        Seq((3L, Seq(4L), 1L)).toDF("id", "TAGS", "v"), dir,
        Seq("id"), "v", nBuckets = 4)
    }
    assert(e.getMessage.contains("case"), e.getMessage)
  }

  test("real-data drive: incremental snapshot merges equal the one-shot merge") {
    val all = graft.queries.QueryDef.loadEvents(spark, sf)
    def proj(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_type"), col("ts"))
    val (first, second) = (proj(all.where(col("event_id") % 2 === 0)),
      proj(all.where(col("event_id") % 2 === 1)))
    val incDir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(first, incDir, Seq("user_id"), "ts",
      nBuckets = 16)
    SnapshotUpsert.upsertBatchSnapshot(second, incDir, Seq("user_id"), "ts",
      nBuckets = 16)
    val oneDir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(proj(all), oneDir, Seq("user_id"), "ts",
      nBuckets = 16)
    val inc = SnapshotUpsert.readSnapshot(spark, incDir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(2))).toMap
    val one = SnapshotUpsert.readSnapshot(spark, oneDir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(2))).toMap
    assert(inc.nonEmpty && inc == one)
  }

  test("readKeys scans only the probed buckets and matches a full-scan filter") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(
      df((0L to 63L).map(i => (i, "seed", 1L)): _*), dir, Seq("id"), "v",
      nBuckets = 8)
    SnapshotUpsert.upsertBatchSnapshot(df((5L, "upd", 2L)), dir,
      Seq("id"), "v", nBuckets = 8)
    import spark.implicits._
    val lookup = Seq(5L, 17L, 99999L).toDF("id") // 99999 absent
    val got = SnapshotUpsert.readKeys(spark, dir, lookup, Seq("id"))
    val want = SnapshotUpsert.readSnapshot(spark, dir)
      .where(col("id").isin(5L, 17L)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet == want)
    assert(got.collect().map(_.getLong(0)).toSet == Set(5L, 17L))
    // pruning: the scan's files are EXACTLY the probed buckets' manifest
    // entries — strictly fewer than the full snapshot's
    val kbs = lookup.select(SnapshotUpsert.bucketOf(Seq("id"), 8).as("kb"))
      .distinct().collect().map(_.getInt(0)).toSet
    val manifest = manifestFiles(dir, 2L)
    val expectedRel = kbs.filter(manifest.contains).flatMap(manifest).toSet
    val gotFiles = got.inputFiles.toSet
    assert(gotFiles.size == expectedRel.size &&
      expectedRel.forall(rel => gotFiles.exists(_.endsWith(rel))),
      s"expected $expectedRel, scanned $gotFiles")
    assert(gotFiles.size <
      SnapshotUpsert.readSnapshot(spark, dir).inputFiles.length)
    // empty lookup: empty result, correct schema, no scan at all
    val none = SnapshotUpsert.readKeys(spark, dir,
      Seq.empty[Long].toDF("id"), Seq("id"))
    assert(none.isEmpty && none.columns.toSeq == Seq("id", "status", "v"))
  }

  test("readKeys refuses a table-scale probe at the maxProbeKeys cap " +
      "with a pointer to readSnapshot+join") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(
      df((0L to 15L).map(i => (i, "seed", 1L)): _*), dir, Seq("id"), "v",
      nBuckets = 4)
    import spark.implicits._
    val bigProbe = (0L to 9L).toDF("id")
    val e = intercept[IllegalArgumentException] {
      SnapshotUpsert.readKeys(spark, dir, bigProbe, Seq("id"),
        maxProbeKeys = 5)
    }
    assert(e.getMessage.contains("readSnapshot") &&
      e.getMessage.contains("5"), e.getMessage)
    // at the cap exactly: allowed
    assert(SnapshotUpsert.readKeys(spark, dir, (0L to 4L).toDF("id"),
      Seq("id"), maxProbeKeys = 5).count() == 5)
  }

  test("bucketCols: a key-prefix layout co-locates the prefix and merges in place") {
    val dir = tmp()
    import spark.implicits._
    val b = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 1L, 30L))
      .toDF("grp", "id", "v")
    SnapshotUpsert.upsertBatchSnapshot(b, dir, Seq("grp", "id"),
      orderCol = "", nBuckets = 8, bucketCols = Seq("grp"))
    // the whole prefix lives in ONE bucket: probing 'a' reads one file
    // and returns both of its rows
    val got = SnapshotUpsert.readKeys(spark, dir, Seq("a").toDF("grp"),
      Seq("grp"))
    assert(got.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 1L), ("a", 2L)))
    assert(got.inputFiles.length == 1)
    // a merge restating the same prefix layout updates the key in place
    SnapshotUpsert.upsertBatchSnapshot(
      Seq(("a", 1L, 99L)).toDF("grp", "id", "v"), dir, Seq("grp", "id"),
      orderCol = "", nBuckets = 8, bucketCols = Seq("grp"))
    assert(SnapshotUpsert.readKeys(spark, dir, Seq("a").toDF("grp"),
        Seq("grp")).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet ==
      Set((1L, 99L), (2L, 20L)))
    val e = intercept[IllegalArgumentException] {
      SnapshotUpsert.upsertBatchSnapshot(b, dir, Seq("grp", "id"),
        orderCol = "", nBuckets = 8, bucketCols = Seq("v"))
    }
    assert(e.getMessage.contains("subset"), e.getMessage)
    // the prefix layout is RECORDED in the manifest: a merge that
    // forgets it (or states a different one) is refused loudly instead
    // of stranding rows in buckets the layout never reads
    val forgot = intercept[IllegalArgumentException] {
      SnapshotUpsert.upsertBatchSnapshot(
        Seq(("c", 9L, 1L)).toDF("grp", "id", "v"), dir, Seq("grp", "id"),
        orderCol = "", nBuckets = 8)
    }
    assert(forgot.getMessage.contains("bucketed by (grp)"), forgot.getMessage)
    // and readKeys probing by columns other than the recorded prefix
    // is refused too
    val wrongProbe = intercept[IllegalArgumentException] {
      SnapshotUpsert.readKeys(spark, dir, Seq(1L).toDF("id"), Seq("id"))
    }
    assert(wrongProbe.getMessage.contains("bucketed by (grp)"),
      wrongProbe.getMessage)
    // r11: a probe by the FULL key (prefix + more columns) prunes by
    // the prefix and filters on everything — one posting, same file
    // set as the prefix probe
    val full = SnapshotUpsert.readKeys(spark, dir,
      Seq(("a", 1L)).toDF("grp", "id"), Seq("grp", "id"))
    assert(full.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
      Set(("a", 1L, 99L)))
    assert(full.inputFiles.toSet ==
      SnapshotUpsert.readKeys(spark, dir, Seq("a").toDF("grp"),
        Seq("grp")).inputFiles.toSet,
      "full-key probe must read exactly the prefix's pruned files")
  }

  test("readKeys matches null keys null-safely and refuses case-variant names") {
    val dir = tmp()
    import spark.implicits._
    val batch = Seq((Option(1L), "a", 1L), (Option.empty[Long], "nullrow", 1L))
      .toDF("id", "status", "v")
    SnapshotUpsert.upsertBatchSnapshot(batch, dir, Seq("id"), "v", nBuckets = 4)
    val got = SnapshotUpsert
      .readKeys(spark, dir, Seq(Option.empty[Long]).toDF("id"), Seq("id"))
      .collect()
    assert(got.map(_.getString(1)).toSeq == Seq("nullrow"))
    val e = intercept[IllegalArgumentException] {
      SnapshotUpsert.readKeys(spark, dir, Seq(1L).toDF("id"), Seq("ID"))
    }
    // refused by the recorded-layout guard (bucketCols is recorded on
    // every commit, so the case-variant probe mismatches it first);
    // the exact-name check remains behind it for unrecorded tables
    assert(e.getMessage.contains("bucketed by (id)"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      SnapshotUpsert.readKeys(spark, dir, Seq(1L).toDF("wrong"), Seq("id"))
    }
    assert(e2.getMessage.contains("lookup"), e2.getMessage)
    // a type-variant probe is refused (xxhash64 is type-sensitive: an
    // INT probe of a BIGINT key would read the wrong buckets and
    // silently return nothing)
    val e3 = intercept[IllegalArgumentException] {
      SnapshotUpsert.readKeys(spark, dir, Seq(1).toDF("id"), Seq("id"))
    }
    assert(e3.getMessage.contains("type-sensitive"), e3.getMessage)
  }
}
