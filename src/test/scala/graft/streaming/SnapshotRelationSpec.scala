package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The snapshot table as a plain Spark SQL relation
  * ([[SnapshotRelation]]): a manifest-backed FileIndex under Spark's
  * own parquet scan. Every test asserts BOTH directions: results are
  * identical to the reference reader (readSnapshot/readVersion — file
  * skipping is a performance decision, never a semantic one), and the
  * skipping actually happened (the executed scan's own `numFiles`
  * metric, or the index's kept-file decision directly). */
class SnapshotRelationSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-rel").toString

  private def df(rows: (Long, String, Long)*) = {
    import spark.implicits._
    rows.toDF("id", "status", "v")
  }

  private def asSet(d: DataFrame): Set[(Long, String, Long)] =
    d.select("id", "status", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  /** numFiles the executed scan reports — the end-to-end pruning pin.
    * AQE wraps materialized subtrees in query stages whose plans are
    * not children of the outer tree, so the walk recurses into them. */
  private def collectScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[FileSourceScanExec] =
    p.collect {
      case f: FileSourceScanExec => Seq(f)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collectScans(s.plan)
    }.flatten

  private def scannedFiles(d: DataFrame): Long = {
    d.collect()
    val plan = d.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = collectScans(plan)
    assert(scans.nonEmpty, s"no FileSourceScanExec in:\n$plan")
    scans.map(_.metrics("numFiles").value).sum
  }

  private def index(dir: String): SnapshotFileIndex = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    new SnapshotFileIndex(spark, root,
      SnapshotUpsert.currentSnapshot(fs, root).get)
  }

  private def totalFiles(dir: String): Int = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotUpsert.currentSnapshot(fs, root).get.allRefs.size
  }

  /** id -> bucket under the CURRENT layout, via the writer's expression. */
  private def bucketsOf(dir: String, ids: Seq[Long]): Set[Int] = {
    import spark.implicits._
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = SnapshotUpsert.currentSnapshot(fs, root).get
    ids.toDF("id").select(
      SnapshotUpsert.bucketOfLayout(Seq("id"), cur.nBuckets, cur.depths).as("kb"))
      .collect().map(_.getInt(0)).toSet
  }

  private def filesOfBuckets(dir: String, kbs: Set[Int]): Int = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = SnapshotUpsert.currentSnapshot(fs, root).get
    kbs.toSeq.map(b => cur.files.getOrElse(b, Seq.empty).size).sum
  }

  private def seed(dir: String, n: Int = 8): Unit = {
    SnapshotUpsert.upsertBatchSnapshot(
      df((0L until 64L).map(i => (i, s"s$i", 1L)): _*), dir, Seq("id"),
      "v", nBuckets = n, keepVersions = 10)
    // second commit exercises the merge (winners by v) and leaves some
    // buckets multi-file across staging dirs
    SnapshotUpsert.upsertBatchSnapshot(
      df((0L until 64L by 2L).map(i => (i, s"u$i", 2L)): _*), dir,
      Seq("id"), "v", nBuckets = n, keepVersions = 10)
  }

  test("the relation serves the merged image, registers for SQL, and " +
      "matches the reference reader exactly") {
    val dir = tmp()
    seed(dir)
    val rel = SnapshotRelation.readSql(spark, dir)
    assert(asSet(rel) == asSet(SnapshotUpsert.readSnapshot(spark, dir)))
    SnapshotRelation.registerSqlView(spark, "snap_rel_v", dir)
    val got = spark.sql(
      "SELECT status FROM snap_rel_v WHERE id = 6").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("u6"))
  }

  test("a key-equality predicate reads ONLY the probed bucket's files " +
      "(executed scan metric), and an IN list reads the union") {
    val dir = tmp()
    seed(dir)
    SnapshotRelation.registerSqlView(spark, "snap_rel_pt", dir)
    val total = totalFiles(dir)

    val one = spark.sql("SELECT * FROM snap_rel_pt WHERE id = 5")
    val expectOne = filesOfBuckets(dir, bucketsOf(dir, Seq(5L)))
    assert(scannedFiles(one) == expectOne && expectOne < total,
      s"expected $expectOne of $total files")
    assert(asSet(one) == Set((5L, "s5", 1L)))

    val in = spark.sql("SELECT * FROM snap_rel_pt WHERE id IN (3, 9, 12)")
    val expectIn = filesOfBuckets(dir, bucketsOf(dir, Seq(3L, 9L, 12L)))
    assert(scannedFiles(in) == expectIn && expectIn < total)
    assert(asSet(in) == Set((3L, "s3", 1L), (9L, "s9", 1L), (12L, "u12", 2L)))

    // unconstrained key: everything is read
    assert(scannedFiles(
      spark.sql("SELECT * FROM snap_rel_pt WHERE status = 's5'")) == total)

    // contradictory equalities: provably empty, zero files
    val none = spark.sql("SELECT * FROM snap_rel_pt WHERE id = 3 AND id = 9")
    assert(none.collect().isEmpty)
  }

  test("pruning is conservative: unsupported shapes read everything and " +
      "stay correct; an absent key returns nothing") {
    val dir = tmp()
    seed(dir)
    val rel = SnapshotRelation.readSql(spark, dir)
    // modulo predicate: no pruning, right answer
    val m = rel.where(col("id") % 16L === 1L)
    assert(scannedFiles(m) == totalFiles(dir))
    assert(asSet(m) == Set((1L, "s1", 1L), (17L, "s17", 1L),
      (33L, "s33", 1L), (49L, "s49", 1L)))
    // absent key: pruned to its (existing) bucket, empty result
    assert(SnapshotRelation.readSql(spark, dir)
      .where(col("id") === 1000000L).collect().isEmpty)
  }

  test("comparison predicates on the declared clustering column skip " +
      "files by the manifest stats — same decision as readRange") {
    import spark.implicits._
    val dir = tmp()
    // the deployment shape for time-ranged serving (RangeStatsSpec):
    // (day, id) keys bucketed by the day prefix, clustered by v, so
    // each day-bucket's file records a narrow v range
    val rows = for (day <- 0L until 10L; i <- 0L until 10L)
      yield (day, day * 10L + i, s"d$day", day * 10L + i)
    SnapshotUpsert.upsertBatchSnapshot(
      rows.toDF("day", "id", "status", "v"), dir, Seq("day", "id"), "",
      nBuckets = 16, bucketCols = Seq("day"), keepVersions = 10,
      props = Map(SnapshotUpsert.ClusterColsProp -> "v"))
    SnapshotRelation.registerSqlView(spark, "snap_rel_rng", dir)

    val q = spark.sql(
      "SELECT * FROM snap_rel_rng WHERE v >= 25 AND v <= 34")
    val (kept, total) = SnapshotUpsert.rangeKept(spark, dir, "v", "25", "34")
    assert(kept < total, s"test shape must actually prune: $kept/$total")
    assert(scannedFiles(q) == kept)
    assert(q.collect().map(_.getLong(3)).sorted.toSeq == (25L to 34L))

    // combined bucket + range pruning: the intersection decides
    val both = spark.sql(
      "SELECT * FROM snap_rel_rng WHERE day = 3 AND v >= 30 AND v <= 39")
    assert(scannedFiles(both) <= math.min(kept.toLong,
      filesOfBuckets(dir, {
        val root = new Path(dir)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val cur = SnapshotUpsert.currentSnapshot(fs, root).get
        Seq(3L).toDF("day").select(SnapshotUpsert.bucketOfLayout(
          Seq("day"), cur.nBuckets, cur.depths).as("kb"))
          .collect().map(_.getInt(0)).toSet
      }).toLong))
    assert(both.count() == 10)
    // one-sided bound still prunes
    val oneSided = spark.sql("SELECT * FROM snap_rel_rng WHERE v > 84")
    assert(scannedFiles(oneSided) < total)
    assert(oneSided.count() == 15)
  }

  test("a split (mixed-depth) layout routes equality probes through the " +
      "recorded depth map") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(
      df((0L until 64L).map(i => (i, s"s$i", 1L)): _*), dir, Seq("id"),
      "v", nBuckets = 4, keepVersions = 10)
    SnapshotUpsert.splitBucket(spark, dir, 0, keepVersions = 10)
    SnapshotUpsert.upsertBatchSnapshot(
      df((0L until 64L by 2L).map(i => (i, s"u$i", 2L)): _*), dir,
      Seq("id"), "v", nBuckets = 4, keepVersions = 10)
    SnapshotRelation.registerSqlView(spark, "snap_rel_split", dir)
    val full = asSet(SnapshotUpsert.readSnapshot(spark, dir))
    for (k <- Seq(0L, 7L, 13L, 40L)) {
      val q = spark.sql(s"SELECT * FROM snap_rel_split WHERE id = $k")
      assert(asSet(q) == full.filter(_._1 == k), s"key $k")
      assert(scannedFiles(q) == filesOfBuckets(dir, bucketsOf(dir, Seq(k))),
        s"key $k routed wrong")
    }
  }

  test("merge-on-read delta layers compose: layered buckets fold in, " +
      "the rest serve file-level, and SQL sees one exact image") {
    val dir = tmp()
    seed(dir)
    // layer a few buckets, including a tombstone the fold must apply
    SnapshotUpsert.appendDeltaSnapshot(
      df((0L until 8L).map(i => (i, s"d$i", 3L)): _*), dir, Seq("id"),
      "v", nBuckets = 8, keepVersions = 10)
    SnapshotUpsert.appendDeltaSnapshot(
      df((4L, "gone", 4L)).withColumn("del", lit(true)), dir, Seq("id"),
      "v", nBuckets = 8, keepVersions = 10, tombstoneCol = Some("del"))
    val expect = asSet(SnapshotUpsert.readSnapshot(spark, dir))
    assert(asSet(SnapshotRelation.readSql(spark, dir)) == expect)
    assert(!expect.exists(_._1 == 4L), "tombstone must fold out")
    SnapshotRelation.registerSqlView(spark, "snap_rel_mor", dir)
    assert(spark.sql("SELECT status FROM snap_rel_mor WHERE id = 5")
      .collect().map(_.getString(0)).toSeq == Seq("d5"))
    // after compaction the table is one clean pruned scan again
    SnapshotUpsert.compactDeltas(spark, dir, keepVersions = 10)
    val q = SnapshotRelation.readSql(spark, dir).where(col("id") === 5L)
    assert(scannedFiles(q) == filesOfBuckets(dir, bucketsOf(dir, Seq(5L))))
    assert(asSet(SnapshotRelation.readSql(spark, dir)) ==
      asSet(SnapshotUpsert.readSnapshot(spark, dir)))
  }

  test("time travel: a version-pinned relation serves that version and " +
      "ignores later commits; schema evolution null-fills old files") {
    val dir = tmp()
    seed(dir) // versions 1 and 2
    val v1 = SnapshotRelation.readSql(spark, dir, version = Some(1L))
    assert(asSet(v1) == asSet(SnapshotUpsert.readVersion(spark, dir, 1L)))
    assert(asSet(v1).forall(_._3 == 1L)) // pre-merge image

    // additive evolution: later commit carries an extra column
    import spark.implicits._
    SnapshotUpsert.upsertBatchSnapshot(
      Seq((1L, "w1", 5L, "extra")).toDF("id", "status", "v", "note"),
      dir, Seq("id"), "v", nBuckets = 8, keepVersions = 10)
    val evolved = SnapshotRelation.readSql(spark, dir)
    assert(evolved.schema.fieldNames.toSeq ==
      Seq("id", "status", "v", "note"))
    val notes = evolved.select("id", "note").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(notes(1L).contains("extra"))
    assert(notes(2L).isEmpty, "pre-evolution rows must null-fill")
    // and the evolved relation still answers SQL with pruning intact
    SnapshotRelation.registerSqlView(spark, "snap_rel_evo", dir)
    assert(spark.sql("SELECT note FROM snap_rel_evo WHERE id = 1")
      .collect().map(_.getString(0)).toSeq == Seq("extra"))
  }

  test("manifests record every referenced file's length through every " +
      "operation, so relation planning touches storage zero times") {
    val dir = tmp()
    seed(dir)
    SnapshotUpsert.appendDeltaSnapshot(
      df((0L until 8L).map(i => (i, s"d$i", 3L)): _*), dir, Seq("id"),
      "v", nBuckets = 8, keepVersions = 10)
    SnapshotUpsert.compactDeltas(spark, dir, keepVersions = 10)
    SnapshotUpsert.splitBucket(spark, dir, 1, keepVersions = 10)
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = SnapshotUpsert.currentSnapshot(fs, root).get
    // coverage: every reference has a recorded length, and it's true
    assert(cur.allRefs.toSet == cur.lens.keySet)
    cur.lens.foreach { case (rel, n) =>
      assert(fs.getFileStatus(new Path(root, rel)).getLen == n, rel)
    }
    // the zero-RPC pin: hide the data directories — planning (listing,
    // pruning, sizeInBytes) must still succeed from the manifest alone
    val rel = SnapshotRelation.readSql(spark, dir)
    val hidden = new Path(dir, "batches_hidden")
    assert(fs.rename(new Path(dir, "batches"), hidden))
    try {
      val idx = index(dir)
      assert(idx.sizeInBytes == cur.lens.values.sum)
      assert(idx.listFiles(Seq.empty, Seq.empty).head.files.size ==
        cur.allRefs.size)
    } finally assert(fs.rename(hidden, new Path(dir, "batches")))
    // and the relation still actually reads
    assert(asSet(rel) == asSet(SnapshotUpsert.readSnapshot(spark, dir)))
  }

  test("the standing BM25 postings index is SQL-servable: a term " +
      "equality prunes to that term's bucket and matches the bespoke " +
      "probe row-for-row") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-relidx").toString
    val docs = Seq(
      (1L, "spark shuffles data across executors"),
      (2L, "bloom filters skip data files"),
      (3L, "spark prunes partitions and files"),
      (4L, "manifest stats make range reads cheap"))
      .toDF("doc_id", "text")
    graft.operators.IncrementalText.ingest(docs, dir, "text", "doc_id",
      nBuckets = 8, keepVersions = 10)
    val postings = s"$dir/postings"
    SnapshotRelation.registerSqlView(spark, "postings_sql", postings)
    // numFiles is a driver-side metric sent when the scan lists files
    // (lazily, once per plan) — read it on a FRESH plan, not a reused
    // one whose metrics were reset by a second execution
    def q = spark.sql(
      "SELECT doc_id, tf_cnt FROM postings_sql WHERE term = 'spark'")
    val viaSql = q.collect().map(_.toString).sorted.toSeq
    val viaKeys = SnapshotUpsert.readKeys(spark, postings,
        Seq("spark").toDF("term"), Seq("term"))
      .select("doc_id", "tf_cnt").collect().map(_.toString).sorted.toSeq
    assert(viaSql == viaKeys && viaSql.size == 2)
    // the scan opened exactly the probed term's bucket files
    val root = new Path(postings)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = SnapshotUpsert.currentSnapshot(fs, root).get
    val kb = Seq("spark").toDF("term").select(SnapshotUpsert.bucketOfLayout(
      Seq("term"), cur.nBuckets, cur.depths).as("kb")).head.getInt(0)
    assert(scannedFiles(q) == cur.files.getOrElse(kb, Seq.empty).size)
    assert(cur.allRefs.size > cur.files.getOrElse(kb, Seq.empty).size,
      "test shape must actually prune")
  }

  test("equality on a declared value-set column skips every file whose " +
      "recorded exact distinct set lacks the value") {
    import spark.implicits._
    val dir = tmp()
    // 10 day-buckets; each day's status is one of three groups, so a
    // group equality should open only ~a third of the files
    val rows = for (day <- 0L until 10L; i <- 0L until 10L)
      yield (day, day * 10L + i, s"g${day % 3}", day * 10L + i)
    SnapshotUpsert.upsertBatchSnapshot(
      rows.toDF("day", "id", "status", "v"), dir, Seq("day", "id"), "",
      nBuckets = 16, bucketCols = Seq("day"), keepVersions = 10,
      props = Map(SnapshotUpsert.ValueSetColsProp -> "status"))
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = SnapshotUpsert.currentSnapshot(fs, root).get
    // every referenced file recorded its status set
    val allRels = cur.files.valuesIterator.flatten.toSeq
    assert(allRels.nonEmpty &&
      allRels.forall(r => cur.valueSets.get(r).exists(_.contains("status"))))
    val expect = allRels.count(r => cur.valueSets(r)("status").contains("g0"))
    assert(expect < allRels.size, "test shape must actually prune")

    SnapshotRelation.registerSqlView(spark, "snap_rel_vs", dir)
    def q = spark.sql("SELECT * FROM snap_rel_vs WHERE status = 'g0'")
    assert(q.count() == 40) // days 0,3,6,9 x 10 rows
    assert(scannedFiles(q) == expect)
    // IN list unions the candidates' files
    def qin = spark.sql(
      "SELECT * FROM snap_rel_vs WHERE status IN ('g0','g1')")
    assert(qin.count() == 70)
    assert(scannedFiles(qin) == allRels.count(r =>
      cur.valueSets(r)("status").exists(Set("g0", "g1"))))
    // a value no file holds: zero files, empty result
    def qmiss = spark.sql(
      "SELECT * FROM snap_rel_vs WHERE status = 'nope'")
    assert(qmiss.collect().isEmpty && scannedFiles(qmiss) == 0)
    // composition: value-set AND range candidates intersect... with a
    // bucket-column equality the decision is the tightest of all three
    def qboth = spark.sql(
      "SELECT * FROM snap_rel_vs WHERE status = 'g0' AND day = 3")
    assert(qboth.count() == 10)
    assert(scannedFiles(qboth) <= expect)
  }

  test("asOfMs resolves the newest version at or before the instant " +
      "(wall-clock time travel through the relation)") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "v1", 1L)), dir, Seq("id"),
      "v", nBuckets = 2, keepVersions = 10, nowMs = 1000L)
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "v2", 2L)), dir, Seq("id"),
      "v", nBuckets = 2, keepVersions = 10, nowMs = 2000L)
    assert(asSet(SnapshotRelation.readSql(spark, dir,
      asOfMs = Some(1500L))) == Set((1L, "v1", 1L)))
    assert(asSet(SnapshotRelation.readSql(spark, dir,
      asOfMs = Some(2000L))) == Set((1L, "v2", 2L)))
    val e = intercept[RuntimeException] {
      SnapshotRelation.readSql(spark, dir, asOfMs = Some(10L))
    }
    assert(e.getMessage.contains("no retained version"))
    intercept[IllegalArgumentException] {
      SnapshotRelation.readSql(spark, dir, version = Some(1L),
        asOfMs = Some(1500L))
    }
  }

  test("pass-through base files of LAYERED buckets keep file-level " +
      "predicate pruning; key-overlapping base stays in the fold and a " +
      "stale lower-order delta can never resurrect through a predicate") {
    import spark.implicits._
    val dir = tmp()
    def mk(rows: Seq[(Long, Long, String, Long)]) =
      rows.toDF("day", "id", "status", "v")
    // one base commit: days 0..19, v = day*10+i — each day-bucket's
    // single file records a narrow v range over its own days
    val props = Map(SnapshotUpsert.ClusterColsProp -> "v")
    SnapshotUpsert.upsertBatchSnapshot(
      mk(for (d <- 0L until 20L; i <- 0L until 10L)
        yield (d, d * 10L + i, s"d$d", d * 10L + i)), dir,
      Seq("day", "id"), "v", nBuckets = 16, bucketCols = Seq("day"),
      keepVersions = 10, props = props)
    val root = new Path(dir)
    val hfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bucketOfDay(d: Long) = {
      val c = SnapshotUpsert.currentSnapshot(hfs, root).get
      Seq(d).toDF("day")
        .select(SnapshotUpsert.bucketOfLayout(
          Seq("day"), c.nBuckets, c.depths).as("kb"))
        .collect().map(_.getInt(0)).head
    }
    val b3 = bucketOfDay(3L)
    // layers: one NEW key — a day >= 20, chosen to land in a POPULATED
    // bucket other than day-3's, so that bucket's base files are
    // key-disjoint from the layer — and one STALE overwrite of
    // (day 3, id 30) with a LOWER order value (fold keeps base, v=30)
    val cur0 = SnapshotUpsert.currentSnapshot(hfs, root).get
    val dNew = (20L until 200L).find { d =>
      val b = bucketOfDay(d)
      b != b3 && cur0.files.get(b).exists(_.nonEmpty)
    }.get
    SnapshotUpsert.appendDeltaSnapshot(
      mk(Seq((dNew, 99990L, "new", 99999L))), dir, Seq("day", "id"), "v",
      nBuckets = 16, bucketCols = Seq("day"), keepVersions = 10)
    SnapshotUpsert.appendDeltaSnapshot(
      mk(Seq((3L, 30L, "stale", -5L))), dir, Seq("day", "id"), "v",
      nBuckets = 16, bucketCols = Seq("day"), keepVersions = 10)

    val cur = SnapshotUpsert.currentSnapshot(hfs, root).get
    assert(cur.deltas.nonEmpty)
    val pass = SnapshotUpsert.passThroughBase(cur)
    val bNew = bucketOfDay(dNew)
    // dNew's bucket: its base files (days <= 19, all below the layer's
    // day range) are pass-through; in day-3's bucket the file covering
    // day 3 overlaps its layer and must stay folded
    assert(cur.files(bNew).nonEmpty && cur.files(bNew).forall(pass),
      s"bucket $bNew base must be pass-through")
    assert(pass.nonEmpty)
    def dayRange(rel: String) = cur.stats(rel)("day")
    val coveringB3 = cur.files(b3).filter { rel =>
      val (mn, mx) = dayRange(rel); mn.toLong <= 3L && mx.toLong >= 3L
    }
    assert(coveringB3.nonEmpty && coveringB3.forall(!pass(_)),
      "the base file overlapping the day=3 layer must stay folded")

    // exactness: the relation is the reference image, predicates or not
    val full = SnapshotRelation.readSql(spark, dir)
    val ref = SnapshotUpsert.readSnapshot(spark, dir)
    def img(d: DataFrame) = d.select("day", "id", "status", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(img(full) == img(ref))
    assert(img(ref).exists(t => t._2 == 30L && t._3 == "d3" && t._4 == 30L),
      "higher-order base row must win the fold")

    // resurrect-proof: a predicate matching ONLY the stale delta row
    // returns nothing — the overlapping base file stayed in the fold
    assert(SnapshotRelation.readSql(spark, dir)
      .where(col("v") >= -10L && col("v") <= -1L).collect().isEmpty)

    // the pruning pin: a range predicate over one day d0 living in
    // neither layered bucket opens d0's file plus ONLY the fold branch
    // (overlapping base + layers) — every pass-through file of the
    // layered buckets is skipped by its v-range stats
    val d0 = (0L until 20L).find(d =>
      bucketOfDay(d) != bNew && bucketOfDay(d) != b3).get
    val q = SnapshotRelation.readSql(spark, dir)
      .where(col("v") >= d0 * 10L && col("v") <= d0 * 10L + 9L)
    assert(q.count() >= 10) // d0's rows (plus any v-overlapping days)
    val scanned = scannedFiles(q)
    val layeredRels = cur.deltas.keySet
      .flatMap(b => cur.files.getOrElse(b, Seq.empty))
    val overlapBase = layeredRels.count(!pass(_))
    val layerFiles = cur.deltas.valuesIterator.map(_.size).sum
    // relation side = unlayered-bucket files + pass-through; kept =
    // those whose recorded v range intersects the window
    val keptRel = cur.files.valuesIterator.flatten.count { rel =>
      (!layeredRels(rel) || pass(rel)) && {
        val (mn, mx) = cur.stats(rel)("v")
        mn.toLong <= d0 * 10L + 9L && mx.toLong >= d0 * 10L
      }
    }
    // the fold's broadcast path reads its base files twice (anti +
    // semi) and its layers twice (key-set distinct + replay union) —
    // bound with those factors; the point is that NO pass-through file
    // appears in any branch
    assert(scanned <= (keptRel + 2 * overlapBase + 2 * layerFiles).toLong,
      s"$scanned vs keptRel=$keptRel overlap=$overlapBase " +
        s"layers=$layerFiles")
    assert(keptRel < cur.files.valuesIterator.map(_.size).sum,
      "test shape must actually prune relation-side files")
  }

  test("the index reports an honest sizeInBytes and its kept-file " +
      "decision is exact for direct probes") {
    val dir = tmp()
    seed(dir)
    val idx = index(dir)
    assert(idx.sizeInBytes > 0)
    val rel = SnapshotRelation.readSql(spark, dir)
    val attr = org.apache.spark.sql.GraftSqlBridge.expression(rel("id"))
    val eq5 = org.apache.spark.sql.catalyst.expressions.EqualTo(
      attr, org.apache.spark.sql.catalyst.expressions.Literal(5L))
    val kept = idx.keptRels(Seq(eq5))
    assert(kept.size == filesOfBuckets(dir, bucketsOf(dir, Seq(5L))))
    // no filters: everything
    assert(idx.keptRels(Seq.empty).size == totalFiles(dir))
  }
}
