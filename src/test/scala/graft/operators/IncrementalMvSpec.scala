package graft.operators

import graft.SparkSpec
import graft.streaming.SnapshotUpsert
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Incremental materialized views ([[IncrementalMv]]) and the manifest
  * property / CAS machinery they ride on:
  *   - delta MV equals a from-scratch GROUP BY after every commit,
  *     through inserts, same-group updates, group-MOVING updates,
  *     deletes, and NULLs in both group and summed columns — including
  *     a group whose non-null sum contributions are fully retracted
  *     (stored sum must return to SQL's NULL, not 0);
  *   - a group counted to zero is tombstoned out;
  *   - refresh is exactly-once: re-running against an unchanged base is
  *     a no-op (no new MV version), and the cursor prop advances
  *     atomically with the data;
  *   - an empty change slice advances the cursor via a metadata-only
  *     commit instead of re-diffing forever;
  *   - a stale cursor (concurrent refresher) fails the CAS cleanly;
  *   - refreshByGroups maintains non-retractable aggregates, prunes the
  *     recompute by the base's bucket prefix, and tombstones vanished
  *     groups;
  *   - props carry forward across data commits, rebucket and split, and
  *     malformed props are refused.
  */
class IncrementalMvSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-mv").toString

  import scala.jdk.CollectionConverters._
  private val baseSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "id BIGINT, grp STRING, v BIGINT")

  /** Rows with nullable grp/v: (id, grp, v). */
  private def df(rows: (java.lang.Long, String, java.lang.Long)*): DataFrame =
    spark.createDataFrame(
      rows.map(r => org.apache.spark.sql.Row(r._1, r._2, r._3)).asJava,
      baseSchema)

  private def commit(dir: String, b: DataFrame,
      del: Option[String] = None): Unit =
    SnapshotUpsert.upsertBatchSnapshot(b, dir, keys = Seq("id"),
      orderCol = "", nBuckets = 8, tombstoneCol = del)

  private def mvSet(mv: String): Set[(String, Long, Option[Long], Long)] =
    IncrementalMv.readMv(spark, mv).collect().map { r =>
      (if (r.isNullAt(0)) null else r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3))
    }.toSet

  private def recompute(base: String)
      : Set[(String, Long, Option[Long], Long)] =
    SnapshotUpsert.readSnapshot(spark, base)
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_v"), count(col("v")).as("nn_v"))
      .collect().map { r =>
        (if (r.isNullAt(0)) null else r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3))
      }.toSet

  private def foldDelta(base: String, mv: String): Long =
    IncrementalMv.refreshDelta(spark, base, mv, baseKeys = Seq("id"),
      groupCols = Seq("grp"), sumCols = Seq("v"), nBuckets = 8)

  test("delta MV tracks a from-scratch recompute through insert/update/" +
      "move/delete/null traffic") {
    val base = tmp(); val mv = tmp()
    // c1: two groups, a null group, a null-valued row
    commit(base, df((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L),
      (4L, null, 7L), (5L, "b", null)))
    foldDelta(base, mv)
    assert(mvSet(mv) == recompute(base))
    assert(mvSet(mv).contains(("a", 2L, Some(30L), 2L)))
    assert(mvSet(mv).contains(("b", 2L, Some(5L), 1L))) // null v not counted
    assert(mvSet(mv).contains((null, 1L, Some(7L), 1L))) // null group is real

    // c2: insert into a fresh group, update in place, MOVE 2 from a->b
    commit(base, df((6L, "c", 100L), (1L, "a", 11L), (2L, "b", 20L)))
    foldDelta(base, mv)
    assert(mvSet(mv) == recompute(base))
    assert(mvSet(mv).contains(("a", 1L, Some(11L), 1L))) // retracted 10+20, added 11
    assert(mvSet(mv).contains(("b", 3L, Some(25L), 2L)))

    // c3: delete the null group and one of b's; null out c's only value
    commit(base, df((4L, null, 7L), (3L, "b", 5L)).withColumn("_d", lit(true))
      .unionByName(df((6L, "c", null)).withColumn("_d", lit(false))),
      del = Some("_d"))
    foldDelta(base, mv)
    assert(mvSet(mv) == recompute(base))
    // c's non-null contributions fully retracted: sum back to SQL NULL
    assert(mvSet(mv).contains(("c", 1L, None, 0L)))
    // the null group vanished entirely (tombstoned, not zero-row)
    assert(!mvSet(mv).exists(_._1 == null))

    // c4 folded through the UNPRUNED read path (full MV + semi-join,
    // the escape hatch for slices past the probe cap): same content
    commit(base, df((7L, "a", 100L), (2L, "b", 21L)))
    IncrementalMv.refreshDelta(spark, base, mv, baseKeys = Seq("id"),
      groupCols = Seq("grp"), sumCols = Seq("v"), nBuckets = 8,
      pruneReads = false)
    assert(mvSet(mv) == recompute(base))
  }

  test("refresh is exactly-once: no-op on an unchanged base, cursor " +
      "advances atomically with the data") {
    val base = tmp(); val mv = tmp()
    commit(base, df((1L, "a", 1L), (2L, "b", 2L)))
    foldDelta(base, mv)
    val v1 = SnapshotUpsert.versions(spark, mv).last
    assert(IncrementalMv.appliedVersion(spark, mv).contains(1L))
    // unchanged base: no new MV version, same cursor
    foldDelta(base, mv)
    assert(SnapshotUpsert.versions(spark, mv).last == v1)
    assert(IncrementalMv.appliedVersion(spark, mv).contains(1L))
    // a real commit: ONE new MV version carrying both rows and cursor
    commit(base, df((3L, "a", 5L)))
    foldDelta(base, mv)
    assert(SnapshotUpsert.versions(spark, mv).last == v1 + 1)
    assert(IncrementalMv.appliedVersion(spark, mv).contains(2L))
    assert(mvSet(mv) == recompute(base))
  }

  test("an empty change slice advances the cursor via a metadata-only " +
      "commit") {
    val base = tmp(); val mv = tmp()
    commit(base, df((1L, "a", 1L), (2L, "b", 2L)))
    foldDelta(base, mv)
    // a commit that rewrites rows IDENTICALLY: new base version, empty
    // diff — the refresh must still advance (setProps), or every later
    // refresh re-diffs the same versions
    commit(base, df((1L, "a", 1L)))
    val before = mvSet(mv)
    foldDelta(base, mv)
    assert(IncrementalMv.appliedVersion(spark, mv)
      .contains(SnapshotUpsert.versions(spark, base).last))
    assert(mvSet(mv) == before)
  }

  test("a stale cursor fails the CAS instead of double-applying") {
    val base = tmp(); val mv = tmp()
    commit(base, df((1L, "a", 1L)))
    foldDelta(base, mv)
    commit(base, df((2L, "a", 10L)))
    // a racing refresher lands first (simulated by advancing the prop)
    SnapshotUpsert.setProps(spark, mv,
      Map(IncrementalMv.AppliedProp -> "2"))
    // our refresher, computed against applied=1, must not re-apply:
    // refreshDelta re-reads the prop and no-ops at 2
    foldDelta(base, mv)
    assert(IncrementalMv.appliedVersion(spark, mv).contains(2L))
    // the raw CAS: a commit expecting the old cursor value fails clean
    val ex = intercept[SnapshotUpsert.StalePropsException] {
      SnapshotUpsert.upsertBatchSnapshot(
        df((9L, "z", 9L)).select(col("grp"), lit(1L).as("n"),
          col("v").as("sum_v"), lit(1L).as("nn_v")),
        mv, keys = Seq("grp"), orderCol = "", nBuckets = 8,
        expectProps = Map(IncrementalMv.AppliedProp -> "1"))
    }
    assert(ex.getMessage.contains("mv.applied"))
    assert(ex.getMessage.contains("recompute against the current state"))
    // setProps honors the same CAS
    intercept[SnapshotUpsert.StalePropsException] {
      SnapshotUpsert.setProps(spark, mv,
        Map(IncrementalMv.AppliedProp -> "3"),
        expectProps = Map(IncrementalMv.AppliedProp -> "1"))
    }
  }

  test("a cursor that aged out of base retention fails with a " +
      "re-bootstrap pointer") {
    val base = tmp(); val mv = tmp()
    commit(base, df((1L, "a", 1L)))
    foldDelta(base, mv)
    // three more base commits with keepVersions=2 age out version 1
    commit(base, df((2L, "a", 2L)))
    commit(base, df((3L, "a", 3L)))
    commit(base, df((4L, "a", 4L)))
    val ex = intercept[IllegalArgumentException] { foldDelta(base, mv) }
    assert(ex.getMessage.contains("aged out"))
    assert(ex.getMessage.contains("re-bootstrap"))
  }

  test("refreshByGroups maintains min/max/count-distinct, prunes by the " +
      "base's bucket prefix, and tombstones vanished groups") {
    val base = tmp(); val mv = tmp()
    def commitG(b: DataFrame, del: Option[String] = None): Unit =
      SnapshotUpsert.upsertBatchSnapshot(b, base,
        keys = Seq("grp", "id"), orderCol = "", nBuckets = 8,
        bucketCols = Seq("grp"), tombstoneCol = del)
    def fold(): Unit = {
      IncrementalMv.refreshByGroups(spark, base, mv,
        baseKeys = Seq("grp", "id"), groupCols = Seq("grp"),
        aggs = Seq(count(lit(1)).as("n"), min("v").as("min_v"),
          max("v").as("max_v"), countDistinct(col("v")).as("d_v")),
        nBuckets = 8)
      ()
    }
    def got(): Set[(String, Long, Long, Long, Long)] =
      IncrementalMv.readMv(spark, mv).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    def want(): Set[(String, Long, Long, Long, Long)] =
      SnapshotUpsert.readSnapshot(spark, base).groupBy("grp")
        .agg(count(lit(1)).as("n"), min("v").as("min_v"),
          max("v").as("max_v"), countDistinct(col("v")).as("d_v"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet

    commitG(df((1L, "a", 10L), (2L, "a", 10L), (3L, "b", 5L)))
    fold()
    assert(got() == want())
    // delete the current max of a; min/max must FALL — unreachable for
    // a delta design, exactly what the recompute path is for
    commitG(df((1L, "a", 10L)).withColumn("_d", lit(true))
      .unionByName(df((4L, "a", 3L), (5L, "b", 6L))
        .withColumn("_d", lit(false))), del = Some("_d"))
    fold()
    assert(got() == want())
    assert(got().contains(("a", 2L, 3L, 10L, 2L)))
    // wipe group b entirely: its MV row must be tombstoned out
    commitG(df((3L, "b", 5L), (5L, "b", 6L)).withColumn("_d", lit(true)),
      del = Some("_d"))
    fold()
    assert(got() == want())
    assert(!got().exists(_._1 == "b"))
    // unpruned path (pruneReads=false) lands on the same content
    commitG(df((6L, "c", 42L)))
    IncrementalMv.refreshByGroups(spark, base, mv,
      baseKeys = Seq("grp", "id"), groupCols = Seq("grp"),
      aggs = Seq(count(lit(1)).as("n"), min("v").as("min_v"),
        max("v").as("max_v"), countDistinct(col("v")).as("d_v")),
      nBuckets = 8, pruneReads = false)
    assert(got() == want())
  }

  test("props carry forward across commits, rebucket and split; " +
      "malformed props are refused") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L)), dir,
      keys = Seq("id"), orderCol = "", nBuckets = 4,
      props = Map("owner" -> "mv-spec", "note" -> "v=1 is fine"))
    assert(SnapshotUpsert.currentProps(spark, dir) ==
      Map("owner" -> "mv-spec", "note" -> "v=1 is fine"))
    // a later commit with no props keeps them; with some, overrides
    SnapshotUpsert.upsertBatchSnapshot(df((2L, "b", 2L)), dir,
      keys = Seq("id"), orderCol = "", nBuckets = 4)
    assert(SnapshotUpsert.currentProps(spark, dir)("owner") == "mv-spec")
    SnapshotUpsert.upsertBatchSnapshot(df((3L, "c", 3L)), dir,
      keys = Seq("id"), orderCol = "", nBuckets = 4,
      props = Map("note" -> "updated"))
    assert(SnapshotUpsert.currentProps(spark, dir) ==
      Map("owner" -> "mv-spec", "note" -> "updated"))
    // rebucket and split both carry the props with the layout change
    SnapshotUpsert.rebucket(spark, dir, 8, Seq("id"))
    assert(SnapshotUpsert.currentProps(spark, dir)("owner") == "mv-spec")
    val bucket = SnapshotUpsert.readSnapshot(spark, dir)
      .select(graft.streaming.SnapshotUpsert.bucketOf(Seq("id"), 8).as("kb"))
      .collect().map(_.getInt(0)).head
    SnapshotUpsert.splitBucket(spark, dir, bucket)
    assert(SnapshotUpsert.currentProps(spark, dir)("note") == "updated")
    // a metadata-only commit is a REAL version: readable content is
    // unchanged and time travel still sees the pre-props version
    val vBefore = SnapshotUpsert.versions(spark, dir).last
    SnapshotUpsert.setProps(spark, dir, Map("cursor" -> "7"))
    assert(SnapshotUpsert.versions(spark, dir).last == vBefore + 1)
    assert(SnapshotUpsert.readSnapshot(spark, dir).count() == 3)
    // malformed props are refused before any side effect
    intercept[IllegalArgumentException] {
      SnapshotUpsert.setProps(spark, dir, Map("bad=key" -> "x"))
    }
    intercept[IllegalArgumentException] {
      SnapshotUpsert.setProps(spark, dir, Map("k" -> "two\nlines"))
    }
    intercept[IllegalArgumentException] {
      SnapshotUpsert.setProps(spark, dir, Map.empty[String, String])
    }
  }

  test("MVs chain: a second MV refreshes off the first MV's own change " +
      "feed, exactly-once at each hop") {
    val base = tmp(); val mv1 = tmp(); val mv2 = tmp()
    // mv2 groups mv1's rows by their non-null count and totals their
    // sums — contrived semantics, but it exercises the real contract:
    // mv1 IS a snapshot table, so its feed drives a downstream MV, and
    // an mv1 refresh that MOVES a group between nn_v values must
    // retract from mv2's old group via the chained _before image
    def fold2(): Unit = {
      IncrementalMv.refreshDelta(spark, mv1, mv2, baseKeys = Seq("grp"),
        groupCols = Seq("nn_v"), sumCols = Seq("sum_v"), nBuckets = 4)
      ()
    }
    def want2(): Set[(Long, Long, Option[Long], Long)] =
      IncrementalMv.readMv(spark, mv1).groupBy("nn_v")
        .agg(count(lit(1)).as("n"), sum("sum_v").as("sum_sum_v"),
          count(col("sum_v")).as("nn_sum_v"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getLong(3))).toSet
    def got2(): Set[(Long, Long, Option[Long], Long)] =
      IncrementalMv.readMv(spark, mv2).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getLong(3))).toSet

    commit(base, df((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L)))
    foldDelta(base, mv1); fold2()
    assert(got2() == want2())
    // this commit moves group b from nn_v=1 to nn_v=2 in mv1, and
    // creates a fresh mv1 group c — both must flow through mv1's feed
    commit(base, df((4L, "b", 7L), (5L, "c", 1L)))
    foldDelta(base, mv1); fold2()
    assert(got2() == want2())
    // deleting all of a's rows tombstones a out of mv1 — a DELETE in
    // mv1's feed that mv2 must retract
    commit(base, df((1L, "a", 10L), (2L, "a", 20L))
      .withColumn("_d", lit(true)), del = Some("_d"))
    foldDelta(base, mv1); fold2()
    assert(got2() == want2())
    assert(IncrementalMv.appliedVersion(spark, mv2).contains(
      SnapshotUpsert.versions(spark, mv1).last))
  }

  test("always-on DAG: a live stream maintains the base and the MV " +
      "folds inside the same foreachBatch, exact after every trigger") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val base = tmp(); val mv = tmp()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String, Long)]
    val q = in.toDF().toDF("id", "grp", "v")
      .writeStream.option("checkpointLocation", tmp())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        // commit the micro-batch, then fold the MV: the base commit is
        // replay-idempotent (same logical content on re-run), the fold
        // exactly-once on its own cursor — the always-on refresh shape
        commit(base, b)
        foldDelta(base, mv)
        ()
      }
    in.addData((1L, "a", 10L), (2L, "b", 5L))
    val q1 = q.start(); q1.awaitTermination()
    assert(mvSet(mv) == recompute(base))
    in.addData((1L, "a", 11L), (3L, "b", 7L), (4L, "c", 1L))
    val q2 = q.start(); q2.awaitTermination()
    assert(mvSet(mv) == recompute(base))
    assert(mvSet(mv).contains(("b", 2L, Some(12L), 2L)))
    assert(IncrementalMv.appliedVersion(spark, mv).contains(
      SnapshotUpsert.versions(spark, base).last))
  }

  test("diffImages emitBefore carries the old row: null on insert, the " +
      "old image on update and delete") {
    import spark.implicits._
    val oldImg = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "g", "v")
    val newImg = Seq((1L, "a", 11L), (3L, "c", 30L)).toDF("id", "g", "v")
    val feed = SnapshotUpsert.diffImages(newImg, oldImg, Seq("id"),
      emitDeletes = true, emitBefore = true)
      .select(col("id"), col("_change"), col("_before.g").as("bg"),
        col("_before.v").as("bv"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(feed == Set(
      (1L, "update", "a", Some(10L)),
      (2L, "delete", "b", Some(20L)),
      (3L, "insert", null, None)))
  }
}
