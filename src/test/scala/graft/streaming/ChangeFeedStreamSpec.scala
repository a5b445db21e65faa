package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files
import scala.collection.concurrent.TrieMap

/** The change feed as a Structured Streaming SOURCE (r11): a streaming
  * consumer over live commits — including deletes and a rebucket —
  * must end in the same state as the batch drainChanges loop, deliver
  * each version range exactly once per offset (checkpointed restart
  * included), and serve the drainChanges bootstrap/starting-version
  * shapes. */
class ChangeFeedStreamSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-cfeed").toString

  private def df(rows: (Long, String, Long)*) = {
    import spark.implicits._
    rows.toDF("id", "status", "v")
  }

  /** Apply one change slice to a keyed map — the canonical idempotent
    * downstream (same shape the drainChanges specs use). */
  private def apply1(state: TrieMap[Long, (String, Long)],
      rows: Seq[org.apache.spark.sql.Row]): Unit = rows.foreach { r =>
    val id = r.getLong(r.fieldIndex("id"))
    r.getString(r.fieldIndex("_change")) match {
      case "delete" => state.remove(id)
      case _ => state.put(id,
        (r.getString(r.fieldIndex("status")), r.getLong(r.fieldIndex("v"))))
    }
  }

  private def tableState(dir: String): Map[Long, (String, Long)] =
    SnapshotUpsert.readSnapshot(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  test("streaming consumer over live commits (deletes + rebucket) ends " +
      "bit-equal to the table and to the batch drainChanges loop") {
    val dir = tmp()
    // v1: seed
    SnapshotUpsert.upsertBatchSnapshot(
      df((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L), (4L, "d", 1L)), dir,
      Seq("id"), "v", nBuckets = 4, keepVersions = 10)
    val streamed = TrieMap.empty[Long, (String, Long)]
    val received =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
    val q = SnapshotUpsert.readChangeStream(spark, dir, Seq("id"),
        emitDeletes = true, withCommitVersion = true)
      .writeStream.option("checkpointLocation", tmp())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.collect().toSeq
        apply1(streamed, rows)
        rows.foreach(r => received.add((
          r.getLong(r.fieldIndex("_commit_version")),
          r.getLong(r.fieldIndex("id")),
          r.getString(r.fieldIndex("_change")))))
        ()
      }.start()
    try {
      q.processAllAvailable() // bootstrap: v1 image as inserts
      assert(streamed.toMap == tableState(dir))
      assert(received.size == 4 &&
        received.stream.allMatch(t => t._3 == "insert" && t._1 == 1L))
      // v2: update + insert + tombstone delete
      SnapshotUpsert.upsertBatchSnapshot(
        df((1L, "a2", 2L), (5L, "e", 2L)), dir, Seq("id"), "v",
        nBuckets = 4, keepVersions = 10)
      SnapshotUpsert.upsertBatchSnapshot(
        df((2L, "gone", 3L)).withColumn("_deleted", lit(true)), dir,
        Seq("id"), "v", nBuckets = 4, keepVersions = 10,
        tombstoneCol = Some("_deleted"))
      q.processAllAvailable()
      assert(streamed.toMap == tableState(dir))
      assert(received.stream.anyMatch(t => t._2 == 2L && t._3 == "delete"),
        s"the tombstoned key must arrive as a delete: $received")
      // v4: REBUCKET — a layout change with zero data change must not
      // re-deliver rows (cross-layout diff filters unchanged rows)
      SnapshotUpsert.rebucket(spark, dir, 8, Seq("id"), keepVersions = 10)
      val beforeRebucket = received.size
      q.processAllAvailable()
      assert(received.size == beforeRebucket,
        "a pure rebucket must deliver zero change rows")
      // v5: one more data commit AFTER the rebucket
      SnapshotUpsert.upsertBatchSnapshot(df((3L, "c5", 5L)), dir,
        Seq("id"), "v", nBuckets = 8, keepVersions = 10)
      q.processAllAvailable()
      assert(streamed.toMap == tableState(dir))
    } finally q.stop()
    // the batch drainChanges loop over the same history ends identically
    val drained = TrieMap.empty[Long, (String, Long)]
    val cursor = s"${tmp()}/cursor"
    var slice = SnapshotUpsert.drainChanges(spark, dir, cursor, Seq("id"),
      emitDeletes = true)
    while (slice.isDefined) {
      apply1(drained, slice.get.changes.collect().toSeq)
      slice.get.commitCursor()
      slice = SnapshotUpsert.drainChanges(spark, dir, cursor, Seq("id"),
        emitDeletes = true)
    }
    assert(streamed.toMap == drained.toMap)
    assert(streamed.toMap == tableState(dir))
  }

  test("exactly-once per version offset across a checkpointed restart " +
      "(commits landing while the consumer is down are delivered once)") {
    val dir = tmp()
    val checkpoint = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L), (2L, "b", 1L)), dir,
      Seq("id"), "v", nBuckets = 4, keepVersions = 10)
    val received =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]()
    def startQuery() = SnapshotUpsert.readChangeStream(spark, dir, Seq("id"),
        emitDeletes = true, withCommitVersion = true)
      .writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => received.add((
          r.getLong(r.fieldIndex("_commit_version")),
          r.getLong(r.fieldIndex("id")),
          r.getString(r.fieldIndex("_change")))))
        ()
      }.start()
    val q1 = startQuery()
    try {
      q1.processAllAvailable() // bootstrap v1
      SnapshotUpsert.upsertBatchSnapshot(df((1L, "a2", 2L)), dir, Seq("id"),
        "v", nBuckets = 4, keepVersions = 10)
      q1.processAllAvailable() // v2 slice
    } finally q1.stop()
    // two commits land while the consumer is DOWN
    SnapshotUpsert.upsertBatchSnapshot(df((3L, "c", 3L)), dir, Seq("id"),
      "v", nBuckets = 4, keepVersions = 10)
    SnapshotUpsert.upsertBatchSnapshot(df((2L, "b4", 4L)), dir, Seq("id"),
      "v", nBuckets = 4, keepVersions = 10)
    val q2 = startQuery()
    try q2.processAllAvailable() // catch-up slice (3..4 coalesced)
    finally q2.stop()
    val rows = {
      val it = received.iterator(); val b = Seq.newBuilder[(Long, Long, String)]
      while (it.hasNext) b += it.next(); b.result()
    }
    // every change delivered EXACTLY once: bootstrap (1,id) x2, v2's
    // update, and the downtime commits coalesced into one slice ending
    // at v4 — no row appears twice
    assert(rows.size == rows.distinct.size, s"duplicated delivery: $rows")
    assert(rows.toSet == Set(
      (1L, 1L, "insert"), (1L, 2L, "insert"),
      (2L, 1L, "update"),
      (4L, 3L, "insert"), (4L, 2L, "update")), rows.toString)
  }

  test("startingVersion=latest skips the bootstrap image; a version " +
      "number starts the feed mid-history; schema is pinned at start") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L), (2L, "b", 1L)), dir,
      Seq("id"), "v", nBuckets = 4, keepVersions = 10)
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a2", 2L)), dir, Seq("id"),
      "v", nBuckets = 4, keepVersions = 10)
    // latest: nothing until a NEW commit
    val gotLatest =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = SnapshotUpsert.readChangeStream(spark, dir, Seq("id"),
        startingVersion = Some("latest"))
      .writeStream.option("checkpointLocation", tmp())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => gotLatest.add(
          (r.getLong(0), r.getString(r.fieldIndex("_change")))))
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(gotLatest.isEmpty, s"latest must skip history: $gotLatest")
      SnapshotUpsert.upsertBatchSnapshot(df((3L, "c", 3L)), dir, Seq("id"),
        "v", nBuckets = 4, keepVersions = 10)
      q.processAllAvailable()
      assert(gotLatest.size == 1 && gotLatest.peek() == ((3L, "insert")))
    } finally q.stop()
    // numeric startingVersion: changes AFTER that version only
    val gotFrom =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q2 = SnapshotUpsert.readChangeStream(spark, dir, Seq("id"),
        startingVersion = Some("1"))
      .writeStream.option("checkpointLocation", tmp())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => gotFrom.add(
          (r.getLong(0), r.getString(r.fieldIndex("_change")))))
        ()
      }.start()
    try {
      q2.processAllAvailable()
      assert(gotFrom.iterator().hasNext &&
        {
          val s = { val it = gotFrom.iterator()
            val b = Set.newBuilder[(Long, String)]
            while (it.hasNext) b += it.next(); b.result() }
          s == Set((1L, "update"), (3L, "insert"))
        }, s"from v1: updates since v1 only, got $gotFrom")
    } finally q2.stop()
    // the source schema is the data schema + _change
    val src = SnapshotUpsert.readChangeStream(spark, dir, Seq("id"))
    assert(src.schema.fieldNames.toSeq == Seq("id", "status", "v", "_change"))
    assert(src.isStreaming)
  }

  test("maxVersionsPerBatch drains a backlog in bounded slices after the " +
      "first trigger of the run") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L)), dir, Seq("id"),
      "v", nBuckets = 4, keepVersions = 20)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val q = SnapshotUpsert.readChangeStream(spark, dir, Seq("id"),
        withCommitVersion = true, maxVersionsPerBatch = Some(1L))
      .writeStream.option("checkpointLocation", tmp())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val vs = b.collect().map(_.getLong(b.columns.indexOf("_commit_version")))
          .toSeq.distinct
        if (vs.nonEmpty) batches.add(vs)
        ()
      }.start()
    try {
      q.processAllAvailable() // bootstrap (uncapped by design)
      (2L to 5L).foreach { v =>
        SnapshotUpsert.upsertBatchSnapshot(df((v, s"s$v", v)), dir,
          Seq("id"), "v", nBuckets = 4, keepVersions = 20)
      }
      q.processAllAvailable()
      val perBatch = {
        val it = batches.iterator(); val b = Seq.newBuilder[Seq[Long]]
        while (it.hasNext) b += it.next(); b.result()
      }
      // after bootstrap, every micro-batch ends at most ONE version
      // further (each slice stamps a single commit version)
      assert(perBatch.forall(_.size == 1), perBatch.toString)
      assert(perBatch.flatten.distinct.size >= 5, perBatch.toString)
    } finally q.stop()
  }

  test("chained ALWAYS-ON DAG: one live stream maintains the table, a " +
      "second live stream consumes its change feed into a downstream " +
      "table that stays exactly equal") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val table = tmp()
    val downstream = tmp()
    // seed so the feed source can pin a schema at start
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "seed", 1L)), table,
      Seq("id"), "v", nBuckets = 4, keepVersions = 10)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long)]
    // stream 1: rows -> snapshot table (one commit per micro-batch)
    val q1 = SnapshotUpsert.sink(input.toDF().toDF("id", "status", "v"),
      table, tmp(), Seq("id"), "v", nBuckets = 4, keepVersions = 10)
    // stream 2: the table's change feed -> a downstream latest-state
    // table (the always-on chained-pipeline shape; no drain loop, no
    // cursor file — the engine checkpoint is the cursor)
    val q2 = SnapshotUpsert.readChangeStream(spark, table, Seq("id"),
        emitDeletes = false)
      .writeStream.option("checkpointLocation", tmp())
      .foreachBatch { (b: DataFrame, _: Long) =>
        SnapshotUpsert.upsertBatchSnapshot(b.drop("_change"), downstream,
          Seq("id"), "v", nBuckets = 4)
        ()
      }.start()
    try {
      def settle(): Unit = { q1.processAllAvailable(); q2.processAllAvailable() }
      settle()
      input.addData((2L, "a", 2L), (3L, "b", 2L))
      settle()
      input.addData((2L, "a2", 3L), (4L, "c", 3L))
      settle()
      input.addData((1L, "seed2", 9L))
      settle()
      val src = snapState(table)
      assert(src == snapState(downstream),
        "the chained downstream must equal the source table exactly")
      assert(src.contains((2L, "a2", 3L)) && src.contains((1L, "seed2", 9L)))
    } finally { q1.stop(); q2.stop() }
  }

  private def snapState(dir: String): Set[(Long, String, Long)] =
    SnapshotUpsert.readSnapshot(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("restart after a schema evolution: the repositioned pre-evolution " +
      "range null-fills the new column; post-restart slices carry it") {
    import spark.implicits._
    val dir = tmp()
    val checkpoint = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L)), dir, Seq("id"),
      "v", nBuckets = 4, keepVersions = 10)
    // run 1: pins the 3-column schema, consumes the bootstrap
    val q1 = SnapshotUpsert.readChangeStream(spark, dir, Seq("id"))
      .writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (_: DataFrame, _: Long) => () }.start()
    try q1.processAllAvailable() finally q1.stop()
    // additive evolution while the consumer is down
    SnapshotUpsert.upsertBatchSnapshot(
      Seq((2L, "b", 2L, "extra")).toDF("id", "status", "v", "note"), dir,
      Seq("id"), "v", nBuckets = 4, keepVersions = 10)
    // run 2 pins the EVOLVED schema; the engine repositions getBatch
    // over the pre-evolution bootstrap range first — it must null-fill
    // `note` instead of failing analysis
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Any)]()
    val q2 = SnapshotUpsert.readChangeStream(spark, dir, Seq("id"))
      .writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r =>
          got.add((r.getLong(0), r.get(r.fieldIndex("note")))))
        ()
      }.start()
    try q2.processAllAvailable() finally q2.stop()
    val rows = { val it = got.iterator(); val b = Seq.newBuilder[(Long, Any)]
      while (it.hasNext) b += it.next(); b.result() }
    // the catch-up slice carries the evolved column's value; the
    // pre-evolution key (rewritten co-located or unchanged) reads NULL
    assert(rows.exists(r => r._1 == 2L && r._2 == "extra"), rows.toString)
    assert(rows.filter(_._1 == 1L).forall(_._2 == null), rows.toString)
  }

  test("a consumer that outlived retention fails loudly on restart with a " +
      "pointer to re-bootstrap") {
    val dir = tmp()
    val checkpoint = tmp()
    SnapshotUpsert.upsertBatchSnapshot(df((1L, "a", 1L)), dir, Seq("id"),
      "v", nBuckets = 4, keepVersions = 2)
    val q = SnapshotUpsert.readChangeStream(spark, dir, Seq("id"))
      .writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (_: DataFrame, _: Long) => () }.start()
    try q.processAllAvailable() finally q.stop()
    // many commits age v1..v2 out of the 2-version retention window
    (2L to 6L).foreach { v =>
      SnapshotUpsert.upsertBatchSnapshot(df((v, s"s$v", v)), dir, Seq("id"),
        "v", nBuckets = 4, keepVersions = 2)
    }
    val q2 = SnapshotUpsert.readChangeStream(spark, dir, Seq("id"))
      .writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (_: DataFrame, _: Long) => () }.start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q2.processAllAvailable() finally q2.stop()
    }
    assert(e.getMessage.contains("no longer retained") ||
      Option(e.getCause).exists(_.getMessage.contains("no longer retained")),
      s"must explain the retention loss: ${e.getMessage}")
    // failOnDataLoss=false: the same consumer restarts, SKIPS the lost
    // gap, and serves the retained tail instead of crashing
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q3 = SnapshotUpsert.readChangeStream(spark, dir, Seq("id"),
        failOnDataLoss = false)
      .writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => got.add(r.getLong(0)))
        ()
      }.start()
    try q3.processAllAvailable() finally q3.stop()
    val ids = { val it = got.iterator(); val b = Set.newBuilder[Long]
      while (it.hasNext) b += it.next(); b.result() }
    // the retained window is (oldest..6]; at least the newest commits
    // arrive, and nothing crashed
    assert(ids.nonEmpty && ids.subsetOf(Set(2L, 3L, 4L, 5L, 6L)),
      s"skip-and-continue must serve the retained tail: $ids")
  }

  test("emitBefore streams the old row per change: null on the bootstrap " +
      "image and inserts, the prior version's row on update and delete") {
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(
      df((1L, "a", 1L), (2L, "b", 1L)), dir, Seq("id"), "v",
      nBuckets = 4, keepVersions = 10)
    // (id, _change, before-status, before-v) per received row
    val got = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, String, Option[(String, Long)])]()
    val q = SnapshotUpsert.readChangeStream(spark, dir, Seq("id"),
        emitDeletes = true, emitBefore = true)
      .writeStream.option("checkpointLocation", tmp())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach { r =>
          val bi = r.fieldIndex("_before")
          got.add((r.getLong(r.fieldIndex("id")),
            r.getString(r.fieldIndex("_change")),
            if (r.isNullAt(bi)) None
            else { val s = r.getStruct(bi)
              Some((s.getString(s.fieldIndex("status")),
                s.getLong(s.fieldIndex("v")))) }))
        }
        ()
      }.start()
    try {
      q.processAllAvailable() // bootstrap image: _before is NULL
      // v2: update 1, insert 3; v3: tombstone 2
      SnapshotUpsert.upsertBatchSnapshot(
        df((1L, "a2", 2L), (3L, "c", 2L)), dir, Seq("id"), "v",
        nBuckets = 4, keepVersions = 10)
      SnapshotUpsert.upsertBatchSnapshot(
        df((2L, "x", 3L)).withColumn("_d", lit(true)), dir, Seq("id"),
        "v", nBuckets = 4, keepVersions = 10, tombstoneCol = Some("_d"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = { val it = got.iterator()
      val b = Seq.newBuilder[(Long, String, Option[(String, Long)])]
      while (it.hasNext) b += it.next(); b.result() }
    assert(rows.filter(_._2 == "insert").forall(_._3.isEmpty),
      s"inserts (incl. bootstrap) carry no before image: $rows")
    assert(rows.contains((1L, "update", Some(("a", 1L)))),
      s"the update must carry version 1's row as _before: $rows")
    assert(rows.contains((2L, "delete", Some(("b", 1L)))),
      s"the delete must carry the old row as _before: $rows")
  }
}
