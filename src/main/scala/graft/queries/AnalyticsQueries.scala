package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Analytic-SQL breadth beyond the reference's surface: window FRAMES
  * (rolling aggregates), lag/lead, CUBE grouping sets, and exact
  * distributed quantiles. Numeric parity follows the repo conventions:
  * exact sums through DECIMAL with a single final cast to DOUBLE;
  * nearest-rank quantiles (pick a stored value, never interpolate —
  * interpolation arithmetic is engine-specific float math).
  */
object AnalyticsQueries {

  private def load = QueryDef.load _

  val all: Seq[QueryDef] = Seq(

    // Rolling 7-day revenue: window FRAME spec (ROWS BETWEEN). The
    // daily pre-aggregation shrinks the input to ~one row per day
    // BEFORE the global-ordered window — the frame pass runs on ~2.4k
    // rows regardless of fact-table scale, so the single-partition
    // sort the unpartitioned window implies is a non-issue.
    QueryDef(
      "q_window_rolling",
      (s, d) => {
        val daily = load(s, d, "orders")
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
          .agg(sum(col("o_totalprice").cast(DecimalType(14, 2))).as("__rev"))
        val w = Window.orderBy(col("day").asc_nulls_last).rowsBetween(-6, 0)
        daily.select(col("day"),
          col("__rev").cast(DoubleType).as("rev"),
          // rolling SUM of exact decimals: bit-identical after the one
          // decimal->double cast on both engines (a rolling AVG would
          // divide decimal in Spark but double in DuckDB)
          sum(col("__rev")).over(w).cast(DoubleType).as("rev_7d"),
          count(lit(1)).over(w).as("n_days"))
      },
      Some("""WITH daily AS (SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
             |  sum(CAST(o_totalprice AS DECIMAL(14,2))) AS rev
             |  FROM orders GROUP BY 1)
             |SELECT day, CAST(rev AS DOUBLE) AS rev,
             | CAST(sum(rev) OVER (ORDER BY day NULLS LAST
             |   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_7d,
             | count(*) OVER (ORDER BY day NULLS LAST
             |   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS n_days
             |FROM daily""".stripMargin),
    ),

    // lag/lead: per-user event sequencing (previous/next event and the
    // gap in seconds). One hash shuffle on user_id; the per-user sort
    // is local. Tiebreak on event_id keeps the order total.
    QueryDef(
      "q_window_lag",
      (s, d) => {
        val ev = QueryDef.loadEvents(s, d)
          .withColumn("ts", date_trunc("second", col("ts")))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc_nulls_last, col("event_id"))
        ev.select(col("user_id"), col("event_id"), col("ts"))
          .withColumn("prev_event_id", lag(col("event_id"), 1).over(w))
          .withColumn("next_event_id", lead(col("event_id"), 1).over(w))
          .withColumn("gap_sec",
            unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)))
          .select(col("user_id"), col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
            col("prev_event_id"), col("next_event_id"), col("gap_sec"))
      },
      Some("""WITH e AS (SELECT user_id, event_id,
             |  date_trunc('second', ts) AS ts FROM events)
             |SELECT user_id, event_id,
             | strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
             | lag(event_id) OVER w AS prev_event_id,
             | lead(event_id) OVER w AS next_event_id,
             | date_diff('second', lag(ts) OVER w, ts) AS gap_sec
             |FROM e
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS LAST, event_id)"""
        .stripMargin),
    ),

    // Gap-based sessionization: a session break is a >30-minute gap;
    // the session sequence number is the running sum of break flags.
    // One shuffle on user_id, both windows share the same sort.
    QueryDef(
      "q_sessionize_batch",
      (s, d) => {
        val ev = QueryDef.loadEvents(s, d)
          .withColumn("ts", date_trunc("second", col("ts")))
          .select(col("user_id"), col("event_id"), col("ts"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc_nulls_last, col("event_id"))
        val prev = lag(col("ts"), 1).over(w)
        ev.withColumn("new_s",
            when(prev.isNull ||
              unix_timestamp(col("ts")) - unix_timestamp(prev) > 1800, 1L)
              .otherwise(0L))
          .withColumn("session_seq", sum(col("new_s"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .select(col("user_id"), col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
            col("session_seq"))
      },
      Some("""WITH e AS (SELECT user_id, event_id,
             |  date_trunc('second', ts) AS ts FROM events),
             |f AS (SELECT user_id, event_id, ts,
             |  CASE WHEN lag(ts) OVER w IS NULL
             |       OR date_diff('second', lag(ts) OVER w, ts) > 1800
             |    THEN 1 ELSE 0 END AS new_s
             |  FROM e
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS LAST, event_id))
             |SELECT user_id, event_id,
             | strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
             | CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts NULLS LAST, event_id
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |   AS session_seq
             |FROM f""".stripMargin),
    ),

    // Change feed between two latest-state table IMAGES — the oracle
    // gate for SnapshotUpsert.diffImages, the exact expression logic
    // changesBetween applies to its manifest-pruned reads: rows of the
    // new image whose key is new ("insert") or whose row differs
    // ("update"), unchanged rows dropped by null-safe struct equality.
    // The "old" image is the per-user latest over the even-event_id
    // half of the stream; the "new" image over the whole stream — the
    // same shape an incremental consumer sees across two commits.
    // Images build via max(struct) aggregation, NOT a window: the
    // partial agg combines map-side (per-user maxima instead of a
    // full-payload sort) — measured 10.3 -> 8.1 s at 100M events,
    // though shuffle BYTES barely move at this events:users ratio
    // (~67:1 over 32 partitions, so most partitions still carry a
    // partial max for most users); the win grows with events/user.
    // Struct ordering is lexicographic with the unique (ts, event_id)
    // prefix, so the result is deterministic.
    QueryDef(
      "q_change_feed",
      (s, d) => {
        val ev = QueryDef.loadEvents(s, d)
          .withColumn("ts", date_trunc("second", col("ts")))
        def image(in: org.apache.spark.sql.DataFrame) = in
          .groupBy("user_id")
          .agg(max(struct(col("ts"), col("event_id"), col("event_type")))
            .as("top"))
          .select(col("user_id"), col("top.event_type").as("event_type"),
            date_format(col("top.ts"), "yyyy-MM-dd HH:mm:ss").as("ts"))
        graft.streaming.SnapshotUpsert.diffImages(
          image(ev), image(ev.where(col("event_id") % 2 === 0)),
          Seq("user_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |  date_trunc('second', ts) AS ts FROM events),
             |img_new AS (SELECT user_id,
             |  (max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).event_type AS event_type,
             |  strftime((max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).ts, '%Y-%m-%d %H:%M:%S') AS ts
             |  FROM e GROUP BY user_id),
             |img_old AS (SELECT user_id,
             |  (max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).event_type AS event_type,
             |  strftime((max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).ts, '%Y-%m-%d %H:%M:%S') AS ts,
             |  1 AS present
             |  FROM e WHERE event_id % 2 = 0 GROUP BY user_id)
             |SELECT n.user_id, n.event_type, n.ts,
             | CASE WHEN o.present IS NULL THEN 'insert' ELSE 'update' END
             |   AS _change
             |FROM img_new n
             |LEFT JOIN img_old o ON n.user_id IS NOT DISTINCT FROM o.user_id
             |WHERE o.present IS NULL
             |   OR NOT (n.event_type IS NOT DISTINCT FROM o.event_type
             |           AND n.ts IS NOT DISTINCT FROM o.ts)""".stripMargin),
    ),

    // Change feed WITH tombstone deletes — the oracle gate for
    // SnapshotUpsert.diffImages(emitDeletes = true), the full-outer
    // variant changesBetween applies when the table's merge carries a
    // tombstone column: keys present only in the old image surface as
    // _change='delete' carrying their LAST KNOWN values. The images
    // are built to force all three change types: the old image covers
    // even events from users outside residue-3 (mod 7), the new image
    // covers all events from users outside residue-0 — so residue-0
    // users delete, residue-3 users insert, the rest update or drop.
    QueryDef(
      "q_change_feed_deletes",
      (s, d) => {
        val ev = QueryDef.loadEvents(s, d)
          .withColumn("ts", date_trunc("second", col("ts")))
        def image(in: org.apache.spark.sql.DataFrame) = in
          .groupBy("user_id")
          .agg(max(struct(col("ts"), col("event_id"), col("event_type")))
            .as("top"))
          .select(col("user_id"), col("top.event_type").as("event_type"),
            date_format(col("top.ts"), "yyyy-MM-dd HH:mm:ss").as("ts"))
        graft.streaming.SnapshotUpsert.diffImages(
          image(ev.where(col("user_id") % 7 =!= 0)),
          image(ev.where(col("event_id") % 2 === 0 &&
            col("user_id") % 7 =!= 3)),
          Seq("user_id"), emitDeletes = true)
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |  date_trunc('second', ts) AS ts FROM events),
             |img_new AS (SELECT user_id,
             |  (max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).event_type AS event_type,
             |  strftime((max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).ts, '%Y-%m-%d %H:%M:%S') AS ts,
             |  1 AS present
             |  FROM e WHERE user_id % 7 <> 0 GROUP BY user_id),
             |img_old AS (SELECT user_id,
             |  (max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).event_type AS event_type,
             |  strftime((max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).ts, '%Y-%m-%d %H:%M:%S') AS ts,
             |  1 AS present
             |  FROM e WHERE event_id % 2 = 0 AND user_id % 7 <> 3
             |  GROUP BY user_id)
             |SELECT
             | CASE WHEN n.present IS NULL THEN o.user_id ELSE n.user_id END
             |   AS user_id,
             | CASE WHEN n.present IS NULL THEN o.event_type
             |   ELSE n.event_type END AS event_type,
             | CASE WHEN n.present IS NULL THEN o.ts ELSE n.ts END AS ts,
             | CASE WHEN o.present IS NULL THEN 'insert'
             |   WHEN n.present IS NULL THEN 'delete'
             |   ELSE 'update' END AS _change
             |FROM img_new n
             |FULL OUTER JOIN img_old o
             |  ON n.user_id IS NOT DISTINCT FROM o.user_id
             |WHERE o.present IS NULL OR n.present IS NULL
             |   OR NOT (n.event_type IS NOT DISTINCT FROM o.event_type
             |           AND n.ts IS NOT DISTINCT FROM o.ts)""".stripMargin),
    ),

    // Keyed PRUNED READ of a real snapshot-committed table
    // (SnapshotUpsert.readKeys): the per-user latest-state table is
    // committed in two batches (even-event image, then the full image —
    // so the second commit exercises the merge), and the query serves a
    // point-lookup for the residue-2 users plus a block of absent ids —
    // reading ONLY the buckets those keys hash into (manifest-pruned
    // file list, no directory discovery) and semi-joining null-safely.
    // The oracle recomputes the final image from the raw events and
    // filters to the same key set; absent ids must return nothing.
    // NOTE for bench readers: the two table commits execute at plan
    // construction (eager, real disk writes to a temp dir); per-pass
    // timings see the pruned read + broadcast semi-join, the
    // deployment's per-lookup cost.
    QueryDef(
      "q_snapshot_read_keys",
      (s, d) => {
        val ev = QueryDef.loadEvents(s, d)
          .withColumn("ts", date_trunc("second", col("ts")))
        def image(in: org.apache.spark.sql.DataFrame) = in
          .groupBy("user_id")
          .agg(max(struct(col("ts"), col("event_id"), col("event_type")))
            .as("top"))
          .select(col("user_id"), col("top.event_type").as("event_type"),
            date_format(col("top.ts"), "yyyy-MM-dd HH:mm:ss").as("ts"))
        val dir = java.nio.file.Files
          .createTempDirectory("graft-readkeys-q").toString
        graft.streaming.SnapshotUpsert.upsertBatchSnapshot(
          image(ev.where(col("event_id") % 2 === 0)), dir,
          keys = Seq("user_id"), orderCol = "", nBuckets = 16)
        graft.streaming.SnapshotUpsert.upsertBatchSnapshot(
          image(ev), dir, keys = Seq("user_id"), orderCol = "",
          nBuckets = 16)
        val wanted = ev.select(col("user_id"))
          .where(col("user_id") % 5 === 2).distinct()
        val lookup = wanted.unionByName(
          wanted.select((col("user_id") + 1000000L).as("user_id")))
        graft.streaming.SnapshotUpsert.readKeys(s, dir, lookup,
          Seq("user_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |  date_trunc('second', ts) AS ts FROM events),
             |img AS (SELECT user_id,
             |  (max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).event_type AS event_type,
             |  strftime((max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).ts, '%Y-%m-%d %H:%M:%S') AS ts
             |  FROM e GROUP BY user_id)
             |SELECT user_id, event_type, ts FROM img
             |WHERE user_id % 5 = 2""".stripMargin),
    ),

    // Keyed pruned read across a MIXED bucket layout (r11): the table
    // commits an even-event image, two buckets are SPLIT in place
    // (linear hashing — depth map in the manifest), and the full image
    // then merges ONTO the mixed layout, so winning rows live in both
    // depth-0 buckets and split children. The point lookup must route
    // probes by the recorded depths and return exactly the oracle's
    // recomputed image for the residue-3 users (absent ids: nothing).
    // NOTE for bench readers: the commits + splits execute at plan
    // construction; per-pass timings see the mixed-layout pruned read.
    QueryDef(
      "q_snapshot_split_keys",
      (s, d) => {
        val ev = QueryDef.loadEvents(s, d)
          .withColumn("ts", date_trunc("second", col("ts")))
        def image(in: org.apache.spark.sql.DataFrame) = in
          .groupBy("user_id")
          .agg(max(struct(col("ts"), col("event_id"), col("event_type")))
            .as("top"))
          .select(col("user_id"), col("top.event_type").as("event_type"),
            date_format(col("top.ts"), "yyyy-MM-dd HH:mm:ss").as("ts"))
        val dir = java.nio.file.Files
          .createTempDirectory("graft-splitkeys-q").toString
        graft.streaming.SnapshotUpsert.upsertBatchSnapshot(
          image(ev.where(col("event_id") % 2 === 0)), dir,
          keys = Seq("user_id"), orderCol = "", nBuckets = 8)
        graft.streaming.SnapshotUpsert.splitBucket(s, dir, 0)
        graft.streaming.SnapshotUpsert.splitBucket(s, dir, 3)
        graft.streaming.SnapshotUpsert.upsertBatchSnapshot(
          image(ev), dir, keys = Seq("user_id"), orderCol = "",
          nBuckets = 8)
        val wanted = ev.select(col("user_id"))
          .where(col("user_id") % 5 === 3).distinct()
        val lookup = wanted.unionByName(
          wanted.select((col("user_id") + 1000000L).as("user_id")))
        graft.streaming.SnapshotUpsert.readKeys(s, dir, lookup,
          Seq("user_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |  date_trunc('second', ts) AS ts FROM events),
             |img AS (SELECT user_id,
             |  (max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).event_type AS event_type,
             |  strftime((max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).ts, '%Y-%m-%d %H:%M:%S') AS ts
             |  FROM e GROUP BY user_id)
             |SELECT user_id, event_type, ts FROM img
             |WHERE user_id % 5 = 3""".stripMargin),
    ),

    // MERGE-ON-READ table (r11): the same latest-state table built as
    // DELTA commits (SnapshotUpsert.appendDeltaSnapshot) — batch-sized
    // layer files appended per commit, NO bucket rewrites — with a
    // tombstone delta deleting the residue-3 users and a PARTIAL
    // compaction (minLayers=3), so the final read crosses compacted
    // base files, pending layers, and deleted keys in one image. The
    // read-time fold must reproduce exactly what the equivalent CoW
    // sequence (oracle: recompute from raw events, minus deletions)
    // would hold. NOTE for bench readers: the delta commits + partial
    // compaction execute at plan construction; per-pass timings see
    // the merge-on-read fold — the steady-state read price of the
    // write-amplification-free ingest path.
    QueryDef(
      "q_snapshot_mor",
      (s, d) => {
        val ev = QueryDef.loadEvents(s, d)
          .withColumn("ts", date_trunc("second", col("ts")))
        def image(in: org.apache.spark.sql.DataFrame) = in
          .groupBy("user_id")
          .agg(max(struct(col("ts"), col("event_id"), col("event_type")))
            .as("top"))
          .select(col("user_id"), col("top.event_type").as("event_type"),
            date_format(col("top.ts"), "yyyy-MM-dd HH:mm:ss").as("ts"))
        val dir = java.nio.file.Files
          .createTempDirectory("graft-mor-q").toString
        graft.streaming.SnapshotUpsert.appendDeltaSnapshot(
          image(ev.where(col("event_id") % 2 === 0)), dir,
          keys = Seq("user_id"), orderCol = "", nBuckets = 16)
        graft.streaming.SnapshotUpsert.appendDeltaSnapshot(
          image(ev), dir, keys = Seq("user_id"), orderCol = "",
          nBuckets = 16)
        graft.streaming.SnapshotUpsert.appendDeltaSnapshot(
          image(ev).where(col("user_id") % 7 === 3)
            .withColumn("del", lit(true)), dir,
          keys = Seq("user_id"), orderCol = "", nBuckets = 16,
          tombstoneCol = Some("del"))
        graft.streaming.SnapshotUpsert.compactDeltas(s, dir, minLayers = 3)
        graft.streaming.SnapshotUpsert.readSnapshot(s, dir)
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |  date_trunc('second', ts) AS ts FROM events),
             |img AS (SELECT user_id,
             |  (max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).event_type AS event_type,
             |  strftime((max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).ts, '%Y-%m-%d %H:%M:%S') AS ts
             |  FROM e GROUP BY user_id)
             |SELECT user_id, event_type, ts FROM img
             |WHERE user_id % 7 <> 3""".stripMargin),
    ),

    // RANGE-PRUNED READ from manifest file stats (r11): the per-(day,
    // user) latest-state table is day-prefix-bucketed and DECLARES ts
    // as its clustering column (graft.cluster.cols), so every commit
    // sorts its staged files by ts and records per-file min/max in the
    // manifest; readRange then serves a time window opening ONLY the
    // files whose recorded range overlaps — file-level data skipping
    // decided from the manifest alone, before any footer is read. A
    // delta commit re-stating the newest day exercises the layered
    // all-or-nothing pruning rule inside the same read. The window is
    // data-derived (min(ts)+2d .. +4d) so the gate holds at every SF;
    // both sides compare the CANONICAL STRING form, which orders
    // chronologically for the fixed layout.
    QueryDef(
      "q_snapshot_range",
      (s, d) => {
        val ev = QueryDef.loadEvents(s, d)
          .withColumn("ts", date_trunc("second", col("ts")))
        val img = ev
          .groupBy(to_date(col("ts")).cast("string").as("day"),
            col("user_id"))
          .agg(max(struct(col("ts"), col("event_id"), col("event_type")))
            .as("top"))
          .select(col("day"), col("user_id"),
            col("top.event_type").as("event_type"),
            date_format(col("top.ts"), "yyyy-MM-dd HH:mm:ss").as("ts"))
        val dir = java.nio.file.Files
          .createTempDirectory("graft-range-q").toString
        graft.streaming.SnapshotUpsert.upsertBatchSnapshot(img, dir,
          keys = Seq("day", "user_id"), orderCol = "", nBuckets = 32,
          bucketCols = Seq("day"),
          props = Map(graft.streaming.SnapshotUpsert.ClusterColsProp -> "ts"))
        // a layered bucket in the read path: the newest day re-lands
        // as a delta commit (identical rows — arrival order replaces)
        val lastDay = img.agg(max(col("day"))).head.getString(0)
        graft.streaming.SnapshotUpsert.appendDeltaSnapshot(
          img.where(col("day") === lastDay), dir,
          keys = Seq("day", "user_id"), orderCol = "", nBuckets = 32,
          bucketCols = Seq("day"))
        val bounds = ev.agg(
          date_format(min(col("ts")) + expr("INTERVAL 2 DAY"),
            "yyyy-MM-dd HH:mm:ss").as("lo"),
          date_format(min(col("ts")) + expr("INTERVAL 4 DAY"),
            "yyyy-MM-dd HH:mm:ss").as("hi")).head()
        graft.streaming.SnapshotUpsert.readRange(s, dir, "ts",
          bounds.getString(0), bounds.getString(1))
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |  date_trunc('second', ts) AS ts FROM events),
             |img AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             |  user_id,
             |  (max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).event_type AS event_type,
             |  strftime((max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).ts, '%Y-%m-%d %H:%M:%S') AS ts
             |  FROM e GROUP BY 1, 2),
             |b AS (SELECT
             |  strftime(date_trunc('second', min(ts)) + INTERVAL 2 DAY,
             |    '%Y-%m-%d %H:%M:%S') AS lo,
             |  strftime(date_trunc('second', min(ts)) + INTERVAL 4 DAY,
             |    '%Y-%m-%d %H:%M:%S') AS hi FROM events)
             |SELECT img.* FROM img, b
             |WHERE img.ts >= b.lo AND img.ts <= b.hi""".stripMargin),
    ),

    // Z-ORDER CLUSTERED LAYOUT (r12, ClusterLayout): the same
    // latest-state table written with TWO declared clustering columns
    // (ts, user_id) under graft.cluster.layout=zorder and a per-file
    // row cap, so each bucket stages several Morton-ordered runs, each
    // covering a small (ts x user_id) RECTANGLE whose per-file ranges
    // the manifest records. A correlated two-dimension box (time
    // window AND user slice, both data-derived literals) then prunes
    // on both dimensions through the plain SQL relation — the pruning
    // trade itself (linear owns one dimension, z-order serves both) is
    // pinned by ZOrderSpec with executed-scan numFiles; this gate pins
    // end-to-end RESULTS through a z-ordered table at every SF.
    QueryDef(
      "q_snapshot_zorder",
      (s, d) => {
        val ev = QueryDef.loadEvents(s, d)
          .withColumn("ts", date_trunc("second", col("ts")))
        val img = ev
          .groupBy(to_date(col("ts")).cast("string").as("day"),
            col("user_id"))
          .agg(max(struct(col("ts"), col("event_id"), col("event_type")))
            .as("top"))
          .select(col("day"), col("user_id"),
            col("top.event_type").as("event_type"),
            date_format(col("top.ts"), "yyyy-MM-dd HH:mm:ss").as("ts"))
        val dir = java.nio.file.Files
          .createTempDirectory("graft-zorder-q").toString
        graft.streaming.SnapshotUpsert.upsertBatchSnapshot(img, dir,
          keys = Seq("day", "user_id"), orderCol = "", nBuckets = 8,
          bucketCols = Seq("day"),
          props = Map(
            graft.streaming.SnapshotUpsert.ClusterColsProp -> "ts,user_id",
            graft.streaming.ClusterLayout.LayoutProp -> "zorder",
            graft.streaming.ClusterLayout.MaxFileRowsProp -> "512"))
        val b = ev.agg(
          date_format(min(col("ts")) + expr("INTERVAL 2 DAY"),
            "yyyy-MM-dd HH:mm:ss").as("lo"),
          date_format(min(col("ts")) + expr("INTERVAL 4 DAY"),
            "yyyy-MM-dd HH:mm:ss").as("hi"),
          (max(col("user_id")) / 4).cast("long").as("ulo"),
          (max(col("user_id")) / 2).cast("long").as("uhi")).head()
        graft.streaming.SnapshotRelation.readSql(s, dir)
          .where(col("ts") >= b.getString(0) && col("ts") <= b.getString(1) &&
            col("user_id") >= b.getLong(2) && col("user_id") <= b.getLong(3))
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |  date_trunc('second', ts) AS ts FROM events),
             |img AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             |  user_id,
             |  (max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).event_type AS event_type,
             |  strftime((max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).ts, '%Y-%m-%d %H:%M:%S') AS ts
             |  FROM e GROUP BY 1, 2),
             |b AS (SELECT
             |  strftime(date_trunc('second', min(ts)) + INTERVAL 2 DAY,
             |    '%Y-%m-%d %H:%M:%S') AS lo,
             |  strftime(date_trunc('second', min(ts)) + INTERVAL 4 DAY,
             |    '%Y-%m-%d %H:%M:%S') AS hi,
             |  CAST(max(user_id) // 4 AS BIGINT) AS ulo,
             |  CAST(max(user_id) // 2 AS BIGINT) AS uhi FROM events)
             |SELECT img.* FROM img, b
             |WHERE img.ts >= b.lo AND img.ts <= b.hi
             |  AND img.user_id >= b.ulo AND img.user_id <= b.uhi"""
        .stripMargin),
    ),

    // SQL RELATION over the snapshot table (r11, SnapshotRelation):
    // the same day-bucketed, ts-clustered table served through a
    // manifest-backed FileIndex under Spark's own parquet scan — a
    // PLAIN spark.sql WHERE clause (day equality + a residual modulo)
    // gets bucket pruning and stats skipping automatically, with no
    // bespoke read API in the query text. The probed day is computed
    // first and interpolated as a LITERAL so the pushed conjunct is
    // prunable (a scalar subquery would not be); the oracle recomputes
    // the image and derives the same day. Pruning exactness is pinned
    // by SnapshotRelationSpec via the executed scan's numFiles metric;
    // this gate pins end-to-end RESULTS through the relation.
    QueryDef(
      "q_snapshot_sql",
      (s, d) => {
        val ev = QueryDef.loadEvents(s, d)
          .withColumn("ts", date_trunc("second", col("ts")))
        val img = ev
          .groupBy(to_date(col("ts")).cast("string").as("day"),
            col("user_id"))
          .agg(max(struct(col("ts"), col("event_id"), col("event_type")))
            .as("top"))
          .select(col("day"), col("user_id"),
            col("top.event_type").as("event_type"),
            date_format(col("top.ts"), "yyyy-MM-dd HH:mm:ss").as("ts"))
        val dir = java.nio.file.Files
          .createTempDirectory("graft-sqlrel-q").toString
        graft.streaming.SnapshotUpsert.upsertBatchSnapshot(img, dir,
          keys = Seq("day", "user_id"), orderCol = "", nBuckets = 32,
          bucketCols = Seq("day"),
          props = Map(graft.streaming.SnapshotUpsert.ClusterColsProp -> "ts"))
        val probeDay = ev.agg(date_format(
          min(col("ts")) + expr("INTERVAL 3 DAY"), "yyyy-MM-dd").as("d"))
          .head.getString(0)
        graft.streaming.SnapshotRelation.registerSqlView(
          s, "snap_sql_rel", dir)
        s.sql("SELECT day, user_id, event_type, ts FROM snap_sql_rel " +
          s"WHERE day = '$probeDay' AND user_id % 5 = 2")
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |  date_trunc('second', ts) AS ts FROM events),
             |img AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             |  user_id,
             |  (max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).event_type AS event_type,
             |  strftime((max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).ts, '%Y-%m-%d %H:%M:%S') AS ts
             |  FROM e GROUP BY 1, 2),
             |b AS (SELECT strftime(date_trunc('second', min(ts))
             |    + INTERVAL 3 DAY, '%Y-%m-%d') AS d FROM events)
             |SELECT img.day, img.user_id, img.event_type, img.ts
             |FROM img, b
             |WHERE img.day = b.d AND img.user_id % 5 = 2""".stripMargin),
    ),

    // VALUE-SET file skipping (r11, ValueSetColsProp): the per-(day,
    // user) image declares event_type as a low-cardinality column, so
    // every staged file records its exact distinct event types in the
    // manifest (V lines); the SQL relation then serves an equality on
    // event_type opening only the files whose recorded set holds the
    // probed value (derived as min(event_type) so the gate is
    // SF-independent). The oracle recomputes the image and applies
    // the same derived equality. Pruning exactness is pinned by
    // SnapshotRelationSpec's numFiles checks; this gates RESULTS.
    // NOTE for bench readers: the commit executes at plan
    // construction; per-pass timings see the pruned SQL read.
    QueryDef(
      "q_snapshot_valueset",
      (s, d) => {
        val ev = QueryDef.loadEvents(s, d)
          .withColumn("ts", date_trunc("second", col("ts")))
        val img = ev
          .groupBy(to_date(col("ts")).cast("string").as("day"),
            col("user_id"))
          .agg(max(struct(col("ts"), col("event_id"), col("event_type")))
            .as("top"))
          .select(col("day"), col("user_id"),
            col("top.event_type").as("event_type"),
            date_format(col("top.ts"), "yyyy-MM-dd HH:mm:ss").as("ts"))
        val dir = java.nio.file.Files
          .createTempDirectory("graft-vset-q").toString
        graft.streaming.SnapshotUpsert.upsertBatchSnapshot(img, dir,
          keys = Seq("day", "user_id"), orderCol = "", nBuckets = 32,
          bucketCols = Seq("day"),
          props = Map(
            graft.streaming.SnapshotUpsert.ValueSetColsProp -> "event_type"))
        val probe = img.agg(min(col("event_type"))).head.getString(0)
        graft.streaming.SnapshotRelation.registerSqlView(
          s, "snap_vset_rel", dir)
        s.sql("SELECT day, user_id, event_type, ts FROM snap_vset_rel " +
          s"WHERE event_type = '$probe'")
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |  date_trunc('second', ts) AS ts FROM events),
             |img AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             |  user_id,
             |  (max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).event_type AS event_type,
             |  strftime((max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).ts, '%Y-%m-%d %H:%M:%S') AS ts
             |  FROM e GROUP BY 1, 2),
             |b AS (SELECT min(event_type) AS et FROM img)
             |SELECT img.day, img.user_id, img.event_type, img.ts
             |FROM img, b WHERE img.event_type = b.et""".stripMargin),
    ),

    // BLOOM-SIDECAR file skipping (r12, BloomColsProp): the same
    // day-bucketed image declares event_id — HIGH-cardinality and NOT
    // a bucket column, exactly the case the 32-value exact sets cannot
    // serve — so every commit writes a per-file membership bloom
    // sidecar (_blooms/, manifest B lines). A point IN-probe on two
    // data-derived event ids then opens only the files whose bloom
    // might contain them instead of scanning the table. False
    // positives cost extra reads, never rows; SnapshotBloomSpec pins
    // the kept-file counts, this gates end-to-end RESULTS. NOTE for
    // bench readers: the commit executes at plan construction;
    // per-pass timings see the bloom-pruned SQL read.
    QueryDef(
      "q_snapshot_bloom",
      (s, d) => {
        val ev = QueryDef.loadEvents(s, d)
          .withColumn("ts", date_trunc("second", col("ts")))
        val img = ev
          .groupBy(to_date(col("ts")).cast("string").as("day"),
            col("user_id"))
          .agg(max(struct(col("ts"), col("event_id"), col("event_type")))
            .as("top"))
          .select(col("day"), col("user_id"),
            col("top.event_id").as("event_id"),
            col("top.event_type").as("event_type"),
            date_format(col("top.ts"), "yyyy-MM-dd HH:mm:ss").as("ts"))
        val dir = java.nio.file.Files
          .createTempDirectory("graft-bloom-q").toString
        graft.streaming.SnapshotUpsert.upsertBatchSnapshot(img, dir,
          keys = Seq("day", "user_id"), orderCol = "", nBuckets = 32,
          bucketCols = Seq("day"),
          props = Map(
            graft.streaming.SnapshotUpsert.BloomColsProp -> "event_id"))
        val b = img.agg(min(col("event_id")).as("lo"),
          max(col("event_id")).as("hi")).head()
        graft.streaming.SnapshotRelation.registerSqlView(
          s, "snap_bloom_rel", dir)
        s.sql("SELECT day, user_id, event_id, event_type, ts " +
          "FROM snap_bloom_rel " +
          s"WHERE event_id IN (${b.getLong(0)}, ${b.getLong(1)})")
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |  date_trunc('second', ts) AS ts FROM events),
             |img AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             |  user_id,
             |  (max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).event_id AS event_id,
             |  (max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).event_type AS event_type,
             |  strftime((max(struct_pack(ts := ts, event_id := event_id,
             |     event_type := event_type))).ts, '%Y-%m-%d %H:%M:%S') AS ts
             |  FROM e GROUP BY 1, 2),
             |b AS (SELECT min(event_id) AS lo, max(event_id) AS hi
             |  FROM img)
             |SELECT img.day, img.user_id, img.event_id, img.event_type,
             |  img.ts
             |FROM img, b WHERE img.event_id IN (b.lo, b.hi)""".stripMargin),
    ),

    // MERGE INTO (r11, SnapshotUpsert.mergeInto): SQL-MERGE semantics
    // on the snapshot table — the target holds per-user counts over
    // one event slice, the source over an overlapping slice (overlap
    // = user_id % 3 = 0), and the merge applies WHEN MATCHED AND
    // (t.cnt+s.cnt) % 5 = 0 THEN DELETE (delete outranks update),
    // WHEN MATCHED THEN UPDATE SET cnt = t.cnt + s.cnt (the increment
    // shape the latest-state upsert cannot express), WHEN NOT MATCHED
    // THEN INSERT. The oracle recomputes the same actions as a FULL
    // OUTER JOIN. NOTE for bench readers: the seed commit + merge
    // execute at plan construction; per-pass timings see the final
    // snapshot read.
    QueryDef(
      "q_snapshot_merge_into",
      (s, d) => {
        val ev = QueryDef.loadEvents(s, d)
        def counts(cond: org.apache.spark.sql.Column) = ev.where(cond)
          .groupBy("user_id").agg(count(lit(1)).as("cnt"))
        val dir = java.nio.file.Files
          .createTempDirectory("graft-merge-q").toString
        graft.streaming.SnapshotUpsert.upsertBatchSnapshot(
          counts(col("user_id") % 2 === 0 || col("user_id") % 3 === 0),
          dir, keys = Seq("user_id"), orderCol = "", nBuckets = 16)
        graft.streaming.SnapshotUpsert.mergeInto(
          counts(col("user_id") % 2 === 1 || col("user_id") % 3 === 0),
          dir, keys = Seq("user_id"),
          updateSet = Map("cnt" -> (col("t.cnt") + col("s.cnt"))),
          deleteCond = Some((col("t.cnt") + col("s.cnt")) % 5 === 0))
        graft.streaming.SnapshotUpsert.readSnapshot(s, dir)
      },
      Some("""WITH t AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
             |  FROM events WHERE user_id % 2 = 0 OR user_id % 3 = 0
             |  GROUP BY user_id),
             |s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
             |  FROM events WHERE user_id % 2 = 1 OR user_id % 3 = 0
             |  GROUP BY user_id)
             |SELECT COALESCE(t.user_id, s.user_id) AS user_id,
             |  CASE WHEN t.user_id IS NOT NULL AND s.user_id IS NOT NULL
             |    THEN t.cnt + s.cnt
             |    WHEN t.user_id IS NOT NULL THEN t.cnt
             |    ELSE s.cnt END AS cnt
             |FROM t FULL OUTER JOIN s ON t.user_id = s.user_id
             |WHERE NOT (t.user_id IS NOT NULL AND s.user_id IS NOT NULL
             |  AND (t.cnt + s.cnt) % 5 = 0)""".stripMargin),
    ),

    // Predicate DML (r11, deleteWhere/updateWhere): row-level UPDATE
    // then DELETE by predicate, each one atomic commit, the matching
    // rows planned through the SQL relation. Sequence: per-user count
    // table; UPDATE cnt = cnt * 2 WHERE cnt % 3 = 0; DELETE WHERE
    // cnt % 7 = 0 (evaluated on the post-update image). The oracle
    // replays both statements as CASE + filter over the recomputed
    // counts. NOTE for bench readers: seed + both DML commits execute
    // at plan construction; per-pass timings see the final read.
    QueryDef(
      "q_snapshot_dml",
      (s, d) => {
        val ev = QueryDef.loadEvents(s, d)
        val counts = ev.groupBy("user_id").agg(count(lit(1)).as("cnt"))
        val dir = java.nio.file.Files
          .createTempDirectory("graft-dml-q").toString
        graft.streaming.SnapshotUpsert.upsertBatchSnapshot(counts, dir,
          keys = Seq("user_id"), orderCol = "", nBuckets = 16)
        graft.streaming.SnapshotUpsert.updateWhere(s, dir,
          col("cnt") % 3 === 0, Map("cnt" -> (col("t.cnt") * 2L)))
        graft.streaming.SnapshotUpsert.deleteWhere(s, dir,
          col("cnt") % 7 === 0)
        graft.streaming.SnapshotUpsert.readSnapshot(s, dir)
      },
      Some("""WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY user_id),
             |u AS (SELECT user_id,
             |  CASE WHEN cnt % 3 = 0 THEN cnt * 2 ELSE cnt END AS cnt
             |  FROM c)
             |SELECT user_id, cnt FROM u WHERE cnt % 7 <> 0"""
        .stripMargin),
    ),

    // V2 TABLE CATALOG (r12, graft.catalog.GraftCatalog): the snapshot
    // table resolved BY NAME in plain SQL text — no temp-view
    // registration, no bespoke read API. The statement sequence is
    // catalog-native end to end: `DELETE FROM graft.t WHERE ...` runs
    // through Spark's own filter-delete path (SupportsDelete ->
    // deleteWhere's atomic commit), and the final SELECT is served
    // through the V1Scan bridge to the readSql relation, so manifest
    // file skipping applies to the catalog-resolved name exactly as it
    // does to the API reads (GraftCatalogSpec pins skipping + time
    // travel; GraftDmlSqlSpec pins SQL-text MERGE/UPDATE, which need
    // session extensions the shared driver session does not carry).
    // NOTE for bench readers: the seed commit + DELETE execute at plan
    // construction; per-pass timings see the catalog SELECT.
    QueryDef(
      "q_snapshot_catalog",
      (s, d) => {
        val ev = QueryDef.loadEvents(s, d)
        val counts = ev.groupBy("user_id").agg(count(lit(1)).as("cnt"))
        val root = java.nio.file.Files
          .createTempDirectory("graft-cat-q").toString
        graft.streaming.SnapshotUpsert.upsertBatchSnapshot(counts,
          s"$root/events_latest", keys = Seq("user_id"), orderCol = "",
          nBuckets = 16)
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.root", root)
        s.sql("DELETE FROM graft.events_latest WHERE cnt % 7 = 0")
        s.sql("SELECT user_id, cnt FROM graft.events_latest " +
          "WHERE user_id % 3 = 1")
      },
      Some("""WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY user_id)
             |SELECT user_id, cnt FROM c
             |WHERE cnt % 7 <> 0 AND user_id % 3 = 1""".stripMargin),
    ),

    // RESTORE as a stored procedure (r12, GraftProcedures): v1 = the
    // true per-user counts, v2 = a destructive overwrite (doubled),
    // then `CALL graft.system.restore` rolls back to v1 AS A FORWARD
    // COMMIT (zero data movement — v3 re-references v1's files;
    // history stays readable) and the catalog SELECT reads the
    // restored head. The oracle recomputes the v1 image from source —
    // so the gate proves the overwrite really landed AND the restore
    // really undid it, through SQL text end to end.
    QueryDef(
      "q_snapshot_restore",
      (s, d) => {
        val ev = QueryDef.loadEvents(s, d)
        val counts = ev.groupBy("user_id").agg(count(lit(1)).as("cnt"))
        val root = java.nio.file.Files
          .createTempDirectory("graft-restore-q").toString
        val dir = s"$root/user_counts"
        graft.streaming.SnapshotUpsert.upsertBatchSnapshot(counts, dir,
          keys = Seq("user_id"), orderCol = "", nBuckets = 16,
          keepVersions = 10)
        graft.streaming.SnapshotUpsert.upsertBatchSnapshot(
          counts.withColumn("cnt", col("cnt") * 2L), dir,
          keys = Seq("user_id"), orderCol = "", nBuckets = 16,
          keepVersions = 10)
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        s.conf.set("spark.sql.catalog.graft.root", root)
        s.sql("CALL graft.system.restore(table => 'user_counts', " +
          "version => 1, keep_versions => 10)").collect()
        s.sql("SELECT user_id, cnt FROM graft.user_counts " +
          "WHERE user_id % 4 = 2")
      },
      Some("""WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY user_id)
             |SELECT user_id, cnt FROM c WHERE user_id % 4 = 2"""
        .stripMargin),
    ),

    // CUBE grouping sets (all 4 combinations of the two dims), with
    // grouping_id disambiguating real NULLs from subtotal rows.
    QueryDef(
      "q_agg_cube",
      // Two-level cube (§2.2 shuffle fewer bytes): the dims are
      // 3x2-cardinality, so pre-aggregating by (returnflag, linestatus)
      // FIRST collapses the fact table to <= 6 rows map-side, and the
      // Expand x4 + grouping-set aggregation then runs over those 6
      // rows instead of multiplying every fact row by 4. Identical
      // results: count and the exact DECIMAL sum are both additive
      // over the partition by the base dims (sum-of-sums /
      // sum-of-counts), NULL dim values group as values at both
      // levels, and grouping_id() reads the re-grouped dims the same
      // way. (Only divergence would be a 0-row input, where the ()
      // set's n flips 0 -> NULL sum — lineitem is never empty at any
      // SF; oracle-gated.) Measured: 0.95 -> 0.33 s bench.
      // (Fan.out on the pre-aggregate input tried and REVERTED —
      // tools/FanCompare@3a89fdd: 0.73 -> 1.29 med at sf0.1; the fan shuffle
      // dwarfs the single-task 3-column sum.)
      (s, d) => load(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("__n"),
          sum(col("l_quantity").cast(DecimalType(12, 2))).as("__sq"))
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("__n")).as("n"),
          sum(col("__sq")).cast(DoubleType).as("sum_qty"),
          grouping_id().as("gid")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             | GROUPING(l_returnflag, l_linestatus) AS gid
             |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""
        .stripMargin),
    ),

    // The dedicated relational PIVOT (DataFrame .pivot API with an
    // explicit value list — without it Spark needs an extra pass to
    // discover the pivot values; always pass the list at scale).
    QueryDef(
      "q_pivot_api",
      (s, d) => QueryDef.loadEvents(s, d)
        .groupBy((col("user_id") % 10).as("user_bucket"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .count()
        // pivot leaves absent (bucket, type) cells NULL; the conditional
        // -agg oracle yields 0 — normalize so sparse buckets stay parity
        .na.fill(0L, Seq("click", "view", "purchase", "signup", "error")),
      Some("""SELECT user_id % 10 AS user_bucket,
             | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
             | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
             | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
             | CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
             | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
             |FROM events GROUP BY 1""".stripMargin),
    ),

    // ntile quantile bucketing (equal-frequency binning) with a total
    // order for determinism. Serial-window AUDIT ORACLE for the
    // distributed form below — parallelism = group count (3 tasks) by
    // construction, so it is deliberately NOT the primary name: a
    // registry consumer at scale gets the GlobalRank plan.
    QueryDef(
      "q_window_ntile_serial_oracle",
      (s, d) => {
        val w = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_extendedprice").asc_nulls_last, col("l_orderkey"), col("l_linenumber"))
        load(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"))
          .withColumn("quartile", ntile(4).over(w))
      },
      Some("""SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             | ntile(4) OVER (PARTITION BY l_returnflag
             |   ORDER BY l_extendedprice NULLS LAST, l_orderkey, l_linenumber) AS quartile
             |FROM lineitem""".stripMargin),
    ),

    // The CANONICAL exact ntile, through the distributed-rank operator
    // (bucket by approx-quantile boundaries, rank per slice, add
    // offsets): result-identical to the serial audit oracle above —
    // same DuckDB oracle — but parallelism is groups x buckets instead
    // of groups (sf1 rehearsal: the window form was the registry's
    // slowest decade-scaling at 8.1x, pinned to 3 tasks; this form ran
    // 2.8x faster on 32 cores and scales with the cluster).
    QueryDef(
      "q_window_ntile",
      (s, d) => graft.operators.GlobalRank.ntileByRange(
          load(s, d, "lineitem")
            .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
              col("l_extendedprice")),
          Seq("l_returnflag"), "l_extendedprice",
          Seq("l_orderkey", "l_linenumber"), n = 4)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("__tile").as("quartile")),
      Some("""SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             | ntile(4) OVER (PARTITION BY l_returnflag
             |   ORDER BY l_extendedprice NULLS LAST, l_orderkey, l_linenumber) AS quartile
             |FROM lineitem""".stripMargin),
    ),

    // Exact distinct counting (the expand-based distinct aggregate —
    // the exact counterpart of approx_count_distinct, which stays
    // spec-only because HLL estimates are engine-specific).
    QueryDef(
      "q_agg_distinct",
      (s, d) => QueryDef.loadEvents(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n")),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users,
             | count(*) AS n
             |FROM events GROUP BY event_type""".stripMargin),
    ),

    // Full outer join with partially-overlapping key ranges (left-only,
    // both, right-only rows all present).
    QueryDef(
      "q_join_full",
      (s, d) => {
        val c = load(s, d, "customer").filter(col("c_custkey") < 1000)
          .select(col("c_custkey").as("custkey"), col("c_name"))
        val o = load(s, d, "orders").filter(col("o_custkey") >= 500)
          .groupBy(col("o_custkey").as("custkey"))
          .agg(count(lit(1)).as("n_orders"))
        c.join(o, Seq("custkey"), "full")
      },
      Some("""WITH c AS (SELECT c_custkey AS custkey, c_name FROM customer
             |  WHERE c_custkey < 1000),
             |o AS (SELECT o_custkey AS custkey, count(*) AS n_orders
             |  FROM orders WHERE o_custkey >= 500 GROUP BY 1)
             |SELECT coalesce(c.custkey, o.custkey) AS custkey, c_name, n_orders
             |FROM c FULL JOIN o ON c.custkey = o.custkey""".stripMargin),
    ),

    // Correlated NOT EXISTS (argmax-by-subquery): each customer's
    // latest order, tiebroken by orderkey. Catalyst decorrelates the
    // subquery into a self-anti-join; all comparisons are on
    // date/integer values so both engines agree exactly.
    QueryDef(
      "q_subquery_latest",
      (s, d) => {
        load(s, d, "orders").createOrReplaceTempView("v_orders")
        s.sql("""SELECT o_orderkey, o_custkey,
                |  date_format(o_orderdate, 'yyyy-MM-dd') AS o_orderdate
                |FROM v_orders o
                |WHERE NOT EXISTS (
                |  SELECT 1 FROM v_orders o2
                |  WHERE o2.o_custkey = o.o_custkey
                |    AND (o2.o_orderdate > o.o_orderdate
                |      OR (o2.o_orderdate = o.o_orderdate
                |        AND o2.o_orderkey > o.o_orderkey)))""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_custkey,
             | strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
             |FROM orders o
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM orders o2
             |  WHERE o2.o_custkey = o.o_custkey
             |    AND (o2.o_orderdate > o.o_orderdate
             |      OR (o2.o_orderdate = o.o_orderdate
             |        AND o2.o_orderkey > o.o_orderkey)))""".stripMargin),
    ),

    // TPC-H Q5-shaped star join: 6 tables, region filter reaching the
    // region scan, small dims broadcast down the chain, one agg
    // shuffle at the end. The multi-way join-planning stress the rest
    // of the set lacks.
    QueryDef(
      "q_star_join",
      (s, d) => {
        val li = load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_discount"))
        val o = load(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
        val c = load(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
        val su = load(s, d, "supplier").select(col("s_suppkey"), col("s_nationkey"))
        val n = load(s, d, "nation").select(col("n_nationkey"), col("n_regionkey"),
          col("n_name"))
        val r = load(s, d, "region").filter(col("r_name") === "ASIA")
          .select(col("r_regionkey"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(su), col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(
            sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast(DecimalType(18, 6))).cast(DoubleType).as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some("""SELECT n_name,
             | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
             |   AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             | count(*) AS n_items
             |FROM lineitem
             | JOIN orders ON l_orderkey = o_orderkey
             | JOIN customer ON o_custkey = c_custkey
             | JOIN supplier ON l_suppkey = s_suppkey
             |   AND c_nationkey = s_nationkey
             | JOIN nation ON s_nationkey = n_nationkey
             | JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |GROUP BY n_name""".stripMargin),
    ),

    // ORDER BY + LIMIT top-k (TPC-H Q3 shape): Spark plans a
    // TakeOrderedAndProject — per-partition top-k then a k-row merge
    // on the driver, never a global sort. Deterministic via the
    // orderkey tiebreak.
    QueryDef(
      "q_top_orders",
      (s, d) => load(s, d, "lineitem")
        .select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 6)).as("rev"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("rev")).cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10),
      Some("""SELECT l_orderkey,
             | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
             |   AS DECIMAL(18,6))) AS DOUBLE) AS revenue
             |FROM lineitem GROUP BY l_orderkey
             |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin),
    ),

    // Fuzzy string matching (edit distance): near-matching customer
    // names within an id window — the record-linkage / entity-dedup
    // primitive. levenshtein is the classic DP edit distance in both
    // engines. The candidate window `id1 < id2 <= id1+3` is generated
    // as an EXPLICIT equi-join (explode the 3 offsets, join on
    // id2 = id1 + off): the range-predicate formulation has no equi
    // key and plans as a nested-loop join that runs on ONE core —
    // measured minutes at sf0.1 vs sub-second for this shape. Real
    // linkage blocks on a phonetic/ngram key exactly the same way the
    // dedup family blocks on bands.
    QueryDef(
      "q_fuzzy_match",
      (s, d) => {
        val c = load(s, d, "customer")
          .select(col("c_custkey"), col("c_name"))
        val a = c.select(col("c_custkey").as("id1"), col("c_name").as("n1"))
          .withColumn("__off", explode(array(lit(1L), lit(2L), lit(3L))))
          .withColumn("id2", col("id1") + col("__off")).drop("__off")
        val b = c.select(col("c_custkey").as("id2"), col("c_name").as("n2"))
        a.join(b, "id2")
          .select(col("id1"), col("id2"),
            levenshtein(col("n1"), col("n2")).as("edit_dist"))
          .filter(col("edit_dist") <= 4)
      },
      Some("""SELECT a.c_custkey AS id1, b.c_custkey AS id2,
             | levenshtein(a.c_name, b.c_name) AS edit_dist
             |FROM customer a JOIN customer b
             | ON b.c_custkey > a.c_custkey AND b.c_custkey <= a.c_custkey + 3
             |WHERE levenshtein(a.c_name, b.c_name) <= 4""".stripMargin),
    ),

    // Date arithmetic across a fact-fact join: ship delay in days per
    // order priority. The average divides an exact BIGINT sum by the
    // count in ONE double division — identical in any engine.
    QueryDef(
      "q_date_math",
      (s, d) => load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(load(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
            col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).as("delay"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("delay")).as("total_delay_days"),
          round(sum(col("delay")).cast(DoubleType) / count(lit(1)), 6)
            .as("avg_delay_days")),
      Some("""WITH j AS (SELECT o_orderpriority,
             |  date_diff('day', o_orderdate, l_shipdate) AS delay
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
             |SELECT o_orderpriority, count(*) AS n_items,
             | CAST(sum(delay) AS BIGINT) AS total_delay_days,
             | round(CAST(sum(delay) AS DOUBLE) / count(*), 6) AS avg_delay_days
             |FROM j GROUP BY o_orderpriority""".stripMargin),
    ),

    // Z-score outlier detection: per-group mean/std from exact decimal
    // power sums (the q_moment_stats recipe), broadcast back onto the
    // fact rows, flag |x - mean| > 1.5 std (the synthetic prices are near-uniform,
    // so the classic 3-sigma tail is empty; the threshold is the knob). The join-back is on the tiny
    // 3-row stats side so the fact table never shuffles.
    QueryDef(
      "q_outliers",
      (s, d) => {
        val x = col("l_extendedprice").cast(DecimalType(18, 2))
        val stats = load(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("__n"),
            sum(x).cast(DoubleType).as("__sx"),
            sum(x * x).cast(DoubleType).as("__sxx"))
          .select(col("l_returnflag"),
            (col("__sx") / col("__n")).as("__mean"),
            sqrt(col("__sxx") / col("__n") -
              (col("__sx") / col("__n")) * (col("__sx") / col("__n")))
              .as("__std"))
        load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_extendedprice"))
          .join(broadcast(stats), "l_returnflag")
          .filter(abs(col("l_extendedprice") - col("__mean")) >
            col("__std") * 1.5)
          .select(col("l_returnflag"), col("l_orderkey"),
            col("l_linenumber"), col("l_extendedprice"),
            round((col("l_extendedprice") - col("__mean")) / col("__std"), 4)
              .as("z"))
      },
      Some("""WITH s AS (SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |    CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxx
             |  FROM lineitem GROUP BY 1),
             |st AS (SELECT l_returnflag, sx / n AS mean,
             |  sqrt(sxx / n - (sx / n) * (sx / n)) AS std FROM s)
             |SELECT l.l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             | round((l_extendedprice - mean) / std, 4) AS z
             |FROM lineitem l JOIN st ON l.l_returnflag = st.l_returnflag
             |WHERE abs(l_extendedprice - mean) > std * 1.5""".stripMargin),
    ),

    // Cohort retention: users grouped by first-activity week, counted
    // per subsequent activity week — two aggregations, integer week
    // math, the canonical product-analytics rollup.
    QueryDef(
      "q_cohort_retention",
      (s, d) => {
        val ev = QueryDef.loadEvents(s, d)
          .select(col("user_id"),
            (unix_timestamp(date_trunc("second", col("ts"))) / 604800)
              .cast(LongType).as("wk"))
        val cohort = ev.groupBy(col("user_id"))
          .agg(min(col("wk")).as("cohort_wk"))
        ev.join(cohort, "user_id")
          .groupBy(col("cohort_wk"),
            (col("wk") - col("cohort_wk")).as("weeks_since"))
          .agg(countDistinct(col("user_id")).as("n_users"))
      },
      Some("""WITH ev AS (SELECT user_id,
             |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 604800 AS wk
             |  FROM events),
             |c AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1)
             |SELECT cohort_wk, wk - cohort_wk AS weeks_since,
             | count(DISTINCT ev.user_id) AS n_users
             |FROM ev JOIN c ON ev.user_id = c.user_id
             |GROUP BY 1, 2""".stripMargin),
    ),

    // Funnel analysis: per-user first-touch times per step, one
    // conditional-aggregation pass, then ordered-step predicates
    // decide how deep each user got. No joins, no self-unions.
    QueryDef(
      "q_funnel",
      (s, d) => {
        val firsts = QueryDef.loadEvents(s, d)
          .withColumn("es", unix_timestamp(date_trunc("second", col("ts"))))
          .groupBy(col("user_id"))
          .agg(
            min(when(col("event_type") === "view", col("es"))).as("t_view"),
            min(when(col("event_type") === "click", col("es"))).as("t_click"),
            min(when(col("event_type") === "purchase", col("es"))).as("t_purchase"))
        firsts.select(col("user_id"),
          col("t_view").isNotNull.as("reached_view"),
          (col("t_view").isNotNull && col("t_click").isNotNull &&
            col("t_click") >= col("t_view")).as("reached_click"),
          (col("t_view").isNotNull && col("t_click").isNotNull &&
            col("t_purchase").isNotNull && col("t_click") >= col("t_view") &&
            col("t_purchase") >= col("t_click")).as("reached_purchase"))
      },
      Some("""WITH f AS (SELECT user_id,
             |  min(CASE WHEN event_type = 'view'
             |    THEN CAST(epoch(date_trunc('second', ts)) AS BIGINT) END) AS t_view,
             |  min(CASE WHEN event_type = 'click'
             |    THEN CAST(epoch(date_trunc('second', ts)) AS BIGINT) END) AS t_click,
             |  min(CASE WHEN event_type = 'purchase'
             |    THEN CAST(epoch(date_trunc('second', ts)) AS BIGINT) END) AS t_purchase
             |  FROM events GROUP BY user_id)
             |SELECT user_id,
             | t_view IS NOT NULL AS reached_view,
             | (t_view IS NOT NULL AND t_click IS NOT NULL
             |   AND t_click >= t_view) AS reached_click,
             | (t_view IS NOT NULL AND t_click IS NOT NULL
             |   AND t_purchase IS NOT NULL AND t_click >= t_view
             |   AND t_purchase >= t_click) AS reached_purchase
             |FROM f""".stripMargin),
    ),

    // Exact distributed quantiles by NEAREST RANK: rank every value in
    // its group (one shuffle + local sort), pick the ceil(q*n)-th. The
    // picked value is a STORED double — no interpolation arithmetic —
    // so any engine agrees bit-for-bit. percentile_approx is the
    // cheaper scale path when one pass over unsorted data is required;
    // this is the exact oracle-able form. Serial-window AUDIT ORACLE
    // for the distributed form below (per-group rank window = one task
    // per group); the primary name carries the GlobalRank plan.
    QueryDef(
      "q_agg_percentiles_serial_oracle",
      (s, d) => {
        val w = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_extendedprice").asc_nulls_last, col("l_orderkey"))
        val wc = Window.partitionBy(col("l_returnflag"))
        load(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice"), col("l_orderkey"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(wc))
          .groupBy(col("l_returnflag"))
          .agg(
            max(when(col("rn") === ceil(col("n") * 0.5), col("l_extendedprice")))
              .as("p50"),
            max(when(col("rn") === ceil(col("n") * 0.9), col("l_extendedprice")))
              .as("p90"),
            max(when(col("rn") === ceil(col("n") * 0.99), col("l_extendedprice")))
              .as("p99"),
            max(col("n")).as("n_rows"))
      },
      Some("""WITH r AS (SELECT l_returnflag, l_extendedprice,
             |  ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |    ORDER BY l_extendedprice NULLS LAST, l_orderkey) AS rn,
             |  count(*) OVER (PARTITION BY l_returnflag) AS n
             |  FROM lineitem)
             |SELECT l_returnflag,
             | max(CASE WHEN rn = ceil(n * 0.5) THEN l_extendedprice END) AS p50,
             | max(CASE WHEN rn = ceil(n * 0.9) THEN l_extendedprice END) AS p90,
             | max(CASE WHEN rn = ceil(n * 0.99) THEN l_extendedprice END) AS p99,
             | max(n) AS n_rows
             |FROM r GROUP BY l_returnflag""".stripMargin),
    ),

    // The CANONICAL exact nearest-rank quantiles through the
    // distributed-rank operator — identical result and oracle, but no
    // per-group serial rank window (sf1 rehearsal: the window form was
    // 7.6x across the decade, parallelism = 3 groups).
    QueryDef(
      "q_agg_percentiles",
      (s, d) => graft.operators.GlobalRank.quantilesByRank(
        load(s, d, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice"), col("l_orderkey")),
        Seq("l_returnflag"), "l_extendedprice", Seq("l_orderkey"),
        Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)),
      Some("""WITH r AS (SELECT l_returnflag, l_extendedprice,
             |  ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |    ORDER BY l_extendedprice NULLS LAST, l_orderkey) AS rn,
             |  count(*) OVER (PARTITION BY l_returnflag) AS n
             |  FROM lineitem)
             |SELECT l_returnflag,
             | max(CASE WHEN rn = ceil(n * 0.5) THEN l_extendedprice END) AS p50,
             | max(CASE WHEN rn = ceil(n * 0.9) THEN l_extendedprice END) AS p90,
             | max(CASE WHEN rn = ceil(n * 0.99) THEN l_extendedprice END) AS p99,
             | max(n) AS n_rows
             |FROM r GROUP BY l_returnflag""".stripMargin),
    ),

    // INCREMENTAL MATERIALIZED VIEW, delta-maintained (IncrementalMv
    // .refreshDelta): a keyed base table takes three commits (inserts,
    // then full-row updates — one block MOVING rows between groups, one
    // changing the summed column — then tombstone deletes plus more
    // updates), and after each commit the count+sum MV folds ONLY the
    // change-feed slice: signed ±contributions per group (retraction
    // via the feed's _before image), current MV rows point-read via
    // readKeys, and the applied base version committed as a table
    // property IN the same manifest as the refreshed rows (exactly-once
    // by construction). The final MV must equal a from-scratch GROUP BY
    // over the accumulated base image, which is what the oracle
    // computes. NOTE for bench readers: the base commits + refreshes
    // execute at plan construction (eager, real disk commits to a temp
    // dir); per-pass timings see the MV read — the deployment's serve
    // cost.
    QueryDef(
      "q_mv_incremental",
      (s, d) => {
        val docs = load(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-mv-q").toString
        val base = s"$tmp/base"; val mv = s"$tmp/mv"
        def commit(b: org.apache.spark.sql.DataFrame,
            del: Option[String] = None): Unit =
          graft.streaming.SnapshotUpsert.upsertBatchSnapshot(b, base,
            keys = Seq("doc_id"), orderCol = "", nBuckets = 16,
            tombstoneCol = del)
        def fold(): Unit = {
          graft.operators.IncrementalMv.refreshDelta(s, base, mv,
            baseKeys = Seq("doc_id"), groupCols = Seq("lang"),
            sumCols = Seq("n_chars"), nBuckets = 16)
          ()
        }
        commit(docs.filter(col("doc_id") < 300))
        fold()
        commit(docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
          .unionByName(docs
            .filter(col("doc_id") >= 100 && col("doc_id") < 200)
            .withColumn("lang",
              when(col("doc_id") < 150, lit("xx")).otherwise(col("lang")))
            .withColumn("n_chars",
              when(col("doc_id") >= 150, col("n_chars") * 2)
                .otherwise(col("n_chars")))))
        fold()
        commit(docs.filter(col("doc_id") < 50)
          .withColumn("_del", lit(true))
          .unionByName(docs
            .filter(col("doc_id") >= 350 && col("doc_id") < 380)
            .withColumn("lang", lit("yy"))
            .withColumn("_del", lit(false))),
          del = Some("_del"))
        fold()
        graft.operators.IncrementalMv.readMv(s, mv)
      },
      Some("""WITH base AS (SELECT doc_id,
             |  CASE WHEN doc_id >= 100 AND doc_id < 150 THEN 'xx'
             |       WHEN doc_id >= 350 AND doc_id < 380 THEN 'yy'
             |       ELSE lang END AS lang,
             |  CASE WHEN doc_id >= 150 AND doc_id < 200 THEN n_chars * 2
             |       ELSE n_chars END AS n_chars
             |  FROM documents WHERE doc_id >= 50 AND doc_id < 400)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n,
             | CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
             | CAST(count(n_chars) AS BIGINT) AS nn_n_chars
             |FROM base GROUP BY lang""".stripMargin),
    ),

    // Incremental MV with NON-RETRACTABLE aggregates (IncrementalMv
    // .refreshByGroups): min/max/count-distinct cannot be maintained by
    // ±deltas, so the change feed only identifies WHICH groups changed
    // and those groups are recomputed from the current base image —
    // point-pruned, because the base is keyed (source, doc_id) and
    // BUCKETED BY its `source` prefix, so the recompute reads only the
    // touched groups' buckets. Same exactly-once cursor contract as the
    // delta MV; same from-scratch GROUP BY oracle. NOTE for bench
    // readers: commits + refreshes execute at plan construction.
    QueryDef(
      "q_mv_groups_incremental",
      (s, d) => {
        val docs = load(s, d, "documents")
          .select(col("source"), col("doc_id"), col("lang"), col("n_chars"))
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-mvg-q").toString
        val base = s"$tmp/base"; val mv = s"$tmp/mv"
        def commit(b: org.apache.spark.sql.DataFrame,
            del: Option[String] = None): Unit =
          graft.streaming.SnapshotUpsert.upsertBatchSnapshot(b, base,
            keys = Seq("source", "doc_id"), orderCol = "", nBuckets = 16,
            bucketCols = Seq("source"), tombstoneCol = del)
        def fold(): Unit = {
          graft.operators.IncrementalMv.refreshByGroups(s, base, mv,
            baseKeys = Seq("source", "doc_id"), groupCols = Seq("source"),
            aggs = Seq(count(lit(1)).as("n"),
              min(col("n_chars")).as("min_chars"),
              max(col("n_chars")).as("max_chars"),
              countDistinct(col("lang")).as("n_langs")),
            nBuckets = 16)
          ()
        }
        commit(docs.filter(col("doc_id") < 300))
        fold()
        commit(docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
          .unionByName(docs
            .filter(col("doc_id") >= 100 && col("doc_id") < 160)
            .withColumn("n_chars", col("n_chars") + 7)))
        fold()
        commit(docs.filter(col("doc_id") < 40)
          .withColumn("_del", lit(true))
          .unionByName(docs
            .filter(col("doc_id") >= 200 && col("doc_id") < 240)
            .withColumn("lang", upper(col("lang")))
            .withColumn("_del", lit(false))),
          del = Some("_del"))
        fold()
        graft.operators.IncrementalMv.readMv(s, mv)
      },
      Some("""WITH base AS (SELECT doc_id, source,
             |  CASE WHEN doc_id >= 200 AND doc_id < 240 THEN upper(lang)
             |       ELSE lang END AS lang,
             |  CASE WHEN doc_id >= 100 AND doc_id < 160 THEN n_chars + 7
             |       ELSE n_chars END AS n_chars
             |  FROM documents WHERE doc_id >= 40 AND doc_id < 400)
             |SELECT source, CAST(count(*) AS BIGINT) AS n,
             | min(n_chars) AS min_chars, max(n_chars) AS max_chars,
             | CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
             |FROM base GROUP BY source""".stripMargin),
    ),

    // Incremental TOP-K MV: a per-group leaderboard (top-3 docs by
    // n_chars, ties by doc_id) maintained through updates that boost
    // rows INTO the top and deletes that knock current leaders OUT —
    // rank is the canonical structurally-non-retractable aggregate
    // (a delta design cannot know the 4th-place row a deletion
    // promotes), exactly the recompute-touched-groups case: the MV
    // stores the top array per group, the refresh recomputes only the
    // groups the feed touched (point-pruned via the source-prefix
    // bucketing), and the query explodes the stored arrays for the
    // oracle's row_number comparison. NOTE for bench readers: commits +
    // refreshes execute at plan construction.
    QueryDef(
      "q_mv_topk_incremental",
      (s, d) => {
        val docs = load(s, d, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"))
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-mvtopk-q").toString
        val base = s"$tmp/base"; val mv = s"$tmp/mv"
        def commit(b: org.apache.spark.sql.DataFrame,
            del: Option[String] = None): Unit =
          graft.streaming.SnapshotUpsert.upsertBatchSnapshot(b, base,
            keys = Seq("source", "doc_id"), orderCol = "", nBuckets = 16,
            bucketCols = Seq("source"), tombstoneCol = del)
        def fold(): Unit = {
          // ascending struct sort on (-n_chars, doc_id) = descending by
          // size with ascending id tiebreak; slice keeps the top 3
          graft.operators.IncrementalMv.refreshByGroups(s, base, mv,
            baseKeys = Seq("source", "doc_id"), groupCols = Seq("source"),
            aggs = Seq(slice(sort_array(collect_list(struct(
              (-col("n_chars")).as("neg"), col("doc_id"))), asc = true),
              1, 3).as("top")),
            nBuckets = 16)
          ()
        }
        commit(docs.filter(col("doc_id") < 300))
        fold()
        commit(docs.filter(col("doc_id") >= 250 && col("doc_id") < 300)
          .withColumn("n_chars", col("n_chars") * 3)
          .unionByName(docs
            .filter(col("doc_id") >= 300 && col("doc_id") < 400)))
        fold()
        commit(docs.filter(col("doc_id") >= 280 && col("doc_id") < 300)
          .withColumn("_del", lit(true))
          .unionByName(docs.filter(col("doc_id") < 50)
            .withColumn("n_chars", col("n_chars") + 1)
            .withColumn("_del", lit(false))),
          del = Some("_del"))
        fold()
        graft.operators.IncrementalMv.readMv(s, mv)
          .select(col("source"), posexplode(col("top")))
          .select(col("source"), (col("pos") + 1).cast("long").as("pos"),
            col("col.doc_id").as("doc_id"),
            (-col("col.neg")).as("n_chars"))
      },
      Some("""WITH base AS (SELECT doc_id, source,
             |  CASE WHEN doc_id >= 250 AND doc_id < 280 THEN n_chars * 3
             |       WHEN doc_id < 50 THEN n_chars + 1
             |       ELSE n_chars END AS n_chars
             |  FROM documents
             |  WHERE doc_id < 400 AND NOT (doc_id >= 280 AND doc_id < 300))
             |SELECT source, CAST(rn AS BIGINT) AS pos, doc_id, n_chars
             |FROM (SELECT source, doc_id, n_chars,
             |   row_number() OVER (PARTITION BY source
             |     ORDER BY n_chars DESC, doc_id) AS rn
             | FROM base) AS ranked
             |WHERE rn <= 3""".stripMargin),
    ),
  )
}
