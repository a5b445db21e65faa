package graft.streaming

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

import java.nio.file.Files

/** The engine's canonical value form for recorded stats / value sets
  * (r12): timestamps canonicalize as epoch MICROS — independent of
  * `spark.sql.session.timeZone` — because a table written under one
  * session zone and read under another would otherwise compare two
  * different renderings of the same instant and FALSELY prune files
  * (r12). Also pins the r12 layered-bucket fold refinement
  * (predicate- AND key-disjoint base files drop from the fold) and the
  * manifest's one-format reader gate. */
class StatCanonicalSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-canon").toString

  private def withTz[A](tz: String)(f: => A): A = {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try f finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("timestamp range stats recorded under one session timezone " +
      "prune correctly under another — and pruning still fires") {
    import spark.implicits._
    val dir = tmp()
    // three days of per-id rows; cluster + bucket by day so each day
    // lands in its own file with a tight ts range
    val rows = (0 until 30).map { i =>
      (s"2024-03-0${1 + i % 3}", i.toLong, f"2024-03-0${1 + i % 3}%s 12:${i}%02d:00")
    }
    withTz("America/Los_Angeles") {
      val df = rows.toDF("day", "id", "tss")
        .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
      SnapshotUpsert.upsertBatchSnapshot(df, dir,
        keys = Seq("day", "id"), orderCol = "", nBuckets = 8,
        bucketCols = Seq("day"), keepVersions = 5,
        props = Map(SnapshotUpsert.ClusterColsProp -> "ts"))
    }
    withTz("Asia/Tokyo") {
      // the same INSTANT window the writer's day-2 rows occupy,
      // expressed as Tokyo wall-clock: LA (PST, UTC-8) 12:01..12:28 =
      // Tokyo (UTC+9) 05:01..05:28 next day
      val expect = SnapshotUpsert.readSnapshot(spark, dir)
        .where(col("day") === "2024-03-02")
      val got = SnapshotUpsert.readRange(spark, dir, "ts",
        "2024-03-03 05:00:00", "2024-03-03 06:00:00")
      assert(got.select("day", "id").collect().map(r =>
          (r.getString(0), r.getLong(1))).toSet ==
        expect.select("day", "id").collect().map(r =>
          (r.getString(0), r.getLong(1))).toSet)
      assert(got.count() == 10)
      // and the skip itself still works under the new zone: a window
      // past every recorded instant prunes EVERY file (bucket-hash
      // collisions can merge days into one file, so a window inside
      // one day is not a deterministic pin — an empty window is)
      def canon(s: String): String = spark.range(1).select(
        SnapshotUpsert.canonicalValue(
          lit(s).cast(TimestampType), TimestampType)).head.getString(0)
      val (kept, total) = SnapshotUpsert.rangeKept(spark, dir, "ts",
        canon("2024-03-09 05:00:00"), canon("2024-03-09 06:00:00"))
      assert(kept == 0 && total > 0, s"no pruning: $kept of $total")
    }
  }

  test("statCompare compares canonical micros and integrals " +
      "numerically, strings lexicographically") {
    assert(SnapshotUpsert.statCompare(TimestampType,
      "1704067200000000", "1704067200000001") == -1)
    assert(SnapshotUpsert.statCompare(TimestampType,
      "999999999999999", "1704067200000000") < 0)
    assert(SnapshotUpsert.statCompare(LongType, "10", "9") > 0)
    assert(SnapshotUpsert.statCompare(StringType, "a", "b") < 0)
  }

  test("a canonical-form value set on a timestamp column prunes a " +
      "disjoint file and keeps a matching one") {
    val rel = "batches/v1-x/kb=0/f.parquet"
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("ts", TimestampType)))
    def snapWith(recorded: Set[String]) = SnapshotUpsert.Snapshot(
      1L, 4, 0L, schema, Map(0 -> Seq(rel)), Seq("id"), Seq("id"), "",
      props = Map(SnapshotUpsert.ValueSetColsProp -> "ts"),
      valueSets = Map(rel -> Map("ts" -> recorded)))
    val probeMicros = 1704067200000000L
    val filters = Seq(EqualTo(AttributeReference("ts", TimestampType)(),
      Literal(probeMicros, TimestampType)))
    // canonical form, disjoint value -> pruned
    val canon = new SnapshotFileIndex(spark, new Path(tmp()),
      snapWith(Set("1700000000000000")))
    assert(canon.keptRels(filters).isEmpty)
    // canonical form, matching value -> kept
    val hit = new SnapshotFileIndex(spark, new Path(tmp()),
      snapWith(Set(probeMicros.toString)))
    assert(hit.keptRels(filters) == Seq(rel))
  }

  test("layered-bucket fold refinement: a base file both predicate- " +
      "and key-disjoint from every layer drops from the fold; " +
      "key-overlapping base files never drop") {
    import spark.implicits._
    val dir = tmp()
    // one bucket: base holds ids 0..99, the delta layer inserts
    // 100..149 — key ranges disjoint (the append-mostly shape)
    SnapshotUpsert.upsertBatchSnapshot(
      (0L until 100L).map(i => (i, s"s$i", 1L)).toDF("id", "status", "v"),
      dir, keys = Seq("id"), orderCol = "v", nBuckets = 1, keepVersions = 5,
      props = Map(SnapshotUpsert.ClusterColsProp -> "id"))
    SnapshotUpsert.appendDeltaSnapshot(
      (100L until 150L).map(i => (i, s"d$i", 1L)).toDF("id", "status", "v"),
      dir, keys = Seq("id"), orderCol = "v", nBuckets = 1, keepVersions = 5)
    // range entirely inside the layer's keys: the base file is
    // predicate-disjoint AND key-disjoint -> dropped; kept = layer only
    val (kept, total) = SnapshotUpsert.rangeKept(spark, dir, "id",
      "120", "140")
    assert(total == 2 && kept == 1, s"kept $kept of $total")
    val got = SnapshotUpsert.readRange(spark, dir, "id", 120L, 140L)
    assert(got.select("id").collect().map(_.getLong(0)).toSet ==
      (120L to 140L).toSet)

    // overlapping shape: a second layer RE-STATES ids 90..99 with a
    // LOWER order value (it must LOSE to the base in the fold); a
    // range probe over 95..130 keeps the base file (key overlap with
    // a layer) and the fold result must show the BASE rows winning
    SnapshotUpsert.appendDeltaSnapshot(
      (90L until 100L).map(i => (i, s"stale$i", 0L)).toDF("id", "status", "v"),
      dir, keys = Seq("id"), orderCol = "v", nBuckets = 1, keepVersions = 5)
    val got2 = SnapshotUpsert.readRange(spark, dir, "id", 95L, 130L)
    val m = got2.select("id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(95L) == "s95" && m(99L) == "s99", s"stale layer won: $m")
    assert(m(120L) == "d120")
    val (kept2, total2) = SnapshotUpsert.rangeKept(spark, dir, "id",
      "95", "130")
    assert(total2 == 3 && kept2 == 3,
      s"base must stay when keys overlap: kept $kept2 of $total2")
  }

  test("a manifest not in this engine's format, or missing part of its " +
      "contract, is refused with an error naming the table and the format") {
    import spark.implicits._
    val dir = tmp()
    SnapshotUpsert.upsertBatchSnapshot(
      Seq((1L, "a", 1L)).toDF("id", "status", "v"), dir,
      keys = Seq("id"), orderCol = "v", nBuckets = 2)
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1 = SnapshotUpsert.readFully(fs,
      new Path(root, "_manifests/v000000000001.txt")).split("\n").toSeq
    val firstL = v1.find(_.startsWith("L\t")).get
    val fmt = s"#format=${SnapshotUpsert.ManifestFormat}"
    // (case, doctored v1 lines, the format the refusal must name)
    val cases: Seq[(String, Seq[String], String)] = Seq(
      ("no #format stamp", v1.filterNot(_ == fmt), "none"),
      ("#format=3", v1.map(l => if (l == fmt) "#format=3" else l), "3"),
      ("#format=99", v1.map(l => if (l == fmt) "#format=99" else l), "99"),
      ("#keys removed", v1.filterNot(_.startsWith("#keys=")), "4"),
      ("#ts removed", v1.filterNot(_.startsWith("#ts=")), "4"),
      ("an L line removed", v1.filterNot(_ == firstL), "4"))
    val v2 = new Path(root, "_manifests/v000000000002.txt")
    cases.foreach { case (what, lines, found) =>
      val out = fs.create(v2, true)
      try out.write(lines.mkString("\n").getBytes("UTF-8")) finally out.close()
      val e = intercept[RuntimeException] {
        SnapshotUpsert.readSnapshot(spark, dir).collect()
      }
      assert(e.getMessage.contains(s"at $root (format $found)") &&
        e.getMessage.contains("rewrite the table"), s"$what: ${e.getMessage}")
    }
    // the untouched v1 still reads once the doctored head is gone
    assert(fs.delete(v2, false))
    assert(SnapshotUpsert.readSnapshot(spark, dir).count() == 1)
  }

  test("a declared value-set column that is HIGH-cardinality in every " +
      "file records nothing (bounded screen), while a low-cardinality " +
      "column beside it still records") {
    import spark.implicits._
    val dir = tmp()
    val df = (0L until 2000L).map(i => (i, s"u-$i", s"lang${i % 3}", 1L))
      .toDF("id", "uid", "lang", "v")
    SnapshotUpsert.upsertBatchSnapshot(df, dir, keys = Seq("id"),
      orderCol = "v", nBuckets = 2, keepVersions = 5,
      props = Map(SnapshotUpsert.ValueSetColsProp -> "uid,lang"))
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val s = SnapshotUpsert.currentSnapshot(fs, root).get
    s.files.valuesIterator.flatten.foreach { rel =>
      val cols = s.valueSets.getOrElse(rel, Map.empty)
      assert(!cols.contains("uid"), s"high-card uid recorded for $rel")
      assert(cols.get("lang").exists(_.nonEmpty), s"lang missing for $rel")
    }
  }
}
