package graft.catalog

import graft.SparkSpec
import graft.streaming.SnapshotUpsert
import org.apache.spark.sql.SparkSession

import java.nio.file.Files

/** SQL-text UPDATE / MERGE INTO through [[GraftDmlRule]] — the rules
  * ride session extensions, so these tests run on a dedicated session
  * built with `withExtensions(new graft.GraftExtensions)` (sharing the
  * test JVM's SparkContext), the deployment wiring
  * `spark.sql.extensions=graft.GraftExtensions` produces. */
class GraftDmlSqlSpec extends SparkSpec {

  private def withExtSession[A](f: SparkSession => A): A = {
    val base = spark // force the shared session (and context) first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(new graft.GraftExtensions)
        .getOrCreate()
      try f(s2)
      finally {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  private def seed(s: SparkSession, dir: String,
      rows: Seq[(Long, String, Long)]): Unit = {
    import s.implicits._
    SnapshotUpsert.upsertBatchSnapshot(rows.toDF("id", "status", "cnt"),
      dir, Seq("id"), "", nBuckets = 8, keepVersions = 10)
  }

  private def install(s: SparkSession, root: String): Unit = {
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", root)
  }

  test("UPDATE graft.t SET ... WHERE ... commits atomically and " +
      "supports expressions over the current row") {
    withExtSession { s =>
      val root = Files.createTempDirectory("graft-dmlsql").toString
      install(s, root)
      seed(s, s"$root/u", (0L until 10L).map(i => (i, s"s$i", i)))
      s.sql("UPDATE graft.u SET cnt = cnt * 10, status = upper(status) " +
        "WHERE id % 2 = 0")
      val got = s.sql("SELECT id, status, cnt FROM graft.u")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      val want = (0L until 10L).map(i =>
        if (i % 2 == 0) (i, s"S$i", i * 10) else (i, s"s$i", i)).toSet
      assert(got == want)
      // prior version still time-travels (the UPDATE was one commit)
      assert(s.sql("SELECT cnt FROM graft.u VERSION AS OF 1 WHERE id = 2")
        .head.getLong(0) == 2L)
    }
  }

  test("MERGE INTO runs the full matched/not-matched action set as " +
      "one commit — the capstone statement as SQL text") {
    withExtSession { s =>
      val root = Files.createTempDirectory("graft-dmlsql").toString
      install(s, root)
      seed(s, s"$root/m", Seq((1L, "a", 10L), (2L, "b", 20L),
        (3L, "c", 30L), (4L, "d", 5L)))
      import s.implicits._
      Seq((2L, "B2", 1L), (3L, "C3", 70L), (4L, "D4", 1L),
        (9L, "new9", 90L))
        .toDF("id", "status", "cnt").createOrReplaceTempView("src")
      s.sql("""MERGE INTO graft.m AS t USING src AS s ON t.id = s.id
              |WHEN MATCHED AND t.cnt + s.cnt >= 100 THEN DELETE
              |WHEN MATCHED THEN UPDATE SET cnt = t.cnt + s.cnt,
              |  status = s.status
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val got = s.sql("SELECT id, status, cnt FROM graft.m")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSet
      // 1 untouched; 2 updated (21); 3 deleted (30+70>=100); 4 updated
      // (6); 9 inserted
      assert(got == Set((1L, "a", 10L), (2L, "B2", 21L), (4L, "D4", 6L),
        (9L, "new9", 90L)), got.toString)
    }
  }

  test("SQL clause order is honored: UPDATE listed before DELETE " +
      "shields matched rows the update condition claims") {
    withExtSession { s =>
      val root = Files.createTempDirectory("graft-dmlsql").toString
      install(s, root)
      seed(s, s"$root/o", Seq((1L, "x", 100L), (2L, "y", 100L)))
      import s.implicits._
      Seq((1L, "upd", 1L), (2L, "upd", 2L)).toDF("id", "status", "cnt")
        .createOrReplaceTempView("src2")
      // update claims id=1 first; the later DELETE (always-true) may
      // only take what the update left
      s.sql("""MERGE INTO graft.o AS t USING src2 AS s ON t.id = s.id
              |WHEN MATCHED AND s.cnt = 1 THEN UPDATE SET status = s.status
              |WHEN MATCHED THEN DELETE""".stripMargin)
      val got = s.sql("SELECT id, status FROM graft.o").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "upd")), got.toString)
    }
  }

  test("INSERT INTO merges through the recorded contract: new keys " +
      "land, restated keys replace by the recorded precedence, one " +
      "atomic commit") {
    withExtSession { s =>
      val root = Files.createTempDirectory("graft-dmlsql").toString
      install(s, root)
      // orderCol = cnt: higher cnt wins a restated key
      import s.implicits._
      SnapshotUpsert.upsertBatchSnapshot(
        Seq((1L, "a", 5L), (2L, "b", 5L)).toDF("id", "status", "cnt"),
        s"$root/ins", Seq("id"), "cnt", nBuckets = 8, keepVersions = 10)
      s.sql("INSERT INTO graft.ins VALUES (2, 'b2', 9), (3, 'c', 1)")
      val got = s.sql("SELECT id, status, cnt FROM graft.ins").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == Set((1L, "a", 5L), (2L, "b2", 9L), (3L, "c", 1L)),
        got.toString)
      // a LOSING restatement (lower cnt) leaves the row unchanged —
      // INSERT is the table's merge, not a blind append
      s.sql("INSERT INTO graft.ins VALUES (2, 'stale', 1)")
      assert(s.sql("SELECT status FROM graft.ins WHERE id = 2")
        .head.getString(0) == "b2")
      // and SELECT via a subquery source works too
      s.sql("INSERT INTO graft.ins SELECT id + 10, status, cnt " +
        "FROM graft.ins WHERE id = 1")
      assert(s.sql("SELECT count(*) FROM graft.ins").head.getLong(0) == 4L)
    }
  }

  test("unfaithful statements are refused with actionable errors, " +
      "not reinterpreted") {
    withExtSession { s =>
      val root = Files.createTempDirectory("graft-dmlsql").toString
      install(s, root)
      seed(s, s"$root/r", Seq((1L, "a", 1L)))
      import s.implicits._
      Seq((1L, "a", 1L)).toDF("id", "status", "cnt")
        .createOrReplaceTempView("src3")
      // ON clause not covering the merge keys
      val e1 = intercept[Exception](s.sql(
        """MERGE INTO graft.r AS t USING src3 AS s ON t.cnt = s.cnt
          |WHEN MATCHED THEN DELETE""".stripMargin))
      assert(e1.getMessage.contains("recorded merge keys"), e1.getMessage)
      // NOT MATCHED BY SOURCE
      val e2 = intercept[Exception](s.sql(
        """MERGE INTO graft.r AS t USING src3 AS s ON t.id = s.id
          |WHEN MATCHED THEN DELETE
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin))
      assert(e2.getMessage.contains("NOT MATCHED BY SOURCE"),
        e2.getMessage)
      // partial INSERT column list
      val e3 = intercept[Exception](s.sql(
        """MERGE INTO graft.r AS t USING src3 AS s ON t.id = s.id
          |WHEN NOT MATCHED THEN INSERT (id) VALUES (s.id)""".stripMargin))
      assert(e3.getMessage.contains("source row as-is") ||
        e3.getMessage.contains("every source column"), e3.getMessage)
    }
  }

  test("UPDATE of a struct field is refused: only top-level columns " +
      "can be assigned") {
    withExtSession { s =>
      val root = Files.createTempDirectory("graft-dmlsql").toString
      install(s, root)
      import s.implicits._
      SnapshotUpsert.upsertBatchSnapshot(
        Seq((1L, "a")).toDF("id", "f").selectExpr("id", "named_struct('f', f) AS st"),
        s"$root/st", Seq("id"), "", nBuckets = 2, keepVersions = 10)
      val e = intercept[Exception](s.sql("UPDATE graft.st SET st.f = 'b'"))
      assert(e.getMessage.contains("only top-level columns can be assigned"),
        e.getMessage)
      assert(s.sql("SELECT st.f FROM graft.st").head.getString(0) == "a")
    }
  }
}
