package graft.io

import graft.SparkSpec
import graft.schemas.AdvisorySchemas
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.nio.file.Files

class TableIOSpec extends SparkSpec {

  lazy val tmp: String = Files.createTempDirectory("tableio").toString

  test("missing path yields empty DataFrame with declared schema") {
    val df = TableIO.readTable(spark, s"$tmp/definitely/not/here",
      AdvisorySchemas.cveStateMachine)
    assert(df.schema == AdvisorySchemas.cveStateMachine)
    assert(df.count() == 0)
  }

  test("write + read round trip with cast-projection") {
    val rows = new java.util.ArrayList[Row]()
    rows.add(Row("pkg-a", "CVE-2024-1", "1.0.0"))
    rows.add(Row("pkg-b", "CVE-2024-2", null))
    // extra column + wrong type: cast-projection must fix both
    val wide = spark.createDataFrame(rows, StructType(Seq(
      StructField("package_name", StringType), StructField("cve_id", StringType),
      StructField("fixed_version", StringType))))
      .withColumn("extra", org.apache.spark.sql.functions.lit(42))
    TableIO.writeTable(wide, s"$tmp/echo", AdvisorySchemas.echoAdvisory, partitions = 1)
    val back = TableIO.readTable(spark, s"$tmp/echo", AdvisorySchemas.echoAdvisory)
    assert(back.columns.toSeq == Seq("package_name", "cve_id", "fixed_version"))
    assert(back.count() == 2)
  }

  test("a one-file write coalesces: no exchange, every row in one file, in order " +
      "when sorted") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val schema = StructType(Seq(StructField("id", LongType), StructField("k", LongType)))
    // four input partitions, k not in input order
    val df = spark.range(0, 1000, 1, 4).select(col("id"), pmod(col("id") * 7919, lit(1000)).as("k"))
    assert(df.rdd.getNumPartitions == 4)
    for (sortBy <- Seq(Nil, Seq(col("k")))) {
      val out = s"$tmp/one_file_${sortBy.size}"
      val plans = new graft.pipeline.PlanLog
      spark.listenerManager.register(plans)
      try plans.during("write") { TableIO.writeTable(df, out, schema, partitions = 1, sortBy = sortBy) }
      finally spark.listenerManager.unregister(plans)
      val exchanges = plans.all.flatMap { case (_, _, p) =>
        graft.pipeline.PlanWalk.collectWithSubqueries(p) { case e: ShuffleExchangeExec => e } }
      assert(plans.all.nonEmpty && exchanges.isEmpty, s"sortBy=$sortBy: $exchanges")
      val files = new java.io.File(out).listFiles().map(_.getPath).filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"sortBy=$sortBy: ${files.toSeq}")
      val rows = spark.read.parquet(files.head).collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.map(_._1).sorted.toSeq == (0L until 1000L))
      if (sortBy.nonEmpty) assert(rows.map(_._2).toSeq == (0L until 1000L))
      else assert(rows.map(_._1).toSeq == (0L until 1000L)) // the input's partition order
    }
  }

  test("multipath read unions partition dirs; missing paths skipped") {
    val df = TableIO.readTableMultipath(spark,
      Seq(s"$tmp/echo", s"$tmp/nope"), AdvisorySchemas.echoAdvisory)
    assert(df.count() == 2)
    val none = TableIO.readTableMultipath(spark, Seq(s"$tmp/no1", s"$tmp/no2"),
      AdvisorySchemas.echoAdvisory)
    assert(none.count() == 0)
  }

  test("csv read with header and schema") {
    val p = s"$tmp/csv"
    Files.createDirectories(java.nio.file.Paths.get(p))
    Files.writeString(java.nio.file.Paths.get(s"$p/data.csv"),
      "cve_id,package,status,fixed_version,internal_status\n" +
        "CVE-2024-9,glibc,not_applicable,,code_not_in_use\n")
    val df = TableIO.readTable(spark, p, AdvisorySchemas.notApplicableCves,
      TableIO.Csv(header = true))
    assert(df.count() == 1)
    assert(df.head().getString(4) == "code_not_in_use")
  }

  test("orc write + schema-applied read round trip") {
    val df = TableIO.readTable(spark, s"$tmp/echo", AdvisorySchemas.echoAdvisory)
    TableIO.writeTable(df, s"$tmp/echo_orc", AdvisorySchemas.echoAdvisory,
      format = TableIO.Orc)
    val back = TableIO.readTable(spark, s"$tmp/echo_orc",
      AdvisorySchemas.echoAdvisory, TableIO.Orc)
    assert(back.count() == 2)
    assert(back.columns.toSeq == Seq("package_name", "cve_id", "fixed_version"))
    // hive-partitioned ORC write + basePath read (partition column
    // comes back from the path, not the files)
    TableIO.writeTable(df, s"$tmp/echo_orc_part", AdvisorySchemas.echoAdvisory,
      partitionKeys = Seq("package_name"), format = TableIO.Orc)
    val part = TableIO.readTable(spark, s"$tmp/echo_orc_part",
      AdvisorySchemas.echoAdvisory, TableIO.Orc)
    assert(part.count() == 2)
    assert(part.select("package_name").distinct().count() ==
      df.select("package_name").distinct().count())
  }

  test("raw file sink: write/read round trip, overwrite semantics") {
    val p = s"$tmp/raw/body.json"
    RawFileSink.writeString(spark, """{"a": 1}""", p)
    assert(RawFileSink.readString(spark, p) == """{"a": 1}""")
    RawFileSink.writeString(spark, """{"a": 2}""", p) // overwrite default
    assert(RawFileSink.readString(spark, p) == """{"a": 2}""")
    intercept[Exception] {
      RawFileSink.writeString(spark, "x", p, overwrite = false)
    }
  }

  // ---- live JDBC path against in-memory Derby (ships with Spark) ----

  private val derbyUrl = "jdbc:derby:memory:graftjdbc;create=true"

  private def withDerby[A](f: java.sql.Connection => A): A = {
    val conn = java.sql.DriverManager.getConnection(derbyUrl)
    try f(conn) finally conn.close()
  }

  test("jdbc read of an existing table applies the cast-projection") {
    withDerby { conn =>
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE not_applicable_cves (cve_id VARCHAR(64), " +
          "package VARCHAR(64), status VARCHAR(64), fixed_version VARCHAR(64), " +
          "internal_status VARCHAR(64))")
      st.executeUpdate(
        "INSERT INTO not_applicable_cves VALUES " +
          "('CVE-2024-1', 'glibc', 'not_applicable', NULL, 'code_not_in_use')")
      st.close()
    }
    val df = TableIO.readJdbc(spark, derbyUrl, "not_applicable_cves",
      AdvisorySchemas.notApplicableCves)
    assert(df.columns.toSeq == AdvisorySchemas.notApplicableCves.fieldNames.toSeq)
    assert(df.count() == 1)
    assert(df.head().getString(0) == "CVE-2024-1")
  }

  test("jdbc read of a MISSING table returns empty with declared schema") {
    val df = TableIO.readJdbc(spark, derbyUrl, "definitely_not_a_table",
      AdvisorySchemas.notApplicableCves)
    assert(df.schema.fieldNames.toSeq == AdvisorySchemas.notApplicableCves.fieldNames.toSeq)
    assert(df.count() == 0)
  }

  test("missing-table detection covers MySQL (contraction + SQLState/code)") {
    import java.sql.{SQLException, SQLSyntaxErrorException}
    // MySQL reports 42S02 / vendor code 1146 with the CONTRACTION
    // "doesn't exist" — none of the "does not exist" heuristics match it
    assert(TableIO.isMissingJdbcTable(
      new SQLSyntaxErrorException("Table 'db.t' doesn't exist", "42S02", 1146)))
    // message-only variant (driver wrapped, state lost)
    assert(TableIO.isMissingJdbcTable(
      new RuntimeException("Table 'db.t' doesn't exist")))
    // nested down the cause chain
    assert(TableIO.isMissingJdbcTable(new RuntimeException("wrapped",
      new SQLSyntaxErrorException("Table 'db.t' doesn't exist", "42S02", 1146))))
    // auth / network failures must NOT be classified as missing-table
    assert(!TableIO.isMissingJdbcTable(
      new SQLException("Access denied for user 'x'@'localhost'", "28000", 1045)))
    assert(!TableIO.isMissingJdbcTable(
      new SQLException("Communications link failure", "08S01", 0)))
  }

  test("jdbc partitioned read: bound-split parallelism, full fidelity, type mapping") {
    withDerby { conn =>
      val st = conn.createStatement()
      st.executeUpdate(
        "CREATE TABLE pkg_downloads (id INT, pkg VARCHAR(64), " +
          "downloads BIGINT, score DOUBLE, seen TIMESTAMP)")
      val ins = conn.prepareStatement(
        "INSERT INTO pkg_downloads VALUES (?, ?, ?, ?, ?)")
      (0 until 97).foreach { i =>
        ins.setInt(1, i); ins.setString(2, s"pkg-$i")
        ins.setLong(3, i * 1000L); ins.setDouble(4, i / 7.0)
        ins.setTimestamp(5, java.sql.Timestamp.valueOf(s"2024-01-01 00:00:${i % 60}"))
        ins.addBatch()
      }
      ins.executeBatch(); ins.close()
    }
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("pkg", StringType),
      StructField("downloads", LongType), StructField("score", DoubleType),
      StructField("seen", TimestampType)))
    // the parallel-read path the reference never had: 4 bound-split
    // partitions, each an independent WHERE-range query at scale
    val df = TableIO.readJdbc(spark, derbyUrl, "pkg_downloads", schema,
      partitionColumn = Some("id"), numPartitions = 4,
      lowerBound = 0L, upperBound = 97L)
    assert(df.rdd.getNumPartitions == 4,
      s"expected 4 JDBC range partitions, got ${df.rdd.getNumPartitions}")
    // no partition may see the whole table (the splits must really
    // carry range predicates, not 4 copies of a full scan)
    val perPart = df.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.sum == 97 && perPart.forall(_ < 97), perPart.mkString(","))
    // boundary fidelity: bounds CLIP the split ranges but Spark's first/
    // last partitions are unbounded — rows outside [lower, upper) must
    // still appear exactly once
    assert(df.count() == 97)
    assert(df.select("id").distinct().count() == 97)
    // type mapping survives the JDBC dialect + cast-projection
    val row = df.filter(df("id") === 42).head()
    assert(row.getAs[String]("pkg") == "pkg-42")
    assert(row.getAs[Long]("downloads") == 42000L)
    assert(math.abs(row.getAs[Double]("score") - 6.0) < 1e-9)
    assert(row.getAs[java.sql.Timestamp]("seen").toString.startsWith("2024-01-01"))
  }

  test("jdbc read with a bad URL THROWS (no silent empty-table)") {
    // driver-missing / unreachable-database errors must propagate —
    // only table-not-found bootstraps to empty (spark_utils.py:266-271)
    intercept[Exception] {
      TableIO.readJdbc(spark, "jdbc:postgresql://127.0.0.1:1/none",
        "advisory.not_applicable_cves", AdvisorySchemas.notApplicableCves)
    }
    intercept[Exception] {
      // derby in-memory db that was never created (no ;create=true)
      TableIO.readJdbc(spark, "jdbc:derby:memory:neverCreatedDb",
        "not_applicable_cves", AdvisorySchemas.notApplicableCves)
    }
  }

  test("z-order layout: per-file stats prune on BOTH columns; linear sort only on one") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val ev = graft.queries.QueryDef.loadEvents(spark, "/root/testdata/sf0.01")
      .select(col("event_id"), col("user_id"), col("value"))
    // enough files that each covers a small z-square; range boundaries
    // are sampled, so file spans bleed past aligned squares a bit
    val nFiles = 64
    TableIO.writeZOrderLayout(ev, s"$dir/z", Seq("user_id", "value"), nFiles)
    TableIO.writeRangeLayout(ev, s"$dir/r", Seq("user_id"), nFiles)

    // per-FILE [min,max] spans on both dimensions — what parquet
    // row-group stats expose to the scan planner
    def spans(path: String) = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min("user_id").as("ulo"), max("user_id").as("uhi"),
        min("value").as("vlo"), max("value").as("vhi"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    val zSpans = spans(s"$dir/z")
    val rSpans = spans(s"$dir/r")
    assert(zSpans.length > 4 && rSpans.length > 4)

    // narrow predicates on each dimension (~7-10% of each domain:
    // user_id spans 0..149 in this fixture)
    val (uLo, uHi) = (100L, 110L)
    val stats = ev.agg(min("value"), max("value")).head()
    val (vMin, vMax) = (stats.getDouble(0), stats.getDouble(1))
    val vW = (vMax - vMin) / 10
    val (vLo, vHi) = (vMin + 4 * vW, vMin + 5 * vW)
    def touchedU(s: Array[(Long, Long, Double, Double)]) =
      s.count { case (lo, hi, _, _) => hi >= uLo && lo <= uHi }
    def touchedV(s: Array[(Long, Long, Double, Double)]) =
      s.count { case (_, _, lo, hi) => hi >= vLo && lo <= vHi }

    info(s"z-layout:     user_id predicate touches ${touchedU(zSpans)}/${zSpans.length} files, " +
      s"value predicate ${touchedV(zSpans)}/${zSpans.length}")
    info(s"range-layout: user_id predicate touches ${touchedU(rSpans)}/${rSpans.length} files, " +
      s"value predicate ${touchedV(rSpans)}/${rSpans.length}")
    // z-order: BOTH dimensions prune (files cover small rectangles)
    assert(touchedU(zSpans) <= zSpans.length * 45 / 100,
      s"z-layout should prune most files on user_id: ${touchedU(zSpans)}/${zSpans.length}")
    assert(touchedV(zSpans) <= zSpans.length * 45 / 100,
      s"z-layout should prune most files on value: ${touchedV(zSpans)}/${zSpans.length}")
    // linear sort: leading column prunes hard, the other not at all —
    // the gap z-ordering exists to close
    assert(touchedU(rSpans) <= rSpans.length / 4)
    assert(touchedV(rSpans) >= rSpans.length * 8 / 10,
      s"a user_id-sorted layout cannot prune on value: ${touchedV(rSpans)}/${rSpans.length}")
    // layout is a storage optimization only: row fidelity holds
    assert(spark.read.parquet(s"$dir/z").count() == ev.count())
  }

  test("compact: many small files rewrite to size-targeted few, atomically swapped") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val ev = graft.queries.QueryDef.loadEvents(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    ev.repartition(64).write.parquet(s"$dir/t") // the accretion problem
    def files = new java.io.File(s"$dir/t").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val before = files
    assert(before.length == 64)
    val totalBytes = before.map(_.length).sum
    val target = totalBytes / 4 // aim for ~4 output files
    val n = TableIO.compact(spark, s"$dir/t", target)
    assert(n >= 4 && n <= 6, s"expected ~4-5 output files, got $n")
    assert(files.length == n)
    // fidelity: same rows, same schema, no leftover temp/backup dirs
    val back = spark.read.parquet(s"$dir/t")
    assert(back.count() == ev.count())
    assert(back.columns.toSeq == Seq("event_id", "user_id", "value"))
    assert(new java.io.File(dir).listFiles().map(_.getName).toSet == Set("t"))
  }

  test("swapIn: a missing staged directory raises and leaves the target intact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-swap").toString
    Seq(1, 2, 3).toDF("v").write.parquet(s"$dir/prod")
    intercept[RuntimeException](TableIO.swapIn(spark, s"$dir/staged", s"$dir/prod"))
    assert(spark.read.parquet(s"$dir/prod").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    // the staged copy replaces the target, leaving nothing else behind
    Seq(4, 5).toDF("v").write.parquet(s"$dir/staged")
    TableIO.swapIn(spark, s"$dir/staged", s"$dir/prod")
    assert(spark.read.parquet(s"$dir/prod").as[Int].collect().sorted.toSeq == Seq(4, 5))
    assert(new java.io.File(dir).listFiles().map(_.getName).toSet == Set("prod"))
  }

  test("parquet aggregate pushdown: MIN/MAX/COUNT answered from footer metadata") {
    import org.apache.spark.sql.functions._
    // pushdown is a DataSource V2 feature — parquet defaults to the V1
    // path, so drop it from the V1 list for this test
    val keys = Seq("spark.sql.parquet.aggregatePushdown",
      "spark.sql.sources.useV1SourceList")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try {
      spark.read.parquet(s"$sf/orders.parquet")
        .createOrReplaceTempView("__aggpd_orders")
      val agg = spark.sql(
        "SELECT count(*) AS n, min(o_orderkey) AS lo, max(o_orderkey) AS hi " +
          "FROM __aggpd_orders")
      val row = agg.head()
      assert(row.getAs[Long]("n") == 1500L)
      assert(row.getAs[Long]("lo") < row.getAs[Long]("hi"))
      val plan = agg.queryExecution.executedPlan.toString
      // the scan itself must answer the aggregate from row-group
      // statistics — no data pages decoded at any scale
      assert(plan.contains("PushedAggregation: [COUNT(*)"),
        s"aggregate not pushed into the parquet scan:\n$plan")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("range-layout write produces range-disjoint, internally sorted files") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-range").toString
    val ev = graft.queries.QueryDef.loadEvents(spark, sf)
      .select(col("event_id"), col("ts"))
    TableIO.writeRangeLayout(ev, s"$dir/t", Seq("ts"), partitions = 4)
    // per-FILE min/max intervals must not overlap: that disjointness
    // is what lets parquet row-group stats prune range scans
    val spans = spark.read.parquet(s"$dir/t")
      .select(col("ts"), input_file_name().as("f"))
      .groupBy("f").agg(min("ts").as("lo"), max("ts").as("hi"))
      .collect().map(r => (r.getTimestamp(1).getTime, r.getTimestamp(2).getTime))
      .sortBy(_._1)
    assert(spans.length > 1)
    spans.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(hi1 <= lo2, s"file spans overlap: $hi1 > $lo2")
    }
    // total row fidelity
    assert(spark.read.parquet(s"$dir/t").count() == ev.count())
  }
}
