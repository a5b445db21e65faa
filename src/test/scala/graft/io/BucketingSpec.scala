package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BucketingSpec extends SparkSpec {

  test("bucketed advisory merge plans ZERO shuffles (both joins AND the window dedup reuse the bucket partitioning)") {
    // At cluster scale the merge re-runs per run_id over the same keys;
    // bucketing prod/staging by (cve_id, package) pays the Exchange once
    // at write so every later run's joins + ranking window are local.
    val echo = spark.read.parquet(s"$sf/orders.parquet").selectExpr(
      "'CVE-' || CAST(o_orderkey AS STRING) AS cve_id",
      "'pkg-' || CAST(o_orderkey % 40 AS STRING) AS package_name",
      "CAST(NULL AS STRING) AS fixed_version")
    val norm = spark.read.parquet(s"$sf/lineitem.parquet").selectExpr(
      "'CVE-' || CAST(l_orderkey AS STRING) AS cve_id",
      "'pkg-' || CAST(l_orderkey % 40 AS STRING) AS package",
      "CAST(NULL AS STRING) AS fixed_version",
      "'pending_upstream' AS internal_status",
      "'explain' AS status",
      "CAST(l_linenumber AS INT) AS priority",
      "date_format(l_shipdate, 'yyyy-MM-dd') AS enrichment_timestamp")
    val prod = spark.read.parquet(s"$sf/orders.parquet")
      .filter("o_orderkey % 3 = 0").selectExpr(
        "'CVE-' || CAST(o_orderkey AS STRING) AS cve_id",
        "'pkg-' || CAST(o_orderkey % 40 AS STRING) AS package",
        "'pending_upstream' AS status",
        "CAST(NULL AS STRING) AS fixed_version",
        "'note' AS internal_status",
        "CAST(1 AS INT) AS priority",
        "date_format(o_orderdate, 'yyyy-MM-dd') AS enrichment_timestamp")
    TableIO.writeBucketed(echo, "echo_b", Seq("cve_id", "package_name"), 4)
    TableIO.writeBucketed(norm, "norm_b", Seq("cve_id", "package"), 4)
    TableIO.writeBucketed(prod, "prod_b", Seq("cve_id", "package"), 4)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val merged = graft.pipeline.AdvisoryMerge.mapNewInfo(
        spark.table("echo_b"), spark.table("norm_b"), spark.table("prod_b"))
      val plan = merged.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed merge must not shuffle:\n$plan")
      assert(merged.count() == echo.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("join between co-bucketed tables plans no shuffle Exchange") {
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val l = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"))
    TableIO.writeBucketed(o, "orders_b", Seq("o_orderkey"), 4, Seq("o_orderkey"))
    TableIO.writeBucketed(l.withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", Seq("o_orderkey"), 4, Seq("o_orderkey"))

    // disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      // and it still computes the right thing
      val n = joined.count()
      val expected = o.join(l, o("o_orderkey") === l("l_orderkey")).count()
      assert(n == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }
}
