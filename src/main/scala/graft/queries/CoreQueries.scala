package graft.queries

import graft.io.{AvroIO, TableIO}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Core relational operator repertoire (SURVEY §2.1-§2.8) expressed on
  * the synthetic TPC-H-ish testdata, each with a DuckDB oracle.
  *
  * Implementation notes for 100 TB posture:
  *   - dimension sides of joins (`nation`, filtered `customer`) are
  *     explicitly `broadcast()` — no shuffle of the fact side;
  *   - aggregations are plain `groupBy` (map-side partial agg for free);
  *   - window dedup partitions by the group key only — one hash shuffle,
  *     AQE sizes the partitions;
  *   - filters/projections stay at the scan (predicate pushdown visible
  *     in `.explain`).
  */
object CoreQueries {
  import QueryDef.load

  val all: Seq[QueryDef] = Seq(

    // S1 + P2/P3: schema-pruned scan with conjunctive pushed filters.
    QueryDef(
      "q_scan_filter",
      (s, d) => load(s, d, "lineitem")
        .filter(col("l_returnflag") === "R" &&
          col("l_shipdate") < lit("1998-01-01").cast(TimestampType))
        .select(col("l_orderkey"), col("l_linenumber"),
          // output doubles, not DECIMAL: the two engines encode decimals
          // differently (Spark decimal128 vs DuckDB hugeint-backed), which
          // hash-mismatches even when every value is equal. The stored
          // doubles are passed through untouched -> bit-identical.
          col("l_quantity").cast(DoubleType).as("qty"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day")),
      Some("""SELECT l_orderkey, l_linenumber,
             | CAST(l_quantity AS DOUBLE) AS qty,
             | strftime(l_shipdate, '%Y-%m-%d') AS ship_day
             |FROM lineitem
             |WHERE l_returnflag = 'R' AND l_shipdate < TIMESTAMP '1998-01-01'"""
        .stripMargin),
    ),

    // S2: one multi-path scan over several partition dirs (same file twice
    // -> rows doubled, proving union-of-paths semantics).
    QueryDef(
      "q_scan_multipath",
      (s, d) => {
        val schema = StructType(Seq(
          StructField("r_regionkey", IntegerType),
          StructField("r_name", StringType)))
        TableIO.readTableMultipath(s,
          Seq(QueryDef.tbl(d, "region"), QueryDef.tbl(d, "region")), schema)
      },
      Some("""SELECT r_regionkey, r_name FROM region
             |UNION ALL SELECT r_regionkey, r_name FROM region""".stripMargin),
    ),

    // Format breadth: the SAME table re-written as ORC and read back
    // through the schema-enforced ORC path, then aggregated — the
    // oracle reads the original parquet, so the round trip must be
    // value-faithful. The ORC write happens once at plan-build time,
    // like the other materializing operators. (Avro gets the same
    // treatment below via AvroIO.)
    QueryDef(
      "q_orc_roundtrip",
      (s, d) => {
        val sup = load(s, d, "supplier")
        val dir = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"),
          "graft_orc_" + Integer.toHexString(d.hashCode)).toString
        TableIO.writeTable(sup, dir, sup.schema, format = TableIO.Orc)
        TableIO.readTable(s, dir, sup.schema, TableIO.Orc)
          .groupBy(col("s_nationkey"))
          .agg(count(lit(1)).as("n"), min(col("s_name")).as("first_name"),
            // stored doubles pass through untouched -> bit-identical
            max(col("s_acctbal")).as("max_bal"))
      },
      Some("""SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
             | min(s_name) AS first_name, max(s_acctbal) AS max_bal
             |FROM supplier GROUP BY s_nationkey""".stripMargin),
    ),

    // Avro round trip via AvroIO: the distribution bundles avro-core /
    // avro-mapred but NOT the spark-avro datasource, so the connector
    // is built on the public mapreduce I/O formats directly —
    // splittable at Avro sync markers on read, per-partition container
    // files on write. Same oracle shape as the ORC round trip: the
    // oracle reads the original parquet, so the trip must be
    // value-faithful (doubles bit-identical, nulls preserved).
    QueryDef(
      "q_avro_roundtrip",
      (s, d) => {
        val cust = load(s, d, "customer").select(
          col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"))
        val dir = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"),
          "graft_avro_" + Integer.toHexString(d.hashCode)).toString
        AvroIO.writeAvro(cust, dir)
        // read back through the DSv2 connector (format("graftavro")) so
        // the datasource sits inside the oracle gate, not only specs
        s.read.format("graftavro").schema(cust.schema).load(dir)
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n"), min(col("c_name")).as("first_name"),
            max(col("c_acctbal")).as("max_bal"))
      },
      Some("""SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
             | min(c_name) AS first_name, max(c_acctbal) AS max_bal
             |FROM customer GROUP BY c_nationkey""".stripMargin),
    ),

    // P1: cast-projection schema enforcement.
    QueryDef(
      "q_cast_projection",
      (s, d) => TableIO.castToSchema(
        load(s, d, "lineitem"),
        StructType(Seq(
          StructField("l_orderkey", StringType),
          StructField("l_quantity", DoubleType),
          StructField("l_returnflag", StringType)))),
      Some("""SELECT CAST(l_orderkey AS VARCHAR) AS l_orderkey,
             | CAST(l_quantity AS DOUBLE) AS l_quantity, l_returnflag
             |FROM lineitem""".stripMargin),
    ),

    // P6: DISTINCT.
    QueryDef(
      "q_distinct",
      (s, d) => load(s, d, "orders")
        .select("o_orderstatus", "o_orderpriority").distinct(),
      Some("SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"),
    ),

    // J1: left join with case-insensitive expression keys; the small
    // (filtered, upper-cased) side is broadcast.
    QueryDef(
      "q_join_left_ci",
      (s, d) => {
        val n = load(s, d, "nation")
        val m = n.filter(col("n_nationkey") < 10)
          .select(upper(col("n_name")).as("m_name"),
            col("n_nationkey").as("m_key"))
        n.join(broadcast(m), lower(n("n_name")) === lower(m("m_name")), "left")
          .select(n("n_name"), m("m_key"))
      },
      Some("""SELECT n.n_name AS n_name, m.m_key AS m_key
             |FROM nation n
             |LEFT JOIN (SELECT upper(n_name) AS m_name, n_nationkey AS m_key
             |           FROM nation WHERE n_nationkey < 10) m
             |ON lower(n.n_name) = lower(m.m_name)""".stripMargin),
    ),

    // J2/J3: left anti join (NOT EXISTS) against a filtered dimension.
    QueryDef(
      "q_join_anti",
      (s, d) => {
        val o = load(s, d, "orders")
        val negative = load(s, d, "customer").filter(col("c_acctbal") < 0)
          .select(col("c_custkey"))
        o.join(broadcast(negative), o("o_custkey") === negative("c_custkey"),
            "left_anti")
          .select("o_orderkey", "o_custkey")
      },
      Some("""SELECT o.o_orderkey, o.o_custkey FROM orders o
             |LEFT JOIN (SELECT c_custkey FROM customer WHERE c_acctbal < 0) c
             |ON o.o_custkey = c.c_custkey
             |WHERE c.c_custkey IS NULL""".stripMargin),
    ),

    // J4 + COALESCE cascade: double left join to the master fact table.
    QueryDef(
      "q_join_double_left",
      (s, d) => {
        val l = load(s, d, "lineitem")
        val o = load(s, d, "orders").filter(col("o_totalprice") > 50000)
          .select("o_orderkey", "o_custkey", "o_orderpriority")
        val c = load(s, d, "customer").select("c_custkey", "c_mktsegment")
        l.join(o, l("l_orderkey") === o("o_orderkey"), "left")
          .join(broadcast(c), o("o_custkey") === c("c_custkey"), "left")
          .select(l("l_orderkey"), l("l_linenumber"),
            // single IEEE multiply over the same stored doubles on both
            // engines -> bit-identical; no DECIMAL re-encoding
            (l("l_extendedprice") * (lit(1) - l("l_discount"))).as("revenue"),
            coalesce(c("c_mktsegment"), o("o_orderpriority"), lit("none"))
              .as("seg"))
      },
      Some("""SELECT l.l_orderkey, l.l_linenumber,
             | l.l_extendedprice * (1 - l.l_discount) AS revenue,
             | COALESCE(c.c_mktsegment, o.o_orderpriority, 'none') AS seg
             |FROM lineitem l
             |LEFT JOIN (SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
             |           WHERE o_totalprice > 50000) o
             |  ON l.l_orderkey = o.o_orderkey
             |LEFT JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin),
    ),

    // A2/O4: window dedup — best row per group, deterministic tiebreak.
    QueryDef(
      "q_window_dedup",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        load(s, d, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_totalprice").cast(DoubleType).as("best_price"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             | CAST(o_totalprice AS DOUBLE) AS best_price
             |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
             |        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
             |      FROM orders)
             |WHERE rn = 1""".stripMargin),
    ),

    // U1: UNION ALL.
    QueryDef(
      "q_union_all",
      (s, d) => {
        val o = load(s, d, "orders")
        o.filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderstatus")
          .union(o.filter(col("o_orderstatus") === "O")
            .select("o_orderkey", "o_orderstatus"))
      },
      Some("""SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
             |UNION ALL
             |SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O'"""
        .stripMargin),
    ),

    // U2: unionByName with differently-ordered columns.
    QueryDef(
      "q_union_by_name",
      (s, d) => {
        val o = load(s, d, "orders")
        val a = o.filter(col("o_orderstatus") === "P")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast(DoubleType).as("price"))
        val b = o.filter(col("o_orderstatus") === "O")
          .select(col("o_totalprice").cast(DoubleType).as("price"),
            col("o_orderkey"), col("o_orderstatus"))
        a.unionByName(b)
      },
      Some("""SELECT o_orderkey, o_orderstatus,
             | CAST(o_totalprice AS DOUBLE) AS price
             |FROM orders WHERE o_orderstatus IN ('P', 'O')""".stripMargin),
    ),

    // §2.8 scalar functions: CASE, CONCAT, lower, comparison ops.
    QueryDef(
      "q_scalar_funcs",
      (s, d) => load(s, d, "orders").select(
        concat(lit("order-"), col("o_orderkey").cast(StringType)).as("order_tag"),
        expr("CASE WHEN o_orderstatus = 'F' THEN 'final' " +
          "WHEN o_orderstatus = 'O' THEN 'open' ELSE 'pending' END").as("status_word"),
        lower(col("o_orderpriority")).as("pri_lower"),
        (col("o_totalprice") >= 100000).as("is_big")),
      Some("""SELECT 'order-' || CAST(o_orderkey AS VARCHAR) AS order_tag,
             | CASE WHEN o_orderstatus = 'F' THEN 'final'
             |      WHEN o_orderstatus = 'O' THEN 'open' ELSE 'pending' END AS status_word,
             | lower(o_orderpriority) AS pri_lower,
             | o_totalprice >= 100000 AS is_big
             |FROM orders""".stripMargin),
    ),

    // O1/O2: global ORDER BY with a computed CASE sort key (order itself
    // is cosmetic after parquet, but the rank column is verified).
    QueryDef(
      "q_orderby_case",
      (s, d) => load(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          expr("CASE o_orderstatus WHEN 'O' THEN 1 WHEN 'P' THEN 2 ELSE 3 END")
            .as("sort_rank"))
        .orderBy(col("sort_rank"), col("o_orderkey")),
      Some("""SELECT o_orderkey, o_orderstatus,
             | CASE o_orderstatus WHEN 'O' THEN 1 WHEN 'P' THEN 2 ELSE 3 END AS sort_rank
             |FROM orders ORDER BY sort_rank, o_orderkey""".stripMargin),
    ),

    // S3-shaped: JSON field extraction from a string column.
    QueryDef(
      "q_json_extract",
      (s, d) => QueryDef.loadEvents(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k")),
      Some("""SELECT event_id,
             | CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS k
             |FROM events""".stripMargin),
    ),

    // Aggregation surface (engine superset of the reference): groupBy with
    // exact decimal sums, count, min/max.
    QueryDef(
      "q_agg_groupby",
      // Fan.out tried and REVERTED (tools/FanCompare@3a89fdd: 1.07 -> 1.32 med
      // at sf0.1) — shuffling 600k 6-col rows costs more than the
      // single-task decimal sums save.
      (s, d) => load(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // sum through DECIMAL (exact, order-independent) but emit DOUBLE:
          // the final decimal->double cast is a single correctly-rounded
          // conversion in both engines, while decimal OUTPUT encodings
          // hash-differently (Spark decimal vs DuckDB hugeint-backed).
          sum(col("l_quantity").cast(DecimalType(12, 2)))
            .cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(14, 2)))
            .cast(DoubleType).as("sum_price"),
          count(lit(1)).as("n"),
          date_format(min(col("l_shipdate")), "yyyy-MM-dd").as("min_ship"),
          // min/max are order-independent picks of stored doubles — exact
          max(col("l_discount")).as("max_disc")),
      Some("""SELECT l_returnflag, l_linestatus,
             | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             | CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price,
             | count(*) AS n,
             | strftime(min(l_shipdate), '%Y-%m-%d') AS min_ship,
             | max(l_discount) AS max_disc
             |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    ),

    // Left semi join (EXISTS).
    QueryDef(
      "q_join_semi",
      (s, d) => {
        val o = load(s, d, "orders")
        val big = load(s, d, "customer").filter(col("c_acctbal") > 5000)
          .select(col("c_custkey"))
        o.join(broadcast(big), o("o_custkey") === big("c_custkey"), "left_semi")
          .select("o_orderkey", "o_custkey")
      },
      Some("""SELECT o_orderkey, o_custkey FROM orders o
             |WHERE EXISTS (SELECT 1 FROM customer c
             |  WHERE c.c_acctbal > 5000 AND c.c_custkey = o.o_custkey)"""
        .stripMargin),
    ),

    // INTERSECT / EXCEPT set semantics (the reference used anti joins;
    // the engine also exposes the set operators proper).
    QueryDef(
      "q_set_ops",
      // One aggregation instead of two set-operators (guide §2.4, the
      // q_intersect_all recipe with set semantics): INTERSECT keeps
      // keys present on both sides, EXCEPT keys present only on R —
      // both readable off ONE conditional-count groupBy over one scan
      // (1 scan + 1 exchange read by both branches vs 4 scans + the
      // distinct/set-op exchanges). Each key emits at most one row per
      // branch, exactly the set-operator multiplicity. Row-identical
      // (tools/ShapeVariants@3a89fdd); oracle unchanged.
      (s, d) => {
        val counts = load(s, d, "lineitem")
          .filter(col("l_returnflag").isin("R", "A"))
          .groupBy(col("l_orderkey"))
          .agg(
            count(when(col("l_returnflag") === "R", 1)).as("__rc"),
            count(when(col("l_returnflag") === "A", 1)).as("__ac"))
        val both = counts.filter(col("__rc") > 0 && col("__ac") > 0)
          .select(col("l_orderkey"), lit("both").as("tag"))
        val rOnly = counts.filter(col("__rc") > 0 && col("__ac") === 0)
          .select(col("l_orderkey"), lit("r_only").as("tag"))
        both.union(rOnly)
      },
      Some("""SELECT l_orderkey, 'both' AS tag FROM (
             |  SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
             |  INTERSECT
             |  SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A')
             |UNION ALL
             |SELECT l_orderkey, 'r_only' AS tag FROM (
             |  SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
             |  EXCEPT
             |  SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A')"""
        .stripMargin),
    ),

    // ROLLUP: subtotal + grand-total rows (engine superset; GROUPING()
    // disambiguates real NULL keys from rollup NULLs).
    QueryDef(
      "q_agg_rollup",
      // Two-level rollup (see q_agg_cube): pre-aggregate by the
      // 3x5-cardinality base dims map-side, run the Expand x3 over the
      // <= 15 pre-aggregated rows. count / exact DECIMAL sum are
      // additive, so results are identical (oracle-gated).
      // (Fan.out on the pre-aggregate input not applied — same shape
      // as q_agg_cube, where it measured 0.73 -> 1.29 med.)
      (s, d) => load(s, d, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("__n"),
          sum(col("o_totalprice").cast(DecimalType(14, 2))).as("__st"))
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("__n")).as("n"),
          sum(col("__st")).cast(DoubleType).as("total"),
          grouping_id().as("gid")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             | CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total,
             | GROUPING(o_orderstatus, o_orderpriority) AS gid
             |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"""
        .stripMargin),
    ),

    // Pivot-style conditional aggregation (wide status columns).
    QueryDef(
      "q_pivot_status",
      (s, d) => load(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
          sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("n_p")),
      // BIGINT casts: DuckDB integer sum() returns HUGEINT (int128),
      // which hash-mismatches Spark's LongType even at equal values.
      Some("""SELECT o_orderpriority,
             | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
             | CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
             | CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
             |FROM orders GROUP BY o_orderpriority""".stripMargin),
    ),

    // Event-time tumbling-window aggregation.
    QueryDef(
      "q_events_hourly",
      (s, d) => QueryDef.loadEvents(s, d)
        .groupBy(date_format(date_trunc("hour", col("ts")),
          "yyyy-MM-dd HH:mm:ss").as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(12, 2)))
            .cast(DoubleType).as("sum_value")),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             | event_type, count(*) AS n,
             | CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2""".stripMargin),
    ),
  )
}
