package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType, StructField, StructType}

/** Second wave of analytic-SQL breadth: explicit GROUPING SETS, bag
  * set-operations (INTERSECT/EXCEPT ALL), array higher-order
  * functions, string-function coverage, RANGE window frames, and
  * exact moment statistics (stddev/corr) built from decimal power
  * sums. The numeric-parity conventions are the repo's usual ones
  * (QueryDef scaladoc); moment statistics add one more: every float
  * op after the exact decimal sums is written in the SAME order on
  * both engines, so the doubles are bit-identical, not just close.
  */
object SqlBreadthQueries {

  private def load = QueryDef.load _

  val all: Seq[QueryDef] = Seq(

    // Explicit GROUPING SETS — the general form underlying rollup and
    // cube (both already covered): an arbitrary subset of grouping
    // combinations, planned as one Expand + single aggregation pass
    // (NOT one scan per set).
    QueryDef(
      "q_grouping_sets",
      // Two-level grouping sets (see q_agg_cube): pre-aggregate by the
      // 3x2-cardinality base dims map-side, run the Expand x3 over the
      // <= 6 pre-aggregated rows. count / exact DECIMAL sum are
      // additive, so results are identical (oracle-gated).
      // (Fan.out on the pre-aggregate input not applied — same shape
      // as q_agg_cube, where it measured 0.73 -> 1.29 med.)
      (s, d) => load(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("__n"),
          sum(col("l_quantity").cast(DecimalType(12, 2))).as("__sq"))
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("__n")).as("n"),
          sum(col("__sq")).cast(DoubleType).as("sum_qty"),
          grouping_id().as("gid")),
      Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
             | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             | GROUPING(l_returnflag, l_linestatus) AS gid
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
             |  (l_returnflag), ())""".stripMargin),
    ),

    // INTERSECT ALL / EXCEPT ALL — bag semantics (multiplicities
    // min / subtract, vs the distinct-set forms in q_set_ops). Spark
    // plans these as an aggregate over per-side counts + generate,
    // never a quadratic pair join.
    QueryDef(
      "q_intersect_all",
      // One aggregation instead of two set-operators (guide §2.4):
      // INTERSECT ALL emits each key min(rc, ac) times and EXCEPT ALL
      // max(rc - ac, 0) times, where rc/ac are the per-side
      // multiplicities — both derivable from ONE conditional-count
      // groupBy over one scan, then replicated with array_repeat.
      // Spark's built-in operators each plan their own union +
      // aggregate + generate over both inputs: 4 scans and 2
      // exchanges for this query; this shape is 1 scan and 1 exchange
      // read by both branches (ReusedExchange). Bag-semantics
      // equivalence is exact (exceptAll branch: rc > ac implies
      // rc >= 1, so the key appears on the R side, matching EXCEPT
      // ALL's left-side requirement). Oracle unchanged.
      (s, d) => {
        val counts = load(s, d, "lineitem")
          .filter(col("l_returnflag").isin("R", "A"))
          .groupBy(col("l_orderkey"))
          .agg(
            count(when(col("l_returnflag") === "R", 1)).as("__rc"),
            count(when(col("l_returnflag") === "A", 1)).as("__ac"))
        val both = counts.filter(col("__rc") > 0 && col("__ac") > 0)
          .select(col("l_orderkey"),
            explode(array_repeat(lit("both_all"),
              least(col("__rc"), col("__ac")).cast("int"))).as("tag"))
        val excess = counts.filter(col("__rc") > col("__ac"))
          .select(col("l_orderkey"),
            explode(array_repeat(lit("r_excess"),
              (col("__rc") - col("__ac")).cast("int"))).as("tag"))
        both.union(excess)
      },
      Some("""SELECT l_orderkey, 'both_all' AS tag FROM (
             |  SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
             |  INTERSECT ALL
             |  SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A')
             |UNION ALL
             |SELECT l_orderkey, 'r_excess' AS tag FROM (
             |  SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
             |  EXCEPT ALL
             |  SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A')"""
        .stripMargin),
    ),

    // Array higher-order functions over a collected-per-group array:
    // array_sort(collect_list(...)) makes the array deterministic,
    // then transform / filter / aggregate run INSIDE the row — no
    // explode-regroup round trip, no extra shuffle. All element math
    // is integral so both engines agree exactly.
    QueryDef(
      "q_array_hof",
      // Folding n_big / doubled_sum into the groupBy as direct
      // aggregates (count-if / 2*sum — exact integer identities of the
      // HOF reductions) tried and REVERTED (tools/ShapeVariants@3a89fdd,
      // row-identical, interleaved + rotated, sf0.1): 0.58 -> 0.65
      // med — two extra aggregation buffers through the shuffle cost
      // more than the per-row HOF passes over the (tiny, ~4-element)
      // collected arrays save.
      (s, d) => load(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_list(col("l_quantity").cast(LongType)))
          .as("qs"))
        .select(col("l_orderkey"),
          array_join(transform(col("qs"), _.cast("string")), ",")
            .as("qs_str"),
          size(filter(col("qs"), _ >= 25)).cast(LongType).as("n_big"),
          aggregate(col("qs"), lit(0L), (acc, x) => acc + x * 2)
            .as("doubled_sum")),
      Some("""WITH a AS (SELECT l_orderkey,
             |  list_sort(list(CAST(l_quantity AS BIGINT))) AS qs
             |  FROM lineitem GROUP BY 1)
             |SELECT l_orderkey,
             | array_to_string(qs, ',') AS qs_str,
             | CAST(len(list_filter(qs, x -> x >= 25)) AS BIGINT) AS n_big,
             | CAST(list_sum(list_transform(qs, x -> x * 2)) AS BIGINT)
             |   AS doubled_sum
             |FROM a""".stripMargin),
    ),

    // String-function breadth in one scan-local pass: regexp_extract,
    // pad/trim, translate, substring/locate, reverse, split +
    // element_at, conditional concat. Everything stays inside
    // whole-stage codegen; no UDFs.
    QueryDef(
      "q_string_funcs",
      (s, d) => load(s, d, "customer")
        .select(col("c_custkey"),
          regexp_extract(col("c_name"), "([0-9]+)$", 1).as("id_str"),
          lpad(col("c_custkey").cast("string"), 12, "0").as("padded"),
          translate(col("c_mktsegment"), "AEIOU", "aeiou").as("xlated"),
          substring(col("c_name"), 1, 8).as("prefix"),
          instr(col("c_name"), "#").cast(LongType).as("hash_pos"),
          reverse(col("c_mktsegment")).as("rev_seg"),
          element_at(split(col("c_name"), "#"), 2).as("after_hash"),
          concat_ws("|", col("c_mktsegment"),
            upper(col("c_name"))).as("joined")),
      Some("""SELECT c_custkey,
             | regexp_extract(c_name, '([0-9]+)$', 1) AS id_str,
             | lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded,
             | translate(c_mktsegment, 'AEIOU', 'aeiou') AS xlated,
             | substring(c_name, 1, 8) AS prefix,
             | CAST(instr(c_name, '#') AS BIGINT) AS hash_pos,
             | reverse(c_mktsegment) AS rev_seg,
             | string_split(c_name, '#')[2] AS after_hash,
             | concat_ws('|', c_mktsegment, upper(c_name)) AS joined
             |FROM customer""".stripMargin),
    ),

    // RANGE window frame (value-based, vs the ROWS frames already
    // covered): trailing-30-day revenue per customer keyed on an
    // integer day number. RANGE makes the frame deterministic under
    // ties by construction — all rows of an equal day are in or out
    // together — so no tiebreaker column is needed.
    QueryDef(
      "q_window_range",
      (s, d) => {
        val o = load(s, d, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          datediff(col("o_orderdate"),
            lit("1970-01-01").cast("date")).cast(LongType).as("day_num"),
          col("o_totalprice").cast(DecimalType(14, 2)).as("__price"))
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("day_num")).rangeBetween(-29, 0)
        o.select(col("o_orderkey"), col("o_custkey"), col("day_num"),
          sum(col("__price")).over(w).cast(DoubleType).as("rev_30d"),
          count(lit(1)).over(w).as("n_30d"))
      },
      Some("""WITH o AS (SELECT o_orderkey, o_custkey,
             |  date_diff('day', DATE '1970-01-01', o_orderdate) AS day_num,
             |  CAST(o_totalprice AS DECIMAL(14,2)) AS price FROM orders)
             |SELECT o_orderkey, o_custkey, day_num,
             | CAST(sum(price) OVER w AS DOUBLE) AS rev_30d,
             | count(*) OVER w AS n_30d
             |FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY day_num
             |  RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)""".stripMargin),
    ),

    // EXISTS + IN subqueries (the positive complement of
    // q_subquery_latest's NOT EXISTS): Catalyst decorrelates both to
    // left-semi joins — no per-row subquery execution.
    QueryDef(
      "q_subquery_exists",
      (s, d) => {
        load(s, d, "orders").createOrReplaceTempView("v_o")
        load(s, d, "customer").createOrReplaceTempView("v_c")
        s.sql("""SELECT o_orderkey, o_custkey FROM v_o o
                |WHERE EXISTS (SELECT 1 FROM v_c c
                |    WHERE c.c_custkey = o.o_custkey
                |      AND c.c_mktsegment = 'AUTOMOBILE')
                |  AND o_custkey IN (SELECT c_custkey FROM v_c
                |    WHERE c_acctbal > 0)""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_custkey FROM orders o
             |WHERE EXISTS (SELECT 1 FROM customer c
             |    WHERE c.c_custkey = o.o_custkey
             |      AND c.c_mktsegment = 'AUTOMOBILE')
             |  AND o_custkey IN (SELECT c_custkey FROM customer
             |    WHERE c_acctbal > 0)""".stripMargin),
    ),

    // UNION with DISTINCT semantics (q_union_all covers the bag form):
    // one hash-aggregate dedup over the concatenation.
    QueryDef(
      "q_union_distinct",
      (s, d) => {
        val l = load(s, d, "lineitem")
        val r = l.filter(col("l_returnflag") === "R").select(col("l_orderkey"))
        val big = load(s, d, "orders").filter(col("o_totalprice") > 300000)
          .select(col("o_orderkey").as("l_orderkey"))
        r.union(big).distinct()
      },
      Some("""SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
             |UNION
             |SELECT o_orderkey AS l_orderkey FROM orders
             |WHERE o_totalprice > 300000""".stripMargin),
    ),

    // Schema-typed JSON parsing (from_json -> struct, vs
    // q_json_extract's per-path string extraction): ONE parse per
    // document no matter how many fields are pulled out.
    QueryDef(
      "q_json_typed",
      (s, d) => QueryDef.loadEvents(s, d).select(
        col("event_id"),
        from_json(col("props"), StructType(Seq(
          StructField("k", IntegerType)))).getField("k").as("k")),
      Some("""SELECT event_id,
             | CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INTEGER) AS k
             |FROM events""".stripMargin),
    ),

    // Typed UDAF (Aggregator) surface: exact variance over quantized
    // integers — three-long accumulator, merge-order invariant,
    // registered for SQL text. The oracle recomputes from the same
    // integer power sums with the identical final float sequence.
    QueryDef(
      "q_udaf_variance",
      (s, d) => {
        s.udf.register("exact_var",
          udaf(new graft.functions.ExactVarAgg(100)))
        load(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(round(expr("exact_var(l_quantity)"), 6).as("var_qty"),
            count(lit(1)).as("n"))
      },
      Some("""WITH q AS (SELECT l_returnflag,
             |  CAST(round(l_quantity * 100) AS BIGINT) AS v FROM lineitem),
             |s AS (SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(v) AS DOUBLE) AS sv,
             |  CAST(sum(v * v) AS DOUBLE) AS svv FROM q GROUP BY 1)
             |SELECT l_returnflag,
             | round((svv / n - (sv / n) * (sv / n)) / 10000.0, 6) AS var_qty,
             | n
             |FROM s""".stripMargin),
    ),

    // GROUP BY ... HAVING (post-aggregation predicate; Catalyst plans
    // it as a filter above the final aggregate, partial agg intact).
    QueryDef(
      "q_having",
      (s, d) => {
        load(s, d, "lineitem").createOrReplaceTempView("v_li_h")
        s.sql("""SELECT l_orderkey,
                |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                |    AS total_qty
                |FROM v_li_h GROUP BY l_orderkey
                |HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 150"""
          .stripMargin)
      },
      Some("""SELECT l_orderkey,
             | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
             |   AS total_qty
             |FROM lineitem GROUP BY l_orderkey
             |HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 150"""
        .stripMargin),
    ),

    // first_value / last_value / nth_value over an explicit full-frame
    // window (last/nth need UNBOUNDED FOLLOWING to be well-defined);
    // the (ts, event_id) order is total so every engine agrees.
    QueryDef(
      "q_window_firstlast",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc_nulls_last, col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        QueryDef.loadEvents(s, d)
          .withColumn("ts", date_trunc("second", col("ts")))
          .select(col("user_id"), col("event_id"),
            first(col("event_id")).over(w).as("first_ev"),
            last(col("event_id")).over(w).as("last_ev"),
            nth_value(col("event_id"), 2).over(w).as("second_ev"))
      },
      Some("""WITH e AS (SELECT user_id, event_id,
             |  date_trunc('second', ts) AS ts FROM events)
             |SELECT user_id, event_id,
             | first_value(event_id) OVER w AS first_ev,
             | last_value(event_id) OVER w AS last_ev,
             | nth_value(event_id, 2) OVER w AS second_ev
             |FROM e
             |WINDOW w AS (PARTITION BY user_id
             |  ORDER BY ts NULLS LAST, event_id
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""
        .stripMargin),
    ),

    // Time-series gap-fill + LOCF: densify each user's hourly
    // timeline between their first and last event (sequence + explode
    // — a scan-local generate bounded per key), left-join the real
    // hourly aggregates, and carry the last observation forward with
    // an ignore-nulls running window. Hours are epoch-hour BIGINTs so
    // the densification is pure integer arithmetic on both engines.
    QueryDef(
      "q_gapfill_locf",
      (s, d) => {
        val ev = QueryDef.loadEvents(s, d)
          .filter(col("user_id") < 50) // bound the demo timeline set
          .select(col("user_id"),
            (unix_timestamp(col("ts")) / 3600).cast(LongType).as("hn"),
            col("value").cast(DecimalType(14, 4)).as("__v"))
        val hourly = ev.groupBy(col("user_id"), col("hn"))
          .agg(count(lit(1)).as("n"),
            sum(col("__v")).cast(DoubleType).as("hour_value"))
        val spans = ev.groupBy(col("user_id"))
          .agg(min(col("hn")).as("h0"), max(col("hn")).as("h1"))
          .withColumn("hn", explode(sequence(col("h0"), col("h1"))))
          .select(col("user_id"), col("hn"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("hn")).rowsBetween(Window.unboundedPreceding, 0)
        spans.join(hourly, Seq("user_id", "hn"), "left")
          .select(col("user_id"), col("hn"),
            coalesce(col("n"), lit(0L)).as("n"),
            col("hour_value"))
          .withColumn("locf_value",
            last(col("hour_value"), ignoreNulls = true).over(w))
      },
      Some("""WITH ev AS (SELECT user_id,
             |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600 AS hn,
             |  CAST(value AS DECIMAL(14,4)) AS v
             |  FROM events WHERE user_id < 50),
             |hourly AS (SELECT user_id, hn, count(*) AS n,
             |  CAST(sum(v) AS DOUBLE) AS hour_value
             |  FROM ev GROUP BY 1, 2),
             |spans AS (SELECT user_id,
             |  unnest(range(min(hn), max(hn) + 1)) AS hn
             |  FROM ev GROUP BY user_id)
             |SELECT s.user_id, s.hn,
             | coalesce(h.n, 0) AS n, h.hour_value,
             | last_value(h.hour_value IGNORE NULLS) OVER (
             |   PARTITION BY s.user_id ORDER BY s.hn
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |   AS locf_value
             |FROM spans s LEFT JOIN hourly h
             |  ON s.user_id = h.user_id AND s.hn = h.hn""".stripMargin),
    ),

    // One-pass column profiler (data-quality surface): totals, nulls,
    // exact distincts, min/max per column, long-form output. One scan
    // for all columns (multi-count-distinct Expand + stack).
    QueryDef(
      "q_profile",
      (s, d) => graft.operators.Profile.profile(
        load(s, d, "orders"),
        Seq("o_orderstatus", "o_custkey", "o_orderpriority")),
      Some(Seq("o_orderstatus", "o_custkey", "o_orderpriority").map { c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |   AS n_nulls,
           | count(DISTINCT $c) AS n_distinct,
           | CAST(min($c) AS VARCHAR) AS min_value,
           | CAST(max($c) AS VARCHAR) AS max_value
           |FROM orders""".stripMargin
      }.mkString("\nUNION ALL\n")),
    ),

    // Declarative data-quality rules, all evaluated in one scan; a
    // NULL rule result counts as a violation.
    QueryDef(
      "q_data_quality",
      (s, d) => graft.operators.Profile.checkRules(
        load(s, d, "lineitem"),
        Seq(
          "qty_in_range" -> col("l_quantity").between(1, 50),
          "price_positive" -> (col("l_extendedprice") > 0),
          "discount_low" -> (col("l_discount") <= 0.05),
          "ship_not_null" -> col("l_shipdate").isNotNull)),
      Some("""WITH v AS (SELECT
             |  CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50
             |    THEN 0 ELSE 1 END) AS BIGINT) AS qty_in_range,
             |  CAST(sum(CASE WHEN l_extendedprice > 0
             |    THEN 0 ELSE 1 END) AS BIGINT) AS price_positive,
             |  CAST(sum(CASE WHEN l_discount <= 0.05
             |    THEN 0 ELSE 1 END) AS BIGINT) AS discount_low,
             |  CAST(sum(CASE WHEN l_shipdate IS NOT NULL
             |    THEN 0 ELSE 1 END) AS BIGINT) AS ship_not_null,
             |  count(*) AS total FROM lineitem)
             |SELECT 'qty_in_range' AS rule, qty_in_range AS n_violations,
             | total AS n_rows,
             | round(CAST(qty_in_range AS DOUBLE) / total, 6) AS violation_rate
             |FROM v
             |UNION ALL SELECT 'price_positive', price_positive, total,
             | round(CAST(price_positive AS DOUBLE) / total, 6) FROM v
             |UNION ALL SELECT 'discount_low', discount_low, total,
             | round(CAST(discount_low AS DOUBLE) / total, 6) FROM v
             |UNION ALL SELECT 'ship_not_null', ship_not_null, total,
             | round(CAST(ship_not_null AS DOUBLE) / total, 6) FROM v"""
        .stripMargin),
    ),

    // Fixed-width histogram over order totals: integral centi-unit
    // binning (float floor(x/w) wobbles at bin boundaries), map-side
    // combined so at most n_bins rows cross the shuffle per task.
    QueryDef(
      "q_histogram",
      (s, d) => graft.operators.Profile.histogram(
        load(s, d, "orders"), "o_totalprice", width = 50000.0),
      Some("""WITH b AS (SELECT
             |  CAST(round(o_totalprice * 100) AS BIGINT) // 5000000 AS bin,
             |  o_totalprice
             |  FROM orders WHERE o_totalprice IS NOT NULL)
             |SELECT bin, count(*) AS n,
             | round(min(o_totalprice), 2) AS bin_min,
             | round(max(o_totalprice), 2) AS bin_max,
             | round(bin * 5000000 / 100.0, 2) AS bin_lo
             |FROM b GROUP BY bin""".stripMargin),
    ),

    // Sliding (hopping) time windows: 1-hour windows every 30
    // minutes, so each event contributes to exactly 2 windows —
    // Spark's window() generator (same operator Structured Streaming
    // uses). The oracle reproduces the expansion with the two
    // half-hour-aligned window starts per event.
    QueryDef(
      "q_window_sliding",
      (s, d) => QueryDef.loadEvents(s, d)
        .withColumn("ts", date_trunc("second", col("ts")))
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(14, 4)))
            .cast(DoubleType).as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("event_type"), col("n"), col("sum_value")),
      Some("""WITH e AS (SELECT event_type,
             |  CAST(value AS DECIMAL(14,4)) AS v,
             |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
             |  FROM events),
             |x AS (SELECT event_type, v,
             |  unnest([es // 1800 * 1800 - 1800, es // 1800 * 1800]) AS ws
             |  FROM e)
             |SELECT strftime(make_timestamp(ws * 1000000),
             |   '%Y-%m-%d %H:%M:%S') AS w_start,
             | event_type, count(*) AS n,
             | CAST(sum(v) AS DOUBLE) AS sum_value
             |FROM x GROUP BY 1, 2""".stripMargin),
    ),

    // Exact moment statistics: mean / population stddev / Pearson
    // correlation per group, from DECIMAL power sums (sx, sxx, sy,
    // syy, sxy) — order-independent exact partial aggregation, the
    // built-in stddev/corr's float accumulators are partitioning-
    // dependent and can't hash-match across engines. The float math
    // happens ONCE per group after aggregation, identically ordered
    // on both sides.
    QueryDef(
      "q_moment_stats",
      (s, d) => {
        val x = col("l_extendedprice").cast(DecimalType(18, 2))
        val y = col("l_quantity").cast(DecimalType(18, 2))
        // Fan.out: five DECIMAL-product partial sums fuse into the
        // scan stage — single-task on single-split bench files
        val sums = graft.operators.Fan.out(load(s, d, "lineitem")
            .select(col("l_returnflag"), col("l_extendedprice"),
              col("l_quantity")))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            sum(x).cast(DoubleType).as("__sx"),
            sum(x * x).cast(DoubleType).as("__sxx"),
            sum(y).cast(DoubleType).as("__sy"),
            sum(y * y).cast(DoubleType).as("__syy"),
            sum(x * y).cast(DoubleType).as("__sxy"))
        val nd = col("n").cast(DoubleType)
        val mx = col("__sx") / nd
        val my = col("__sy") / nd
        val sdx = sqrt(col("__sxx") / nd - mx * mx)
        val sdy = sqrt(col("__syy") / nd - my * my)
        sums.select(col("l_returnflag"), col("n"),
          round(mx, 6).as("mean_price"),
          round(sdx, 6).as("std_price"),
          round(my, 6).as("mean_qty"),
          round(sdy, 6).as("std_qty"),
          round((col("__sxy") / nd - mx * my) / (sdx * sdy), 6)
            .as("corr_pq"))
      },
      Some("""WITH sums AS (SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(x*x) AS DOUBLE) AS sxx,
             |  CAST(sum(y) AS DOUBLE) AS sy, CAST(sum(y*y) AS DOUBLE) AS syy,
             |  CAST(sum(x*y) AS DOUBLE) AS sxy
             |  FROM (SELECT l_returnflag,
             |    CAST(l_extendedprice AS DECIMAL(18,2)) AS x,
             |    CAST(l_quantity AS DECIMAL(18,2)) AS y FROM lineitem)
             |  GROUP BY l_returnflag)
             |SELECT l_returnflag, n,
             | round(sx / n, 6) AS mean_price,
             | round(sqrt(sxx / n - (sx / n) * (sx / n)), 6) AS std_price,
             | round(sy / n, 6) AS mean_qty,
             | round(sqrt(syy / n - (sy / n) * (sy / n)), 6) AS std_qty,
             | round((sxy / n - (sx / n) * (sy / n)) /
             |   (sqrt(sxx / n - (sx / n) * (sx / n)) *
             |    sqrt(syy / n - (sy / n) * (sy / n))), 6) AS corr_pq
             |FROM sums""".stripMargin),
    ),
  )
}
