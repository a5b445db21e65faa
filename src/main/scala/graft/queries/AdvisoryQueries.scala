package graft.queries

import graft.enrichment.EnrichmentCache
import graft.pipeline.AdvisoryMerge
import graft.statemachine.TransitionSql
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The advisory pipeline's operators run against ADVISORY-SHAPED tables
  * derived deterministically from the TPC-H-ish testdata (orders ->
  * echo master list, lineitem -> multi-row enrichment, orders subset ->
  * prior prod state, events -> enrichment cache, part -> raw NVD rows).
  *
  * Derivation fragments are dialect-neutral SQL strings shared verbatim
  * between the Spark `selectExpr` inputs and the DuckDB oracle CTEs;
  * the FSM text comes from [[TransitionSql]]. Only date formatting
  * differs per engine (`date_format` vs `strftime`).
  *
  * The ranking-window dedup adds a unique tiebreaker (`l_linenumber`)
  * to the reference's `priority DESC, timestamp DESC` ordering — the
  * reference leaves ties nondeterministic, which cannot be oracle'd.
  */
object AdvisoryQueries {

  // ---- shared, dialect-neutral derivation fragments ----

  private val echoCols = Seq(
    "'CVE-' || CAST(o_orderkey AS STRING) AS cve_id",
    "'pkg-' || CAST(o_orderkey % 40 AS STRING) AS package_name",
    "CASE WHEN o_orderstatus = 'F' THEN '1.0.' || CAST(o_orderkey % 10 AS STRING) " +
      "WHEN o_orderstatus = 'P' THEN '' ELSE NULL END AS fixed_version",
  )

  private def normCols(dateExpr: String) = Seq(
    "'CVE-' || CAST(l_orderkey AS STRING) AS cve_id",
    "'pkg-' || CAST(l_orderkey % 40 AS STRING) AS package",
    "CASE WHEN l_returnflag = 'R' THEN '2.0.' || CAST(l_linenumber AS STRING) " +
      "ELSE NULL END AS fixed_version",
    "CASE l_returnflag WHEN 'R' THEN 'fixed' WHEN 'A' THEN 'not_applicable' " +
      "ELSE 'pending_upstream' END AS internal_status",
    "'explain-' || l_returnflag AS status",
    "CAST(l_linenumber % 3 AS INT) AS priority",
    s"$dateExpr AS enrichment_timestamp",
    "l_linenumber",
    "l_returnflag",
    "l_partkey",
    "l_suppkey",
  )

  private def prodCols(dateExpr: String) = Seq(
    "'CVE-' || CAST(o_orderkey AS STRING) AS cve_id",
    "'pkg-' || CAST(o_orderkey % 40 AS STRING) AS package",
    "CASE o_orderkey % 7 WHEN 0 THEN 'unknown' WHEN 1 THEN 'pending_upstream' " +
      "WHEN 2 THEN 'fixed' WHEN 3 THEN 'not_applicable' WHEN 4 THEN 'will_not_fix' " +
      "WHEN 5 THEN NULL ELSE 'pending_upstream' END AS status",
    "CAST(NULL AS STRING) AS previous_status",
    "CASE WHEN o_orderkey % 4 = 0 THEN '0.9.' || CAST(o_orderkey % 5 AS STRING) " +
      "ELSE NULL END AS fixed_version",
    "'prod note ' || CAST(o_orderkey % 6 AS STRING) AS internal_status",
    "'production' AS data_source",
    "CAST(o_orderkey % 5 AS INT) AS priority",
    s"CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE $dateExpr END AS enrichment_timestamp",
    "CAST(NULL AS BOOLEAN) AS transition_valid",
    "CAST(NULL AS STRING) AS transition_reason",
    "'unchanged' AS change_type",
  )

  private val overrideCols = Seq(
    "'cve-' || CAST(c_custkey * 10 AS STRING) AS cve_id", // lowercase on purpose
    "'PKG-' || CAST((c_custkey * 10) % 40 AS STRING) AS package", // uppercase on purpose
    "'not_applicable' AS status",
    "CAST(NULL AS STRING) AS fixed_version",
    "CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'code_not_in_use' " +
      "WHEN c_mktsegment = 'MACHINERY' THEN 'disputed' ELSE 'os_specific' END " +
      "AS internal_status",
  )

  private val rawNvdCols = Seq(
    "'CVE-' || CAST(p_partkey AS STRING) AS cve_id",
    "p_brand AS package",
    "(p_size % 3) != 0 AS nvd_found",
    "CASE WHEN p_size % 4 = 0 THEN '3.' || CAST(p_size AS STRING) ELSE NULL END " +
      "AS nvd_fixed_version",
    "CASE p_partkey % 7 WHEN 0 THEN 'Rejected' WHEN 1 THEN 'Analyzed' " +
      "WHEN 2 THEN 'Awaiting Analysis' WHEN 3 THEN 'Undergoing Analysis' " +
      "WHEN 4 THEN 'Modified' WHEN 5 THEN NULL ELSE 'Deferred' END AS nvd_status",
    "'2026-01-' || lpad(CAST(p_partkey % 28 + 1 AS STRING), 2, '0') || " +
      "'T10:00:00+00:00' AS nvd_query_timestamp",
  )

  private val cacheCols = Seq(
    "'CVE-' || CAST(event_id % 2000 AS STRING) AS cve_id",
    "'pkg-' || CAST(event_id % 40 AS STRING) AS package_name",
    "event_type AS source_name",
    "ts AS last_accessed",
  )

  private val toEnrichCols = Seq(
    "'CVE-' || CAST(o_orderkey AS STRING) AS cve_id",
    "'pkg-' || CAST(o_orderkey % 40 AS STRING) AS package",
  )

  // ---- Spark-side derived inputs ----

  private def echoDf(s: SparkSession, d: String) =
    QueryDef.load(s, d, "orders").selectExpr(echoCols: _*)

  private def prodDf(s: SparkSession, d: String) =
    QueryDef.load(s, d, "orders").filter("o_orderkey % 3 = 0")
      .selectExpr(prodCols("date_format(o_orderdate, 'yyyy-MM-dd')"): _*)

  /** The dedup tiebreak q_advisory_merge runs with. */
  private def mergeTiebreak: Seq[org.apache.spark.sql.Column] =
    Seq(col("l_linenumber").desc, col("l_returnflag").desc,
      col("l_partkey").desc, col("l_suppkey").desc)

  /** The best-enrichment dedup of q_advisory_merge, run on RAW lineitem
    * rows before any string derivation — measured 2x the ranking-window-
    * on-derived-strings shape (tools/AdvisoryVariants@3a89fdd: 1.63 s -> 0.83 s
    * at sf0.1) because (a) the per-key winner comes from a sort-free
    * map-side max_by aggregation on the numeric key instead of a
    * two-sort window over two derived string keys, and (b) the derived
    * string projection then runs only for the ~N/4 winner rows instead
    * of every lineitem. Equivalence to the window form
    * (AdvisoryVariants checks row identity; the oracle gates it):
    *   - partition key: cve_id = 'CVE-'||l_orderkey and package =
    *     'pkg-'||l_orderkey%40 are both functions of l_orderkey, and
    *     cve_id is injective in it, so grouping by l_orderkey is the
    *     identical partition;
    *   - ordering: priority = l_linenumber%3 computed directly;
    *     enrichment_timestamp = date_format(l_shipdate,'yyyy-MM-dd') is
    *     strictly monotone AND injective over day-granular timestamps
    *     (checked: zero sub-day components at every committed sf), so
    *     ordering by l_shipdate is the identical ordering;
    *   - the tiebreak columns are raw columns, unchanged, so max_by's
    *     ordering struct equals the window's full ORDER BY tuple.
    *     (l_orderkey, l_linenumber) is NOT unique in this data
    *     (~118k duplicate groups at sf0.1 — checked), so the order is
    *     not total; but rows that tie on the ENTIRE 6-part ordering
    *     tuple project identical output rows (every projected column —
    *     cve_id, package, fixed_version, internal_status, status,
    *     priority, enrichment_timestamp — is a function of the
    *     ordering columns plus l_orderkey), so whichever tied row
    *     max_by or row_number() picks, the emitted row is the same.
    *     Verified: exceptAll 0/0 vs the window form at sf0.1
    *     (AdvisoryVariants) and oracle hash PASS at sf0.001+sf0.01.
    *     A reduced packed-BIGINT key (priority, shipdate, linenumber
    *     only — tools/AdvisoryVariants@3a89fdd variant F) is NOT equivalent
    *     for exactly this reason (29 extra rows from 84 tied groups)
    *     and was rejected; it also only measured ~0.1 s faster before
    *     paying for a tie fix-up. */
  private def bestEnrichmentDf(s: SparkSession, d: String): DataFrame = {
    // Fan.out tried on this scan and REVERTED twice (tools/FanCompare@3a89fdd
    // with clearCache between builds): off med 1.06 vs auto 1.35 at
    // sf0.1 on the old full-payload shape, and off 0.92 vs auto 1.61
    // re-measured AFTER the narrowing below — even at 6 columns the
    // fan's shuffle + barrier never repays parallelizing a partial
    // aggregation that collapses 4:1 (150k groups still shuffle).
    //
    // max(ordStruct), not max_by(payload, ordStruct): every projected
    // output column is a function of the ORDERING columns plus the
    // group key (see the equivalence note above), so the winning
    // tuple itself carries everything the projection needs. Dropping
    // the full-row payload lets the scan prune 16 lineitem columns
    // down to 7 (ReadSchema) and shrinks the aggregation buffer to
    // the 6 ordering fields (guide §2.3 "narrower types" / §6 column
    // pruning). Tie groups are unaffected: rows tying on the ENTIRE
    // tuple are literally the same struct value. Row-identical
    // (tools/ShapeVariants@3a89fdd); oracle green at sf0.001 + sf0.01.
    val raw = QueryDef.load(s, d, "lineitem")
    val ordStruct = struct((col("l_linenumber") % 3).cast("int").as("__prio"),
      col("l_shipdate").as("l_shipdate"),
      col("l_linenumber").as("l_linenumber"),
      col("l_returnflag").as("l_returnflag"),
      col("l_partkey").as("l_partkey"),
      col("l_suppkey").as("l_suppkey"))
    raw.groupBy(col("l_orderkey"))
      .agg(max(ordStruct).as("__top"))
      .select(col("l_orderkey"), col("__top.l_shipdate"),
        col("__top.l_linenumber"), col("__top.l_returnflag"),
        col("__top.l_partkey"), col("__top.l_suppkey"))
      .selectExpr(normCols("date_format(l_shipdate, 'yyyy-MM-dd')") :+
        "l_orderkey AS __mk": _*)
  }

  private def mergeDf(s: SparkSession, d: String): DataFrame =
    // sorted=false: the reference's global ORDER BY is cosmetic (parquet
    // does not preserve it, the compare sorts rows) and costs a full
    // range-partition pass.
    // preRanked without mergeKey: joining on the numeric __mk instead
    // of the (cve_id, package) strings measured consistently SLOWER at
    // sf0.1 (tools/AdvisoryMergeCompare@3a89fdd, interleaved + order-rotated:
    // P min 1.058 s vs PK 1.280 s vs OLD 1.997 s) — AQE broadcast-joins
    // the small sides either way, so the narrower key only adds plan
    // nodes here. At sf1 the ordering flips (PK 1.754 < P 2.008 <
    // OLD 2.116): once the sides outgrow the broadcast threshold the
    // bigint join keys and the reused enrichment partitioning win, so
    // mergeKey is the documented at-scale configuration.
    AdvisoryMerge.mapNewInfo(
      QueryDef.load(s, d, "orders")
        .selectExpr(echoCols :+ "o_orderkey AS __mk": _*),
      bestEnrichmentDf(s, d),
      QueryDef.load(s, d, "orders").filter("o_orderkey % 3 = 0")
        .selectExpr(prodCols("date_format(o_orderdate, 'yyyy-MM-dd')") :+
          "o_orderkey AS __mk": _*),
      tiebreak = mergeTiebreak,
      sorted = false,
      preRanked = true)

  // ---- oracle CTE text (DuckDB date functions) ----

  private val duckDateLine = "strftime(l_shipdate, '%Y-%m-%d')"
  private val duckDateOrd = "strftime(o_orderdate, '%Y-%m-%d')"

  private def mergeOracleCtes: String = {
    s"""WITH echo AS (SELECT ${echoCols.mkString(", ")} FROM orders),
       |norm AS (SELECT ${normCols(duckDateLine).mkString(", ")} FROM lineitem),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cve_id, package
       |  ORDER BY priority DESC, enrichment_timestamp DESC, l_linenumber DESC,
       |  l_returnflag DESC, l_partkey DESC, l_suppkey DESC) AS rn
       |  FROM norm),
       |new_enrichment AS (SELECT cve_id, package,
       |  internal_status AS enrichment_status,
       |  fixed_version AS enrichment_fixed_version,
       |  status AS enrichment_internal_status,
       |  priority AS enrichment_priority, enrichment_timestamp
       |  FROM ranked WHERE rn = 1),
       |prod_full AS (SELECT ${prodCols(duckDateOrd).mkString(", ")} FROM orders
       |  WHERE o_orderkey % 3 = 0),
       |prod_state AS (SELECT cve_id, package,
       |  COALESCE(status, 'unknown') AS prod_status,
       |  fixed_version AS prod_fixed_version,
       |  internal_status AS prod_internal_status,
       |  priority AS prod_priority,
       |  enrichment_timestamp AS prod_enrichment_timestamp FROM prod_full),
       |combined AS (SELECT e.cve_id, e.package,
       |  COALESCE(p.prod_status, 'unknown') AS previous_status,
       |  COALESCE(n.enrichment_status, p.prod_status, 'pending_upstream') AS proposed_status,
       |  COALESCE(n.enrichment_fixed_version, p.prod_fixed_version, e.echo_fixed_version) AS fixed_version,
       |  COALESCE(n.enrichment_internal_status, p.prod_internal_status,
       |    'CVE identified. Awaiting analysis.') AS internal_status,
       |  CASE WHEN n.cve_id IS NOT NULL THEN 'enrichment'
       |       WHEN p.cve_id IS NOT NULL THEN 'production'
       |       ELSE 'echo_advisory' END AS data_source,
       |  COALESCE(n.enrichment_priority, p.prod_priority, 0) AS priority,
       |  COALESCE(n.enrichment_timestamp, p.prod_enrichment_timestamp) AS enrichment_timestamp,
       |  CASE WHEN n.cve_id IS NOT NULL THEN true ELSE false END AS has_new_enrichment,
       |  CASE WHEN p.cve_id IS NOT NULL THEN true ELSE false END AS exists_in_prod
       |  FROM (SELECT cve_id, package_name AS package,
       |        fixed_version AS echo_fixed_version FROM echo) e
       |  LEFT JOIN new_enrichment n ON e.cve_id = n.cve_id AND e.package = n.package
       |  LEFT JOIN prod_state p ON e.cve_id = p.cve_id AND e.package = p.package),
       |staged AS (SELECT *,
       |  ${TransitionSql.normalizedFrom("previous_status")} AS __cf,
       |  ${TransitionSql.normalizedTo("proposed_status")} AS __ct
       |  FROM combined),
       |with_transitions AS (SELECT *,
       |  ${TransitionSql.applyTransitionStaged("previous_status", "proposed_status", "__cf", "__ct")} AS status,
       |  ${TransitionSql.isValidTransition("previous_status", "proposed_status")} AS transition_valid,
       |  ${TransitionSql.transitionExplanation("previous_status", "proposed_status")} AS transition_reason
       |  FROM staged),
       |processed AS (SELECT cve_id, package, status, previous_status, fixed_version,
       |  internal_status, data_source, priority, enrichment_timestamp,
       |  transition_valid, transition_reason,
       |  CASE WHEN NOT exists_in_prod THEN 'new'
       |       WHEN NOT transition_valid THEN 'blocked'
       |       WHEN has_new_enrichment AND previous_status != status THEN 'status_changed'
       |       WHEN has_new_enrichment THEN 'enriched_unchanged'
       |       ELSE 'unchanged' END AS change_type
       |  FROM with_transitions WHERE cve_id IS NOT NULL)""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(

    // FLAGSHIP: the full state-machine merge (2x left join + ranking
    // window dedup + COALESCE cascades + FSM + change classification).
    QueryDef(
      "q_advisory_merge",
      (s, d) => mergeDf(s, d),
      Some(s"$mergeOracleCtes\nSELECT * FROM processed"),
    ),

    // Upsert: processed wins, prod-only rows survive via anti join.
    QueryDef(
      "q_advisory_upsert",
      // persist the merge: its DAG feeds both the union and the anti
      // join; unpersisted it would execute twice (the pipeline proper
      // breaks this with its staging write instead)
      (s, d) => AdvisoryMerge.upsert(mergeDf(s, d).persist(), prodDf(s, d),
        sorted = false),
      Some(s"""$mergeOracleCtes,
              |prod_only AS (SELECT p.* FROM prod_full p
              |  LEFT JOIN processed pr ON p.cve_id = pr.cve_id AND p.package = pr.package
              |  WHERE pr.cve_id IS NULL)
              |SELECT * FROM processed
              |UNION ALL
              |SELECT cve_id, package, status, previous_status, fixed_version,
              |  internal_status, data_source, priority, enrichment_timestamp,
              |  transition_valid, transition_reason, change_type FROM prod_only"""
        .stripMargin),
    ),

    // Case-insensitive override join + CASE state derivation + DISTINCT.
    QueryDef(
      "q_packages_to_enrich",
      (s, d) => AdvisoryMerge.packagesToEnrich(
        echoDf(s, d),
        QueryDef.load(s, d, "customer").selectExpr(overrideCols: _*)),
      Some(s"""WITH advisory AS (SELECT ${echoCols.mkString(", ")} FROM orders),
              |overrides AS (SELECT ${overrideCols.mkString(", ")} FROM customer),
              |joined AS (SELECT a.cve_id, a.package_name AS package,
              |  CASE WHEN m.cve_id IS NOT NULL THEN 'not_applicable'
              |       WHEN a.fixed_version IS NOT NULL AND a.fixed_version != '' THEN 'fixed'
              |       ELSE 'pending_upstream' END AS state
              |  FROM advisory a
              |  LEFT JOIN (SELECT cve_id, package FROM overrides) m
              |    ON lower(a.cve_id) = lower(m.cve_id)
              |   AND lower(a.package_name) = lower(m.package))
              |SELECT DISTINCT cve_id, package FROM joined
              |WHERE state = 'pending_upstream'""".stripMargin),
    ),

    // NVD status normalization CASE-mapping + explanation text.
    QueryDef(
      "q_nvd_normalize",
      (s, d) => AdvisoryMerge.normalizeNvd(
        QueryDef.load(s, d, "part").selectExpr(rawNvdCols: _*), priority = 5),
      Some(s"""WITH raw AS (SELECT ${rawNvdCols.mkString(", ")} FROM part)
              |SELECT cve_id, package, nvd_fixed_version AS fixed_version,
              | CASE WHEN nvd_status = 'Rejected' THEN 'not_applicable'
              |      WHEN nvd_fixed_version IS NOT NULL THEN 'fixed'
              |      ELSE 'pending_upstream' END AS internal_status,
              | CASE WHEN nvd_status = 'Rejected'
              |        THEN 'NVD has marked this record as invalid or retracted. No action required.'
              |      WHEN nvd_fixed_version IS NOT NULL
              |        THEN 'Fix version identified: ' || nvd_fixed_version || '. Update to this version or later.'
              |      WHEN nvd_status = 'Analyzed'
              |        THEN 'Analysis complete, but no fix has been officially released by the maintainers.'
              |      WHEN nvd_status = 'Awaiting Analysis'
              |        THEN 'CVE is published, but NVD enrichment (CPE mapping) is still in progress.'
              |      WHEN nvd_status = 'Undergoing Analysis'
              |        THEN 'NIST analysts are currently verifying the affected and fixed versions.'
              |      WHEN nvd_status = 'Modified'
              |        THEN 'CVE metadata was recently updated; no fix version identified yet.'
              |      ELSE 'Unknown NVD status: ' || COALESCE(nvd_status, 'NULL') || '. Manual review may be required.'
              | END AS status,
              | 5 AS priority,
              | nvd_query_timestamp AS enrichment_timestamp
              |FROM raw WHERE nvd_found = true""".stripMargin),
    ),

    // TTL cache filter: conjunctive timestamp predicate + DISTINCT keys
    // + broadcast LEFT ANTI join.
    QueryDef(
      "q_cache_ttl_filter",
      (s, d) => EnrichmentCache.filterRecentlyEnriched(
        QueryDef.load(s, d, "orders").selectExpr(toEnrichCols: _*).distinct(),
        QueryDef.loadEvents(s, d).selectExpr(cacheCols: _*),
        sourceName = "click",
        cutoff = lit("2024-01-03 00:00:00").cast(TimestampType)),
      Some(s"""WITH cache AS (SELECT ${cacheCols.mkString(", ")} FROM events),
              |to_enrich AS (SELECT DISTINCT ${toEnrichCols.mkString(", ")} FROM orders),
              |cached_keys AS (SELECT DISTINCT cve_id, package_name AS package
              |  FROM cache WHERE source_name = 'click'
              |  AND last_accessed >= TIMESTAMP '2024-01-03 00:00:00')
              |SELECT t.cve_id, t.package FROM to_enrich t
              |LEFT JOIN cached_keys c ON t.cve_id = c.cve_id AND t.package = c.package
              |WHERE c.cve_id IS NULL""".stripMargin),
    ),

    // Cache upsert merge: fresh entries (injected clock) unionByName
    // surviving old entries (anti join on re-enriched keys).
    QueryDef(
      "q_cache_update",
      (s, d) => EnrichmentCache.mergedCacheEntries(
        QueryDef.load(s, d, "orders").filter("o_orderkey % 2 = 0")
          .selectExpr(toEnrichCols: _*),
        Some(QueryDef.loadEvents(s, d).selectExpr(cacheCols: _*)),
        sourceName = "click",
        now = lit("2026-02-01 00:00:00").cast(TimestampType))
        .select(col("cve_id"), col("package_name"), col("source_name"),
          date_format(col("last_accessed"), "yyyy-MM-dd HH:mm:ss")
            .as("last_accessed")),
      Some(s"""WITH cache AS (SELECT ${cacheCols.mkString(", ")} FROM events),
              |entries AS (SELECT cve_id, package, 'click' AS source_name,
              |  TIMESTAMP '2026-02-01 00:00:00' AS last_accessed
              |  FROM (SELECT ${toEnrichCols.mkString(", ")} FROM orders
              |        WHERE o_orderkey % 2 = 0)),
              |surviving AS (SELECT c.* FROM cache c
              |  LEFT JOIN entries e ON c.cve_id = e.cve_id AND c.package_name = e.package
              |  WHERE e.cve_id IS NULL AND c.source_name = 'click')
              |SELECT cve_id, package AS package_name, source_name,
              |  strftime(last_accessed, '%Y-%m-%d %H:%M:%S') AS last_accessed FROM entries
              |UNION ALL
              |SELECT cve_id, package_name, source_name,
              |  strftime(last_accessed, '%Y-%m-%d %H:%M:%S') AS last_accessed FROM surviving"""
        .stripMargin),
    ),
  )
}
