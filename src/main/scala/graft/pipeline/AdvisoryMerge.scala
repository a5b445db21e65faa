package graft.pipeline

import graft.statemachine.TransitionFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The state-machine stage's relational core, as composable
  * DataFrame-API operators (Spark-first re-expression of the reference's
  * SQL generators; semantics cited per function).
  *
  * Scale posture: the merge is two left joins keyed on
  * `(cve_id, package)` plus one ranking window on the same key — at
  * 100 TB all three reuse ONE hash partitioning of the key, so Catalyst
  * plans a single shuffle per input; the FSM is plain CASE expressions
  * (no UDF boundary), keeping the whole plan in whole-stage codegen.
  */
object AdvisoryMerge {

  /** Best-enrichment-per-key dedup (reference:
    * state_machine/queries/map_new_info_with_udf.py:31-51).
    *
    * @param tiebreak extra deterministic ordering columns appended after
    *   the reference's `priority DESC, enrichment_timestamp DESC`; the
    *   reference leaves ties to chance, which is non-reproducible — pass
    *   a unique key here whenever reproducibility matters.
    */
  def rankEnrichment(normalized: DataFrame, tiebreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(col("cve_id"), col("package"))
      .orderBy(col("priority").desc +: col("enrichment_timestamp").desc +: tiebreak: _*)
    normalized
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(selectEnrichment: _*)
  }

  /** The normalized-schema -> enrichment-schema re-alias of
    * [[rankEnrichment]]'s winner rows, shared with callers that dedup
    * upstream themselves (`mapNewInfo(preRanked = true)`). */
  private[graft] def selectEnrichment: Seq[Column] = Seq(
    col("cve_id"), col("package"),
    // column pun (SURVEY §7.4): internal_status holds the echo STATE,
    // status holds the customer explanation — swap on re-alias.
    col("internal_status").as("enrichment_status"),
    col("fixed_version").as("enrichment_fixed_version"),
    col("status").as("enrichment_internal_status"),
    col("priority").as("enrichment_priority"),
    col("enrichment_timestamp"))

  /** Full merge: echo master list LEFT JOIN best-enrichment LEFT JOIN
    * prior prod state, COALESCE cascades, FSM transition columns, change
    * classification (map_new_info_with_udf.py:16-179).
    *
    * @param echo       echo advisory (package_name, cve_id, fixed_version)
    * @param normalized normalized enrichment (normalizedEnrichment schema)
    * @param prod       prior prod state (cveStateMachine schema)
    */
  /** @param sorted apply the reference's cosmetic global ORDER BY
    *   (change-type rank, cve_id). It costs a full range-partition
    *   shuffle and parquet does not preserve it — disable at scale. */
  /** @param preRanked `normalized` already carries exactly ONE best row
    *   per (cve_id, package) — the caller ran the dedup itself (e.g.
    *   against narrower pre-projection columns whose ordering it can
    *   prove equivalent, the way AdvisoryQueries ranks raw lineitem
    *   rows by their numeric key). Skips [[rankEnrichment]]'s window;
    *   only the enrichment-schema re-alias is applied. The caller owns
    *   the one-row-per-key guarantee — duplicate keys here would fan
    *   out the left join.
    * @param mergeKey when set, every input additionally carries this
    *   column and the caller GUARANTEES its equality is equivalent to
    *   (cve_id, package) equality (an injective derivation — e.g. the
    *   numeric order key both strings are built from). The two left
    *   joins then key on it: narrower shuffles, cheap bigint
    *   sort/hash comparisons, and an enrichment side that is already
    *   hash-partitioned by the key (its dedup grouped on it) joins
    *   with NO further exchange. Output is unchanged — cve_id/package
    *   always come from the echo side, and under a LEFT join a
    *   non-matching key yields the same NULL columns either way. */
  def mapNewInfo(
      echo: DataFrame,
      normalized: DataFrame,
      prod: DataFrame,
      tiebreak: Seq[Column] = Nil,
      sorted: Boolean = true,
      preRanked: Boolean = false,
      mergeKey: Option[String] = None,
  ): DataFrame = {
    require(mergeKey.isEmpty || preRanked,
      "mergeKey currently requires preRanked: rankEnrichment's window " +
        "does not carry the key through its projection")
    val joinKeys = mergeKey.fold(Seq("cve_id", "package"))(Seq(_))
    // with a mergeKey, the side tables' (cve_id, package) are redundant
    // (echo provides the output values) — drop them so the join does not
    // collide column names and the planner prunes their derivation
    def sideCols(df: DataFrame): DataFrame =
      mergeKey.fold(df)(_ => df.drop("cve_id", "package"))

    val prodState = sideCols(prod.select(
      col("cve_id") +: col("package") +: mergeKey.map(col).toSeq ++: Seq(
      coalesce(col("status"), lit("unknown")).as("prod_status"),
      col("fixed_version").as("prod_fixed_version"),
      col("internal_status").as("prod_internal_status"),
      col("priority").as("prod_priority"),
      col("enrichment_timestamp").as("prod_enrichment_timestamp"),
      lit(true).as("exists_in_prod_marker")): _*))

    val newEnrichment = sideCols(
      (if (preRanked) normalized.select(
          selectEnrichment ++ mergeKey.map(col).toSeq: _*)
       else rankEnrichment(normalized, tiebreak))
        .withColumn("has_new_enrichment_marker", lit(true)))

    val echoAdvisory = echo.select(
      col("cve_id") +: col("package_name").as("package") +:
        mergeKey.map(col).toSeq ++:
        Seq(col("fixed_version").as("echo_fixed_version")): _*)

    val combined = echoAdvisory
      .join(newEnrichment, joinKeys, "left")
      .join(prodState, joinKeys, "left")
      .select(
        col("cve_id"), col("package"),
        coalesce(col("prod_status"), lit("unknown")).as("previous_status"),
        coalesce(col("enrichment_status"), col("prod_status"),
          lit("pending_upstream")).as("proposed_status"),
        coalesce(col("enrichment_fixed_version"), col("prod_fixed_version"),
          col("echo_fixed_version")).as("fixed_version"),
        coalesce(col("enrichment_internal_status"), col("prod_internal_status"),
          lit("CVE identified. Awaiting analysis.")).as("internal_status"),
        when(col("has_new_enrichment_marker").isNotNull, "enrichment")
          .when(col("exists_in_prod_marker").isNotNull, "production")
          .otherwise("echo_advisory").as("data_source"),
        coalesce(col("enrichment_priority"), col("prod_priority"), lit(0))
          .as("priority"),
        coalesce(col("enrichment_timestamp"), col("prod_enrichment_timestamp"))
          .as("enrichment_timestamp"),
        coalesce(col("has_new_enrichment_marker"), lit(false))
          .as("has_new_enrichment"),
        coalesce(col("exists_in_prod_marker"), lit(false)).as("exists_in_prod"))

    // Stage the normalized states ONCE as attributes; inlined they would
    // repeat ~8x inside applyTransition's CASE (and once more per extra
    // transition column) — same tree-size trick as Dedup.shingleSets.
    val withTransitions = combined
      .withColumn("__cf",
        expr(graft.statemachine.TransitionSql.normalizedFrom("previous_status")))
      .withColumn("__ct",
        expr(graft.statemachine.TransitionSql.normalizedTo("proposed_status")))
      .withColumn("status",
        expr(graft.statemachine.TransitionSql.applyTransitionStaged(
          "previous_status", "proposed_status", "__cf", "__ct")))
      .withColumn("transition_valid",
        TransitionFunctions.isValidTransition("previous_status", "proposed_status"))
      .withColumn("transition_reason",
        TransitionFunctions.transitionExplanation("previous_status", "proposed_status"))

    val classified = withTransitions
      .withColumn("change_type",
        when(!col("exists_in_prod"), "new")
          .when(!col("transition_valid"), "blocked")
          .when(col("has_new_enrichment") &&
            col("previous_status") =!= col("status"), "status_changed")
          .when(col("has_new_enrichment"), "enriched_unchanged")
          .otherwise("unchanged"))
      .filter(col("cve_id").isNotNull)
      .select("cve_id", "package", "status", "previous_status", "fixed_version",
        "internal_status", "data_source", "priority", "enrichment_timestamp",
        "transition_valid", "transition_reason", "change_type")
    if (sorted) classified.orderBy(processedOrder: _*) else classified
  }

  /** The reference's row order of the processed table: change-type rank
    * (new, status_changed, blocked, enriched_unchanged, then the rest),
    * then `cve_id`. */
  val processedOrder: Seq[Column] = Seq(
    when(col("change_type") === "new", 1)
      .when(col("change_type") === "status_changed", 2)
      .when(col("change_type") === "blocked", 3)
      .when(col("change_type") === "enriched_unchanged", 4)
      .otherwise(5),
    col("cve_id"))

  /** The reference's row order of the upserted prod table. */
  val prodOrder: Seq[Column] = Seq(col("cve_id"), col("package"))

  /** Overwrite-as-upsert: processed rows win, prod-only rows survive via
    * anti join (upsert_data.py:18-86). Not a MERGE — the whole table is
    * rewritten; change detection lives in the change_type column. */
  def upsert(processed: DataFrame, prod: DataFrame,
      sorted: Boolean = true): DataFrame = {
    val cols = processed.columns.map(col).toSeq
    val prodOnly = prod.join(
      processed.select("cve_id", "package"), Seq("cve_id", "package"), "left_anti")
    val combined = processed.union(prodOnly.select(cols: _*))
    if (sorted) combined.orderBy(prodOrder: _*) else combined
  }

  /** CVEs needing upstream enrichment: case-insensitive left join of the
    * advisory list against manual overrides, 3-way CASE state
    * derivation, DISTINCT pending set
    * (enrichment/queries/packages_to_enrich.py:10-43). */
  def packagesToEnrich(advisory: DataFrame, overrides: DataFrame): DataFrame = {
    val a = advisory.select(col("cve_id"), col("package_name"), col("fixed_version"))
    val m = overrides.select(col("cve_id").as("m_cve_id"), col("package").as("m_package"))
    a.join(broadcast(m),
        lower(a("cve_id")) === lower(m("m_cve_id")) &&
          lower(a("package_name")) === lower(m("m_package")), "left")
      .select(a("cve_id"), a("package_name").as("package"),
        when(m("m_cve_id").isNotNull, "not_applicable")
          .when(a("fixed_version").isNotNull && a("fixed_version") =!= "", "fixed")
          .otherwise("pending_upstream").as("state"))
      .filter(col("state") === "pending_upstream")
      .select("cve_id", "package")
      .distinct()
  }

  /** NVD raw -> unified enrichment schema: status CASE mapping +
    * explanation text (enrichment/queries/nvd_normalization.py:18-57).
    * Output follows the normalized-schema column pun. */
  def normalizeNvd(rawNvd: DataFrame, priority: Int): DataFrame =
    rawNvd.filter(col("nvd_found") === true).select(
      col("cve_id"), col("package"),
      col("nvd_fixed_version").as("fixed_version"),
      when(col("nvd_status") === "Rejected", "not_applicable")
        .when(col("nvd_fixed_version").isNotNull, "fixed")
        .otherwise("pending_upstream").as("internal_status"),
      when(col("nvd_status") === "Rejected",
          "NVD has marked this record as invalid or retracted. No action required.")
        .when(col("nvd_fixed_version").isNotNull,
          concat(lit("Fix version identified: "), col("nvd_fixed_version"),
            lit(". Update to this version or later.")))
        .when(col("nvd_status") === "Analyzed",
          "Analysis complete, but no fix has been officially released by the maintainers.")
        .when(col("nvd_status") === "Awaiting Analysis",
          "CVE is published, but NVD enrichment (CPE mapping) is still in progress.")
        .when(col("nvd_status") === "Undergoing Analysis",
          "NIST analysts are currently verifying the affected and fixed versions.")
        .when(col("nvd_status") === "Modified",
          "CVE metadata was recently updated; no fix version identified yet.")
        .otherwise(concat(lit("Unknown NVD status: "),
          coalesce(col("nvd_status"), lit("NULL")),
          lit(". Manual review may be required."))).as("status"),
      lit(priority).as("priority"),
      col("nvd_query_timestamp").as("enrichment_timestamp"))
}
