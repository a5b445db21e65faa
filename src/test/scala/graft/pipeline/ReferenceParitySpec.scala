package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Replays the reference's committed production run through THIS
  * engine's merge and diffs against the reference's committed output —
  * 40,431 real rows of semantic parity (reference artifacts under
  * src/advisory_pipeline/output/, read-only).
  *
  * Inputs: the staged echo advisory list and the PRIOR prod table
  * (prod/cve_state_machine). The run's normalized enrichment was not
  * committed, so it is reconstructed from the final output's
  * enrichment-sourced rows (value columns feed the COALESCE cascades
  * unchanged; what the test genuinely checks is everything the engine
  * COMPUTES: join/dedup structure, previous_status resolution, FSM
  * status/validity/reason, data_source tagging, change classification —
  * for every row, against the Python reference's actual output). */
class ReferenceParitySpec extends SparkSpec {

  val base = "/root/reference/src/advisory_pipeline/output"

  test("mapNewInfo reproduces the reference's committed prod table exactly") {
    assume(new java.io.File(base).isDirectory, "reference artifacts not present")

    val echo = spark.read
      .parquet(s"$base/staging/run_id=20260118_140130/sources/data")
    val expected = spark.read.parquet(s"$base/prod/state_machine/cve_state_machine")

    // The committed prod/cve_state_machine is >= 2 runs stale (801 rows
    // carry a previous_status it never held), so the true prior state
    // is reconstructed from the final output itself: previous_status IS
    // the prior status by definition, and for non-enriched rows the
    // value columns pass through unchanged. Enrichment value columns
    // feed their own COALESCE (acknowledged above); the FSM, joins,
    // dedup, and classification are computed fresh and checked.
    val prodPrev = expected.select(
      col("cve_id"), col("package"),
      col("previous_status").as("status"),
      lit(null).cast("string").as("previous_status"),
      col("fixed_version"), col("internal_status"),
      col("data_source"), col("priority"), col("enrichment_timestamp"),
      col("transition_valid"), col("transition_reason"), col("change_type"))

    // reconstruct the run's normalized enrichment (schema pun applies:
    // normalized.internal_status = echo STATE, normalized.status =
    // customer explanation)
    val normalized = expected.filter(col("data_source") === "enrichment")
      .select(
        col("cve_id"), col("package"), col("fixed_version"),
        col("status").as("internal_status"),
        col("internal_status").as("status"),
        col("priority"), col("enrichment_timestamp"))

    val ours = AdvisoryMerge.mapNewInfo(echo, normalized, prodPrev)

    val cols = expected.columns.sorted.map(col).toSeq
    val diff = ours.select(cols: _*)
      .exceptAll(expected.select(cols: _*))
      .union(expected.select(cols: _*).exceptAll(ours.select(cols: _*)))

    assert(ours.count() == 40431)
    val mismatches = diff.count()
    if (mismatches != 0) diff.show(10, truncate = false)
    assert(mismatches == 0, s"$mismatches row-level differences vs reference output")

    // and change classification distribution matches the committed run
    val dist = ours.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dist == Map("enriched_unchanged" -> 1941L, "status_changed" -> 19L,
      "unchanged" -> 38471L))
  }
}
