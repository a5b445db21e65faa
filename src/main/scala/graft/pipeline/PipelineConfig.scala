package graft.pipeline

/** Pipeline configuration (reference:
  * src/advisory_pipeline/config/config.py:1-60), as immutable case
  * classes. `outputPartitions` generalizes the reference's hard-coded
  * `partitions=1`; 0 lets AQE decide (the scale default). */
final case class PipelineConfig(
    runId: String,
    stagingPath: String,
    prodPath: String,
    cachePath: String,
    cacheTtlHours: Double = 0.05,
    incrementalEnabled: Boolean = true,
    outputPartitions: Int = 1,
    // Commit the prod state-machine table through the snapshot-manifest
    // layer instead of a whole-table overwrite. The reference's prod
    // write (state_machine/pipeline.py:77-85) deletes-and-rewrites the
    // table, which is exactly the torn-read/delete-window the manifest
    // commit removes: readers pin a consistent version, prior runs stay
    // time-travel-readable, and a crashed run can never leave prod
    // half-written. Same merge semantics (processed rows replace by
    // (cve_id, package); prod-only rows survive).
    prodSnapshot: Boolean = false,
    // Hash-bucket count for the snapshot prod table (size so a bucket
    // is a comfortable single-file rewrite unit at the deployment's
    // table size).
    prodBuckets: Int = 16,
)

object PipelineConfig {
  def fromDefaults(runId: String, basePath: String): PipelineConfig =
    PipelineConfig(
      runId = runId,
      stagingPath = s"$basePath/output/staging",
      prodPath = s"$basePath/output/prod",
      cachePath = s"$basePath/output/enrichment_cache",
    )
}
