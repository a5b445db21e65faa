package graft.pipeline

/** Pipeline configuration (reference:
  * src/advisory_pipeline/config/config.py:1-60), as immutable case
  * classes. Every pipeline table is written as one file, the
  * reference's `partitions=1`. Prod is one whole-table overwrite per
  * run, as in the reference (state_machine/pipeline.py:77-85),
  * published by directory swap. */
final case class PipelineConfig(
    runId: String,
    stagingPath: String,
    prodPath: String,
    cachePath: String,
    cacheTtlHours: Double = 0.05,
    incrementalEnabled: Boolean = true,
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
