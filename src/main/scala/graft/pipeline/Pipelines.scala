package graft.pipeline

import graft.enrichment.{EnrichmentCache, HttpTransport, NvdClient, NvdConfig}
import graft.io.TableIO
import graft.schemas.AdvisorySchemas
import graft.statemachine.TransitionFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.time.temporal.ChronoUnit
import scala.jdk.CollectionConverters._

/** The three sequential sub-pipelines (reference: run.py:29-74 plus
  * ingest/ingestion_pipeline.py, enrichment/pipeline.py,
  * state_machine/pipeline.py), composed from the library operators.
  * Stages hand off through run-isolated parquet staging plus temp
  * views, mirroring the reference's materialization barriers (a cheap
  * lineage cut; at scale, each stage's output is also independently
  * redriveable).
  *
  * Each intermediate is computed once: enrichment collects the pending
  * keys to the driver once and fetches them there, as the reference
  * does; the single-file writes coalesce rather than shuffle, and apply
  * the reference's row orders with a local sort
  * (`TableIO.writeTable(sortBy = …)`), not a global range sort; and
  * overwrite-mode prod is published by renaming the staged upsert into
  * place (`TableIO.swapIn`).
  */
object Pipelines {

  /** Session-level pipeline configuration (reference:
    * ap/dependencies.py:38-45): dynamic partition overwrite. */
  def configure(spark: SparkSession, config: PipelineConfig): Unit =
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

  /** Stage 1 — ingest the advisory feed (and optionally the Postgres
    * override table; callers without a database stage overrides from a
    * DataFrame directly). */
  def runIngest(
      spark: SparkSession,
      config: PipelineConfig,
      transport: HttpTransport,
      advisoryUrl: String,
      overrides: Option[DataFrame] = None,
  ): DataFrame = {
    val echo = graft.ingest.EchoAdvisorySource.ingest(
      spark, transport, advisoryUrl, config.stagingPath, config.runId,
      partitions = config.outputPartitions)
    overrides.foreach { df =>
      val path = s"${config.stagingPath}/run_id=${config.runId}/sources/not_applicable_cves"
      TableIO.writeTable(df, path, AdvisorySchemas.notApplicableCves,
        partitions = config.outputPartitions)
      TableIO.readTable(spark, path, AdvisorySchemas.notApplicableCves)
        .createOrReplaceGlobalTempView("not_applicable_cves")
    }
    echo
  }

  /** Stage 2 — find pending CVEs, drop the recently-cached, call the
    * enrichment source, normalize, refresh the cache
    * (enrichment/pipeline.py:122-178). Returns the normalized output
    * (also written under `enrichment/normalized/enrichment_source=`).
    *
    * The reference's `count() == 0` short-circuit is kept, as
    * `isEmpty` on the collected pending keys: when the TTL cache
    * covers everything, no API call and no downstream work happens. */
  def runEnrichment(
      spark: SparkSession,
      config: PipelineConfig,
      transport: HttpTransport,
      nvdConfig: NvdConfig,
      echo: DataFrame,
      overrides: DataFrame,
      now: java.time.Instant = java.time.Instant.now(),
      nowIso: () => String = null,
  ): DataFrame = {
    val toEnrich = AdvisoryMerge.packagesToEnrich(echo, overrides)

    val cutoffMicros = now.minus((config.cacheTtlHours * 3600).toLong,
      ChronoUnit.SECONDS)
    val cutoff: Column = lit(java.sql.Timestamp.from(cutoffMicros))
    val cache = EnrichmentCache.loadCache(spark, config.cachePath).persist()
    try {
      // One collect: the emptiness check, the NVD fetch and the cache merge
      // below all read these keys, so the pending-key plan (echo scan,
      // override join, cache anti join) runs once.
      val pending = if (config.incrementalEnabled)
          EnrichmentCache.filterRecentlyEnriched(toEnrich, cache, "nvd", cutoff)
        else toEnrich
      val needed = pending.collect().toSeq

      val normalized =
        if (needed.isEmpty) TableIO.emptyTable(spark, AdvisorySchemas.normalizedEnrichment)
        else {
          val fetched = NvdClient.enrichFromNvd(
            needed.map(r => (r.getString(0), r.getString(1))), transport, nvdConfig,
            Option(nowIso).getOrElse(() => now.toString))
          val rawPath = s"${config.stagingPath}/run_id=${config.runId}/enrichment/raw/nvd"
          TableIO.writeTable(spark.createDataFrame(fetched.asJava, AdvisorySchemas.rawNvd),
            rawPath, AdvisorySchemas.rawNvd, partitions = config.outputPartitions)
          val rawBack = TableIO.readTable(spark, rawPath, AdvisorySchemas.rawNvd)
          val norm = AdvisoryMerge.normalizeNvd(rawBack, priority = 5)
          val normPath = s"${config.stagingPath}/run_id=${config.runId}/enrichment/normalized/enrichment_source=nvd"
          TableIO.writeTable(norm, normPath, AdvisorySchemas.normalizedEnrichment,
            partitions = config.outputPartitions)

          val merged = EnrichmentCache.mergedCacheEntries(
            spark.createDataFrame(needed.asJava, pending.schema), Some(cache), "nvd",
            now = lit(java.sql.Timestamp.from(now)))
          EnrichmentCache.writeCache(spark, merged, config.cachePath)
          TableIO.readTable(spark, normPath, AdvisorySchemas.normalizedEnrichment)
        }
      normalized.createOrReplaceGlobalTempView("normalized_enrichment")
      normalized
    } finally cache.unpersist() // released whether the stage succeeds or throws
  }

  /** Stage 3 — merge + FSM + upsert into prod
    * (state_machine/pipeline.py:98-145). Registers the reference-named
    * UDFs so verbatim reference SQL also runs. */
  def runStateMachine(
      spark: SparkSession,
      config: PipelineConfig,
      echo: DataFrame,
      normalized: DataFrame,
  ): DataFrame = {
    TransitionFunctions.registerUdfs(spark)
    val prodPath = s"${config.prodPath}/state_machine/cve_state_machine"
    val prod =
      if (config.prodSnapshot) {
        if (graft.streaming.SnapshotUpsert.versions(spark, prodPath).isEmpty)
          TableIO.emptyTable(spark, AdvisorySchemas.cveStateMachine)
        else graft.streaming.SnapshotUpsert.readSnapshot(spark, prodPath)
      } else
        TableIO.readTable(spark, prodPath, AdvisorySchemas.cveStateMachine)

    // the reference's row order is applied by the single-file write (a
    // coalesce and a local sort), not by a separate global sort
    val processed = AdvisoryMerge.mapNewInfo(echo, normalized, prod, sorted = false)
    val processedPath =
      s"${config.stagingPath}/run_id=${config.runId}/state_machine/processed"
    TableIO.writeTable(processed, processedPath, AdvisorySchemas.cveStateMachine,
      partitions = config.outputPartitions, sortBy = AdvisoryMerge.processedOrder)
    val processedBack =
      TableIO.readTable(spark, processedPath, AdvisorySchemas.cveStateMachine)
    processedBack.createOrReplaceGlobalTempView("processed_cve_state_machine")

    if (config.prodSnapshot) {
      // Snapshot-committed prod: the manifest merge IS the upsert
      // (arrival order — processed rows replace by key, prod-only rows
      // are carried by reference), committed atomically. No staging
      // round-trip is needed: the merge never overwrites a path it
      // reads, so there is no torn-read window to stage around, and
      // each run stays time-travel-readable as its own version.
      //
      // Multiplicity guard: the keyed merge keeps ONE row per
      // (cve_id, package), while the legacy upsert path preserves
      // duplicate key pairs — if mapNewInfo ever emitted duplicates,
      // flipping prodSnapshot would silently change row multiplicity.
      // mapNewInfo is key-unique today (its window dedup guarantees
      // it); this assert turns a future regression into a loud error
      // instead of a silent drop. processedBack is the staged run
      // output (freshly written, run-sized), so the check is one cheap
      // aggregate over it.
      val dupKeys = processedBack.groupBy("cve_id", "package")
        .count().where(col("count") > 1).limit(5)
        .collect().map(r => s"(${r.get(0)}, ${r.get(1)})")
      require(dupKeys.isEmpty,
        "prodSnapshot: processed output carries duplicate " +
          s"(cve_id, package) keys (e.g. ${dupKeys.mkString(", ")}); the " +
          "snapshot merge would keep one row per key where the legacy " +
          "path preserves duplicates — fix the upstream merge instead of " +
          "silently changing multiplicity")
      graft.streaming.SnapshotUpsert.upsertBatchSnapshot(processedBack,
        prodPath, keys = Seq("cve_id", "package"), orderCol = "",
        nBuckets = config.prodBuckets)
      // an all-empty bootstrap (quiet day one: zero advisories) commits
      // no version at all — return the empty prod the overwrite mode
      // would have written instead of failing the read
      if (graft.streaming.SnapshotUpsert.versions(spark, prodPath).isEmpty)
        TableIO.emptyTable(spark, AdvisorySchemas.cveStateMachine)
      else graft.streaming.SnapshotUpsert.readSnapshot(spark, prodPath)
    } else {
      // The upsert reads prod in full into the staged copy, which then
      // replaces prod by directory rename: no second write of the table,
      // and a reader sees the old prod or the new one, never a torn one.
      val upserted = AdvisoryMerge.upsert(processedBack, prod, sorted = false)
      val upsertTmp = s"${config.stagingPath}/run_id=${config.runId}/state_machine/upserted"
      TableIO.writeTable(upserted, upsertTmp, AdvisorySchemas.cveStateMachine,
        partitions = config.outputPartitions, sortBy = AdvisoryMerge.prodOrder)
      TableIO.swapIn(spark, upsertTmp, prodPath)
      TableIO.readTable(spark, prodPath, AdvisorySchemas.cveStateMachine)
    }
  }

  /** Full run: ingest -> enrich -> state machine. */
  def run(
      spark: SparkSession,
      config: PipelineConfig,
      transport: HttpTransport,
      nvdConfig: NvdConfig,
      advisoryUrl: String,
      overrides: DataFrame,
      now: java.time.Instant = java.time.Instant.now(),
  ): DataFrame = {
    val echo = runIngest(spark, config, transport, advisoryUrl, Some(overrides))
    val normalized = runEnrichment(spark, config, transport, nvdConfig,
      echo, overrides, now)
    runStateMachine(spark, config, echo, normalized)
  }
}
