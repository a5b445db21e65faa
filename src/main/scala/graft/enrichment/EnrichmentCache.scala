package graft.enrichment

import graft.io.TableIO
import graft.schemas.AdvisorySchemas
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** TTL-based incremental enrichment cache — the reference's
  * batch-incrementality mechanism (reference:
  * src/advisory_pipeline/enrichment/cache.py:15-165).
  *
  * The cutoff and clock are injected as Columns (the reference computes
  * them driver-side with `datetime.now()`), so tests and oracle queries
  * stay deterministic.
  *
  * Scale notes: the cache table is partitioned by `source_name` and the
  * cached-keys side of the anti join is small and DISTINCT — it is
  * broadcast, so the to-enrich set never shuffles. The cache itself is
  * rewritten per source partition via dynamic partition overwrite rather
  * than a whole-table overwrite.
  */
object EnrichmentCache {

  def loadCache(spark: SparkSession, cachePath: String,
      sourceName: Option[String] = None): DataFrame = {
    val path = sourceName.fold(cachePath)(s => s"$cachePath/source_name=$s")
    TableIO.readTable(spark, path, AdvisorySchemas.enrichmentCache,
      basePath = Some(cachePath))
  }

  /** Drop keys enriched for `sourceName` since `cutoff`
    * (cache.py:46-106): TTL filter -> DISTINCT keys -> LEFT ANTI. */
  def filterRecentlyEnriched(
      cvesToEnrich: DataFrame,
      cache: DataFrame,
      sourceName: String,
      cutoff: Column,
  ): DataFrame = {
    val cachedKeys = cache
      .filter(col("source_name") === sourceName && col("last_accessed") >= cutoff)
      .select(col("cve_id"), col("package_name").as("package"))
      .distinct()
    cvesToEnrich.join(broadcast(cachedKeys), Seq("cve_id", "package"), "left_anti")
  }

  /** New cache content for one source: fresh entries stamped with `now`,
    * unioned with surviving old entries (old minus re-enriched keys)
    * (cache.py:109-165). */
  def mergedCacheEntries(
      enrichedCves: DataFrame,
      existingCache: Option[DataFrame],
      sourceName: String,
      now: Column = current_timestamp(),
  ): DataFrame = {
    val entries = enrichedCves
      .select(col("cve_id"), col("package").as("package_name"))
      .withColumn("source_name", lit(sourceName))
      .withColumn("last_accessed", now)
    existingCache match {
      case Some(existing) =>
        val existingForSource = existing.filter(col("source_name") === sourceName)
        val surviving = existingForSource
          .join(entries.select("cve_id", "package_name"),
            Seq("cve_id", "package_name"), "left_anti")
          .select(entries.columns.map(col).toSeq: _*)
        entries.unionByName(surviving)
      case None => entries
    }
  }

  /** Overwrite this source's partition only, as ONE file: the reference
    * writes one file at every call site, and the API rate caps the cache
    * at about 130k new keys a day, so one file holds at any scale (a
    * plan-sized write would re-fragment the partition every run). The
    * dynamic-overwrite mode is WRITER-SCOPED (a DataFrameWriter option),
    * not set session-wide: the reference sets the session conf once at
    * startup (ap/dependencies.py:40), but a session-wide flip would
    * silently change the semantics of every later overwrite write in the
    * same session — scoping it here keeps parity for THIS write only. */
  def writeCache(spark: SparkSession, merged: DataFrame, cachePath: String): Unit = {
    TableIO.writeTable(merged, cachePath, AdvisorySchemas.enrichmentCache,
      mode = SaveMode.Overwrite, partitionKeys = Seq("source_name"),
      partitions = 1, options = Map("partitionOverwriteMode" -> "dynamic"))
  }
}
