package perfbench

import graft.enrichment.{EnrichmentCache, NvdConfig}
import graft.pipeline.{PipelineConfig, Pipelines}
import graft.schemas.AdvisorySchemas
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import java.time.Instant
import java.time.temporal.ChronoUnit
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `advisory_nightly`: repeated `Pipelines.runIngest` -> `runEnrichment`
  * -> `runStateMachine` calls (the calls `Pipelines.run` makes) over
  * successive run_ids, sharing one prod table and one enrichment cache in
  * the default overwrite prod mode.
  *
  * Set-up writes the enrichment cache for the pending base keys through
  * `EnrichmentCache.writeCache` and makes one cold bootstrap run, which
  * enriches the few pending keys left out of the cache. The
  * measured sequence repeats nightly, nightly, re-drive: a nightly run
  * serves the next step's feed (new CVEs plus fixed-version churn); a
  * re-drive runs the last nightly run_id again on the same feed, inside
  * the cache TTL, and so asks NVD nothing. The clock advances one day per
  * nightly run and the TTL is a year, so no cache entry expires. */
final class Advisory(seed: Long, baseRows: Int, ops: Int,
    golden: Option[Seq[Map[String, Long]]]) extends Workload {
  import Advisory._

  private val data = new AdvisoryData(seed, baseRows)
  private val stubId = s"advisory-$seed-${System.nanoTime()}"
  private val stub = new StubServer(data)
  StubServer.register(stubId, stub)
  private val transport = new StubTransport(stubId)
  // one fetch partition: the limiter's floor then depends only on the
  // request count, not on how a seed's keys hash across partitions
  private val nvd = NvdConfig(apiUrl = StubServer.NvdUrl, apiKey = Some("perfbench"),
    partitions = 1)
  private val limiterIntervalS =
    (1000.0 / (nvd.rateLimitPerSec / math.max(nvd.partitions, 1))).toLong / 1000.0

  private var base = ""
  private var opIndex = 0 // position in the golden sequence (bootstrap = 0)

  private val stats = mutable.ArrayBuffer.empty[OpStats]
  private val seenHistograms = mutable.ArrayBuffer.empty[Map[String, Long]]

  private def config(runId: String) = PipelineConfig(runId = runId,
    stagingPath = s"$base/staging", prodPath = s"$base/prod",
    cachePath = s"$base/enrichment_cache", cacheTtlHours = TtlHours)

  def setup(spark: SparkSession, dir: String): Unit = {
    base = dir
    opIndex = 0
    seenHistograms.clear()
    Pipelines.configure(spark, config("setup"))
    val cached = data.cachedKeys.map { case (c, p) =>
      Row(c, p, "nvd", java.sql.Timestamp.from(Epoch)) }
    EnrichmentCache.writeCache(spark,
      spark.createDataFrame(cached.asJava, AdvisorySchemas.enrichmentCache),
      config("setup").cachePath)
    val boot = runOp(spark, new Tracer(false, spark.sparkContext), 0,
      "bootstrap", 0, "boot", Epoch)
    require(boot.ok, s"bootstrap run failed: ${boot.error}")
  }

  def run(spark: SparkSession, tracer: Tracer, afterOp: () => Unit): Seq[OpResult] = {
    stats.clear()
    var step = 0
    (1 to ops).map { op =>
      val redrive = op % 3 == 0
      if (!redrive) step += 1
      val now = Epoch.plus(step.toLong, ChronoUnit.DAYS)
      val r = runOp(spark, tracer, op, if (redrive) "redrive" else "nightly", step,
        f"n$step%04d", if (redrive) now.plus(1, ChronoUnit.HOURS) else now)
      afterOp()
      r
    }
  }

  private def runOp(spark: SparkSession, tracer: Tracer, op: Int, kind: String,
      step: Int, runId: String, now: Instant): OpResult = {
    val cfg = config(runId)
    val feed = data.feed(step)
    stub.feed = feed
    stub.takeLog()
    val overrides = spark.createDataFrame(
      data.overrides(step).map { case (c, p) =>
        Row(c, p, "not_applicable", null, "Manually marked not applicable.") }.asJava,
      AdvisorySchemas.notApplicableCves)
    val areas = Seq(cfg.stagingPath, cfg.prodPath, cfg.cachePath)
    val before = areas.map(Workload.listing)
    val requests0 = stub.nvdRequests.get()

    var error = ""
    val (_, secs) = Workload.timed {
      tracer.span("op", op, kind) {
        try {
          val echo = tracer.span("ingest", op, kind) {
            Pipelines.runIngest(spark, cfg, transport, StubServer.FeedUrl, Some(overrides))
          }
          val normalized = tracer.span("enrich", op, kind) {
            Pipelines.runEnrichment(spark, cfg, transport, nvd, echo, overrides, now)
          }
          tracer.span("statemachine", op, kind) {
            Pipelines.runStateMachine(spark, cfg, echo, normalized)
          }
        } catch { case e: Throwable => error = Workload.describe(e) }
      }
    }

    val requests = stub.nvdRequests.get() - requests0
    val floorS = stub.takeLog().values.map(n => (n - 1) * limiterIntervalS)
      .maxOption.getOrElse(0.0)
    val written = areas.zip(before).map { case (a, b) =>
      Workload.written(b, Workload.listing(a)) }
    val failures = mutable.ArrayBuffer.empty[String]
    if (error.nonEmpty) failures += error
    var histogram = Map.empty[String, Long]
    if (error.isEmpty) Workload.check(spark) {
      val expectedRequests = kind match {
        case "nightly" => data.newPendingKeys
        case "bootstrap" => AdvisoryData.BootstrapRequests
        case _ => 0
      }
      if (requests != expectedRequests)
        failures += s"NVD requests $requests, expected $expectedRequests"
      val again = new AdvisoryData(seed, baseRows)
      if (!java.util.Arrays.equals(again.feed(step), feed))
        failures += "feed generation is not deterministic"
      val probe = data.cveId(data.rows(step) - 1)
      if (again.nvdBody(probe) != data.nvdBody(probe))
        failures += "NVD bodies are not deterministic"
      val prod = spark.read.parquet(s"${cfg.prodPath}/state_machine/cve_state_machine")
      val r = prod.agg(count(lit(1)),
        count_distinct(col("cve_id"), col("package"))).head()
      if (r.getLong(0) != r.getLong(1))
        failures += s"prod has duplicate (cve_id, package) keys: ${r.getLong(0)} rows, ${r.getLong(1)} keys"
      if (r.getLong(1) != data.rows(step))
        failures += s"prod has ${r.getLong(1)} keys, master list has ${data.rows(step)}"
      histogram = prod.groupBy("change_type").count().collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      golden.foreach { g =>
        if (opIndex >= g.size) failures += s"no golden change_type histogram for op $opIndex"
        else if (g(opIndex) != histogram)
          failures += s"change_type histogram ${histogram.toSeq.sorted}, golden ${g(opIndex).toSeq.sorted}"
      }
    }
    opIndex += 1
    seenHistograms += histogram
    stats += OpStats(kind, feed.length, data.rows(step), data.pendingKeys(step),
      requests, floorS, histogram.filter(_._1 != "unchanged").values.sum,
      written(0), written(1), written(2), histogram)
    OpResult(op, kind, secs, failures.isEmpty, failures.mkString("; "))
  }

  def layers(tracer: Tracer): Map[String, Double] = {
    val mb = 1048576.0
    val feedBytes = stats.map(_.feedBytes).sum.toDouble
    val pending = stats.map(_.pending).sum.toDouble
    val requests = stats.map(_.requests).sum.toDouble
    val writes = stats.map(s => s.stagingBytes + s.prodBytes + s.cacheBytes).sum
    Map(
      "ingest.s" -> tracer.seconds("ingest"),
      "ingest.rows" -> stats.map(_.rows).sum.toDouble,
      "ingest.feed_mb" -> feedBytes / mb,
      "enrichment.s" -> tracer.seconds("enrich"),
      "enrichment.nvd_requests" -> requests,
      "enrichment.cache_hit_frac" -> (if (pending > 0) (pending - requests) / pending else 0.0),
      "enrichment.limiter_floor_s" -> stats.map(_.floorS).sum,
      "enrichment.cache_mb_written" -> stats.map(_.cacheBytes).sum / mb,
      "statemachine.s" -> tracer.seconds("statemachine"),
      "statemachine.rows_changed" -> stats.map(_.changed).sum.toDouble,
      "statemachine.prod_mb_written" -> stats.map(_.prodBytes).sum / mb,
      "io.staging_mb_written" -> stats.map(_.stagingBytes).sum / mb,
      "io.write_amp" -> (if (feedBytes > 0) writes / feedBytes else 0.0),
    )
  }

  /** The change_type histogram of the bootstrap and of each measured op. */
  def histograms: Seq[Map[String, Long]] = seenHistograms.toSeq

  override def record: Map[String, Any] = Map(
    "base_rows" -> baseRows,
    "ops" -> stats.map(s => Map("kind" -> s.kind, "rows" -> s.rows,
      "nvd_requests" -> s.requests, "limiter_floor_s" -> s.floorS,
      "change_type" -> s.histogram, "staging_bytes" -> s.stagingBytes,
      "prod_bytes" -> s.prodBytes, "cache_bytes" -> s.cacheBytes)))
}

object Advisory {
  /** Per-op observations the per-layer metrics are made from. */
  private final case class OpStats(kind: String, feedBytes: Long, rows: Long,
      pending: Long, requests: Long, floorS: Double, changed: Long,
      stagingBytes: Long, prodBytes: Long, cacheBytes: Long,
      histogram: Map[String, Long])

  val Epoch: Instant = Instant.parse("2026-01-01T00:00:00Z")
  val TtlHours: Double = 24.0 * 365
}
