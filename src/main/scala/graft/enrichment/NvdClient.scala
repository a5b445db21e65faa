package graft.enrichment

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.io.TableIO
import graft.schemas.AdvisorySchemas
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.time.format.DateTimeFormatter
import java.time.{ZoneOffset, ZonedDateTime}
import scala.jdk.CollectionConverters._

/** Transport abstraction so enrichment is testable offline and the rate
  * limiter / retry policy is independent of the HTTP stack. */
trait HttpTransport extends Serializable {
  /** Returns (statusCode, body). Throws on transport-level failure. */
  def get(url: String, headers: Map[String, String]): (Int, String)
}

/** java.net.http-based transport (the JDK's built-in client). */
final class JdkHttpTransport(timeoutSeconds: Long = 60) extends HttpTransport {
  @transient private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(timeoutSeconds)).build()
  def get(url: String, headers: Map[String, String]): (Int, String) = {
    var b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofSeconds(timeoutSeconds)).GET()
    headers.foreach { case (k, v) => b = b.header(k, v) }
    val resp = client.send(b.build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }
}

/** NVD REST enrichment config (reference:
  * src/advisory_pipeline/enrichment/apis/nvd/config.py:17-29). */
final case class NvdConfig(
    apiUrl: String = "https://services.nvd.nist.gov/rest/json/cves/2.0",
    apiKey: Option[String] = None,
    maxRetries: Int = 3,
    retryBackoffMs: Long = 5000,
    forbiddenWaitMs: Long = 30000,
    partitions: Int = 3,
) {
  /** 1.5 req/s with a key, 0.15 without — NVD's published limits. */
  def rateLimitPerSec: Double = if (apiKey.isDefined) 1.5 else 0.15
}

/** NVD REST API enrichment source (reference:
  * src/advisory_pipeline/enrichment/apis/nvd/nvd_client.py:51-284),
  * re-architected for Spark's execution model: instead of `collect()`ing
  * every key to the driver and fanning out a thread pool there (which
  * caps at one machine's sockets and memory), the key Dataset is spread
  * over `cfg.partitions` fetch partitions by `TableIO.withPartitions`
  * (1: coalesced, no exchange; n > 1: repartitioned; 0: as planned) and
  * each EXECUTOR partition runs its own rate-limited fetch loop via
  * `mapPartitions`. The global rate is partitions x perPartitionRate,
  * so the per-partition limiter is derated by the fetch's partition
  * count. At 100 TB / millions of keys this is the only shape that
  * scales; on local[n] it behaves like the reference's 3-worker pool.
  */
object NvdClient {

  private val mapper = new ObjectMapper()

  /** Fixed-version extraction from the nested
    * configurations->nodes->cpeMatch structure (nvd_client.py:182-206):
    * first `versionEndExcluding` wins; `versionEndIncluding` is
    * reported as `">v"`. */
  def extractFixedVersion(cveData: JsonNode): Option[String] = {
    val configs = cveData.path("configurations")
    if (!configs.isArray) return None
    configs.asScala.foreach { config =>
      config.path("nodes").asScala.foreach { node =>
        node.path("cpeMatch").asScala.foreach { cpe =>
          val excl = cpe.path("versionEndExcluding").asText("")
          if (excl.nonEmpty) return Some(excl)
          val incl = cpe.path("versionEndIncluding").asText("")
          if (incl.nonEmpty) return Some(s">$incl")
        }
      }
    }
    None
  }

  /** Parse one NVD API response body into (found, status, fixedVersion). */
  def parseResponse(body: String): (Boolean, Option[String], Option[String]) = {
    val root = mapper.readTree(body)
    val vulns = root.path("vulnerabilities")
    if (!vulns.isArray || vulns.size() == 0) (false, None, None)
    else {
      val cve = vulns.get(0).path("cve")
      val status = Option(cve.path("vulnStatus").asText(null)).filter(_.nonEmpty)
      (true, status, extractFixedVersion(cve))
    }
  }

  /** One rate-limited, retried CVE query (nvd_client.py:102-154). */
  def queryCve(
      cveId: String,
      transport: HttpTransport,
      cfg: NvdConfig,
      limiter: RateLimiter,
      sleep: Long => Unit = Thread.sleep,
  ): (Boolean, Option[String], Option[String]) = {
    val url = s"${cfg.apiUrl}?cveId=$cveId"
    val headers = cfg.apiKey.map(k => Map("apiKey" -> k)).getOrElse(Map.empty)
    var attempt = 0
    while (attempt < cfg.maxRetries) {
      limiter.acquire()
      val waitMs =
        try {
          val (code, body) = transport.get(url, headers)
          if (code == 200) return parseResponse(body)
          else if (code == 403) cfg.forbiddenWaitMs
          else cfg.retryBackoffMs
        } catch {
          case _: Exception => cfg.retryBackoffMs
        }
      attempt += 1
      // wait only when another attempt follows
      if (attempt < cfg.maxRetries) sleep(waitMs)
    }
    (false, None, None)
  }

  /** Distributed enrichment: one fetch loop per partition, each with a
    * derated rate limiter so the cluster-wide request rate stays at
    * `cfg.rateLimitPerSec`. Returns rows in the rawNvd schema. */
  def enrichFromNvd(
      spark: SparkSession,
      cvesDf: DataFrame,
      transport: HttpTransport,
      cfg: NvdConfig,
      nowIso: () => String = defaultNowIso,
  ): DataFrame = {
    val keys = TableIO.withPartitions(cvesDf.select("cve_id", "package"), cfg.partitions).rdd
    val perPartitionRate = cfg.rateLimitPerSec / math.max(keys.getNumPartitions, 1)
    val enriched = keys.mapPartitions { it =>
      val limiter = new RateLimiter(perPartitionRate)
      it.map { row =>
        val cveId = row.getString(0)
        val pkg = row.getString(1)
        val (found, status, fixed) =
          queryCve(cveId, transport, cfg, limiter)
        Row(cveId, pkg, found, fixed.orNull, status.orNull, nowIso())
      }
    }
    spark.createDataFrame(enriched, AdvisorySchemas.rawNvd)
  }

  private def defaultNowIso: () => String = () =>
    ZonedDateTime.now(ZoneOffset.UTC)
      .format(DateTimeFormatter.ISO_OFFSET_DATE_TIME)
}

/** Minimal blocking token-per-interval limiter (the reference used a
  * `threading.Lock` + last-request timestamp; same shape). Spacing is
  * measured on the monotonic `System.nanoTime`, so a wall-clock step
  * (an NTP correction) neither stalls a fetch nor skips the spacing. */
final class RateLimiter(permitsPerSec: Double) extends Serializable {
  private val intervalNs: Long =
    if (permitsPerSec <= 0) 0 else (1e9 / permitsPerSec).toLong
  private var lastAt: Option[Long] = None
  def acquire(): Unit = synchronized {
    lastAt.foreach { last =>
      var waitNs = last + intervalNs - System.nanoTime()
      while (waitNs > 0) {
        Thread.sleep((waitNs + 999999) / 1000000)
        waitNs = last + intervalNs - System.nanoTime()
      }
    }
    lastAt = Some(System.nanoTime())
  }
}
