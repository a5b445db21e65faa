package graft.enrichment

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row

import java.time.format.DateTimeFormatter
import java.time.{ZoneOffset, ZonedDateTime}
import java.util.concurrent.Executors
import scala.jdk.CollectionConverters._

/** Transport abstraction so enrichment is testable offline and the rate
  * limiter / retry policy is independent of the HTTP stack. */
trait HttpTransport {
  /** Returns (statusCode, body). Throws on transport-level failure. */
  def get(url: String, headers: Map[String, String]): (Int, String)
}

/** java.net.http-based transport (the JDK's built-in client). */
final class JdkHttpTransport(timeoutSeconds: Long = 60) extends HttpTransport {
  private lazy val client = java.net.http.HttpClient.newBuilder()
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
    /** Number of fetch threads (the reference's 3 workers). */
    partitions: Int = 3,
) {
  require(partitions >= 1, s"NVD fetch needs at least one thread, got partitions = $partitions")

  /** 1.5 req/s with a key, 0.15 without — NVD's published limits. */
  def rateLimitPerSec: Double = if (apiKey.isDefined) 1.5 else 0.15
}

/** NVD REST API enrichment source (reference:
  * src/advisory_pipeline/enrichment/apis/nvd/nvd_client.py:51-284). As
  * in the reference, the pending keys are fetched on the driver by a
  * small fixed pool of threads (`cfg.partitions`, the reference's 3
  * workers) that share one rate limiter: NVD limits requests per API
  * key, so spreading the fetch over more machines adds no throughput.
  * The bound on one run is the API rate, not the table size: at 1.5
  * req/s a run fetches about 130k keys a day, and holding that many
  * keys on the driver is cheap.
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

  /** Fetches `keys` (cve_id, package) on `cfg.partitions` threads that
    * share one rate limiter, so every request is spaced at
    * `cfg.rateLimitPerSec`. Returns rows in the rawNvd schema, in key
    * order. */
  def enrichFromNvd(
      keys: Seq[(String, String)],
      transport: HttpTransport,
      cfg: NvdConfig,
      nowIso: () => String = defaultNowIso,
  ): Seq[Row] = {
    val limiter = new RateLimiter(cfg.rateLimitPerSec)
    val pool = Executors.newFixedThreadPool(cfg.partitions)
    try {
      val fetches = keys.map { case (cveId, pkg) =>
        pool.submit[Row] { () =>
          val (found, status, fixed) = queryCve(cveId, transport, cfg, limiter)
          Row(cveId, pkg, found, fixed.orNull, status.orNull, nowIso())
        }
      }
      fetches.map(_.get())
    } finally pool.shutdownNow()
  }

  private def defaultNowIso: () => String = () =>
    ZonedDateTime.now(ZoneOffset.UTC)
      .format(DateTimeFormatter.ISO_OFFSET_DATE_TIME)
}

/** Minimal blocking token-per-interval limiter (the reference used a
  * `threading.Lock` + last-request timestamp; same shape). Spacing is
  * measured on the monotonic `System.nanoTime`, so a wall-clock step
  * (an NTP correction) neither stalls a fetch nor skips the spacing. */
final class RateLimiter(permitsPerSec: Double) {
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
