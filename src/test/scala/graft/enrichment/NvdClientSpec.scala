package graft.enrichment

import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** `NvdClient.queryCve`'s retry and wait policy under injected faults
  * (scripted transport, recording sleep, no rate limit), the
  * `RateLimiter`'s spacing on the monotonic clock, and
  * `enrichFromNvd`'s driver-side fetch pool. */
class NvdClientSpec extends AnyFunSuite {

  private val found =
    """{"vulnerabilities": [{"cve": {"vulnStatus": "Analyzed",
      |  "configurations": [{"nodes": [{"cpeMatch":
      |    [{"versionEndExcluding": "1.2.3"}]}]}]}}]}""".stripMargin

  /** Answers each call with the next scripted step (the last repeats);
    * a `None` step throws like a failed connection. */
  private class Scripted(steps: Option[(Int, String)]*) extends HttpTransport {
    val urls = mutable.ArrayBuffer.empty[String]
    def get(url: String, headers: Map[String, String]): (Int, String) = {
      urls += url
      steps(math.min(urls.size, steps.size) - 1)
        .getOrElse(throw new java.io.IOException("connection reset"))
    }
  }

  private val cfg = NvdConfig(apiUrl = "http://nvd", maxRetries = 3,
    retryBackoffMs = 5000, forbiddenWaitMs = 30000)

  private def query(t: Scripted) = {
    val slept = mutable.ArrayBuffer.empty[Long]
    val r = NvdClient.queryCve("CVE-2024-1", t, cfg, new RateLimiter(0), slept += _)
    (r, slept.toSeq)
  }

  test("200 with a found CVE returns its status and fixed version") {
    val t = new Scripted(Some(200 -> found))
    assert(query(t) == ((true, Some("Analyzed"), Some("1.2.3")), Nil))
    assert(t.urls == Seq("http://nvd?cveId=CVE-2024-1"))
  }

  test("200 with empty vulnerabilities is not found") {
    val t = new Scripted(Some(200 -> """{"vulnerabilities": []}"""))
    assert(query(t) == ((false, None, None), Nil))
    assert(t.urls.size == 1)
  }

  test("503 then 200 waits one retry backoff") {
    val t = new Scripted(Some(503 -> ""), Some(200 -> found))
    assert(query(t) == ((true, Some("Analyzed"), Some("1.2.3")), Seq(5000L)))
    assert(t.urls.size == 2)
  }

  test("403 then 200 waits the forbidden wait") {
    val t = new Scripted(Some(403 -> ""), Some(200 -> found))
    assert(query(t) == ((true, Some("Analyzed"), Some("1.2.3")), Seq(30000L)))
    assert(t.urls.size == 2)
  }

  test("a throwing transport then 200 waits one retry backoff") {
    val t = new Scripted(None, Some(200 -> found))
    assert(query(t) == ((true, Some("Analyzed"), Some("1.2.3")), Seq(5000L)))
    assert(t.urls.size == 2)
  }

  test("always 500 gives up after maxRetries attempts, not found") {
    val t = new Scripted(Some(500 -> ""))
    assert(query(t) == ((false, None, None), Seq(5000L, 5000L)))
    assert(t.urls.size == cfg.maxRetries)
  }

  test("always 403 waits between attempts only, not found") {
    val t = new Scripted(Some(403 -> ""))
    assert(query(t) == ((false, None, None), Seq(30000L, 30000L)))
    assert(t.urls.size == 3)
  }

  test("an always-throwing transport waits between attempts only, not found") {
    val t = new Scripted(None)
    assert(query(t) == ((false, None, None), Seq(5000L, 5000L)))
    assert(t.urls.size == 3)
  }

  test("rate limiter: the first acquire is immediate, later ones are spaced") {
    val limiter = new RateLimiter(20) // one permit per 50 ms
    val t0 = System.nanoTime()
    limiter.acquire()
    val first = System.nanoTime()
    assert(first - t0 < 40000000L, s"first acquire waited ${(first - t0) / 1e6} ms")
    val returns = first +: (1 to 4).map { _ => limiter.acquire(); System.nanoTime() }
    returns.sliding(2).foreach { case Seq(a, b) =>
      assert(b - a >= 50000000L, s"acquires ${(b - a) / 1e6} ms apart")
    }
  }

  test("enrichFromNvd: cfg.partitions threads share one limiter, rows in key order") {
    val inFlight = new AtomicInteger(0)
    val maxInFlight = new AtomicInteger(0)
    val slow = new HttpTransport {
      def get(url: String, headers: Map[String, String]): (Int, String) = {
        maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max)
        try { Thread.sleep(1000); (200, found) }
        finally inFlight.decrementAndGet()
      }
    }
    val pool = cfg.copy(apiKey = Some("key"), partitions = 3) // one permit per 0.667 s
    val keys = Seq("CVE-2024-1" -> "a", "CVE-2024-2" -> "b", "CVE-2024-3" -> "c")
    val t0 = System.nanoTime()
    val rows = NvdClient.enrichFromNvd(keys, slow, pool, () => "now")
    val took = System.nanoTime() - t0
    assert(rows.map(r => (r.getString(0), r.getString(1))) == keys)
    assert(rows.forall(r => r.getBoolean(2) && r.getString(3) == "1.2.3" &&
      r.getString(4) == "Analyzed" && r.getString(5) == "now"))
    val intervalNs = (1e9 / pool.rateLimitPerSec).toLong
    assert(took >= 2 * intervalNs, s"fetch took ${took / 1e6} ms")
    assert(maxInFlight.get >= 2 && maxInFlight.get <= 3, s"${maxInFlight.get} calls in flight")
  }

  test("enrichFromNvd needs at least one fetch thread") {
    intercept[IllegalArgumentException] {
      NvdClient.enrichFromNvd(Seq("CVE-2024-1" -> "a"), new Scripted(Some(200 -> found)),
        cfg.copy(partitions = 0))
    }
  }
}
