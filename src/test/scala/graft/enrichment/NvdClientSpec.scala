package graft.enrichment

import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** `NvdClient.queryCve`'s retry and wait policy under injected faults
  * (scripted transport, recording sleep, no rate limit), the
  * `RateLimiter`'s rolling window on an injected clock, and
  * `enrichFromNvd`'s driver-side fetch pool and its shared limiter. */
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
    assert(query(t) == ((Some((true, Some("Analyzed"), Some("1.2.3"))), Nil)))
    assert(t.urls == Seq("http://nvd?cveId=CVE-2024-1"))
  }

  test("200 with empty vulnerabilities is not found") {
    val t = new Scripted(Some(200 -> """{"vulnerabilities": []}"""))
    assert(query(t) == ((Some((false, None, None)), Nil)))
    assert(t.urls.size == 1)
  }

  test("503 then 200 waits one retry backoff") {
    val t = new Scripted(Some(503 -> ""), Some(200 -> found))
    assert(query(t) == ((Some((true, Some("Analyzed"), Some("1.2.3"))), Seq(5000L))))
    assert(t.urls.size == 2)
  }

  test("403 then 200 waits the forbidden wait") {
    val t = new Scripted(Some(403 -> ""), Some(200 -> found))
    assert(query(t) == ((Some((true, Some("Analyzed"), Some("1.2.3"))), Seq(30000L))))
    assert(t.urls.size == 2)
  }

  test("a throwing transport then 200 waits one retry backoff") {
    val t = new Scripted(None, Some(200 -> found))
    assert(query(t) == ((Some((true, Some("Analyzed"), Some("1.2.3"))), Seq(5000L))))
    assert(t.urls.size == 2)
  }

  test("always 500 gives up after maxRetries attempts, not found") {
    val t = new Scripted(Some(500 -> ""))
    assert(query(t) == ((None, Seq(5000L, 5000L)))) // no answer: the row reads not found
    assert(t.urls.size == cfg.maxRetries)
  }

  test("always 403 waits between attempts only, not found") {
    val t = new Scripted(Some(403 -> ""))
    assert(query(t) == ((None, Seq(30000L, 30000L)))) // no answer: the row reads not found
    assert(t.urls.size == 3)
  }

  test("an always-throwing transport waits between attempts only, not found") {
    val t = new Scripted(None)
    assert(query(t) == ((None, Seq(5000L, 5000L)))) // no answer: the row reads not found
    assert(t.urls.size == 3)
  }

  /** A limiter on a fake clock (ns) whose sleep advances the clock;
    * records every sleep (ms). */
  private class FakeClock(start: Long = 5000000000L) {
    var now: Long = start
    val slept = mutable.ArrayBuffer.empty[Long]
    def limiter(rate: Double) =
      new RateLimiter(rate, () => now, ms => { slept += ms; now += ms * 1000000L })
  }

  private val sec = 1000000000L

  test("rate limiter: the first capacity acquires return without sleeping") {
    val c = new FakeClock
    val l = c.limiter(1.5)
    assert(l.capacity == 45)
    assert(c.limiter(0.15).capacity == 5)
    (1 to 45).foreach(_ => l.acquire())
    assert(c.slept.isEmpty && c.now == 5 * sec)
  }

  test("rate limiter: a full window waits for its oldest permit to leave") {
    val c = new FakeClock
    val l = c.limiter(0.15) // 5 permits per 30 s
    val t0 = c.now
    l.acquire()
    c.now += 10 * sec
    (1 to 4).foreach(_ => l.acquire())
    assert(c.slept.isEmpty)
    l.acquire() // the t0 permit leaves the window at t0 + 30 s
    assert(c.now == t0 + 30 * sec && c.slept.sum == 20000L)
    l.acquire() // the next oldest was taken at t0 + 10 s
    assert(c.now == t0 + 40 * sec && c.slept.sum == 30000L)
  }

  test("rate limiter: no 30 s window holds more than ceil(30 x rate) permits") {
    for ((rate, cap) <- Seq(1.5 -> 45, 0.15 -> 5)) {
      val c = new FakeClock
      val l = c.limiter(rate)
      val rnd = new scala.util.Random(15)
      val returns = (1 to 2000).map { _ =>
        // bursts and lulls: mostly back to back, sometimes a long gap
        c.now += (if (rnd.nextInt(10) == 0) rnd.nextLong(60 * sec) else rnd.nextLong(sec / 4))
        val arrived = c.now
        l.acquire()
        (arrived, c.now)
      }
      val at = returns.map(_._2)
      // any cap + 1 consecutive permits span at least the window, so a
      // half-open 30 s window holds at most cap of them
      at.indices.drop(cap).foreach { i =>
        assert(at(i) - at(i - cap) >= RateLimiter.WindowNs, s"rate $rate, permit $i")
      }
      // and the limiter waits no longer than that bound needs (sleeps
      // round up to the millisecond)
      returns.indices.foreach { i =>
        val due = if (i < cap) returns(i)._1 else math.max(returns(i)._1, at(i - cap) + RateLimiter.WindowNs)
        assert(at(i) >= due && at(i) - due < 1000000L, s"rate $rate, permit $i")
      }
      assert(c.slept.nonEmpty, s"rate $rate never filled its window")
    }
  }

  test("rate limiter: a rate <= 0 never sleeps") {
    for (rate <- Seq(0.0, -1.0)) {
      val c = new FakeClock
      val l = c.limiter(rate)
      (1 to 1000).foreach(_ => l.acquire())
      assert(c.slept.isEmpty && c.now == 5 * sec)
    }
  }

  test("enrichFromNvd: cfg.partitions threads share one limiter, rows in key order") {
    val inFlight = new AtomicInteger(0)
    val maxInFlight = new AtomicInteger(0)
    val slow = new HttpTransport {
      def get(url: String, headers: Map[String, String]): (Int, String) = {
        maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max)
        try { Thread.sleep(500); (200, found) }
        finally inFlight.decrementAndGet()
      }
    }
    val pool = cfg.copy(apiKey = Some("key"), partitions = 3) // 45 permits per 30 s
    val keys = Seq("CVE-2024-1" -> "a", "CVE-2024-2" -> "b", "CVE-2024-3" -> "c")
    val t0 = System.nanoTime()
    val fetched = NvdClient.enrichFromNvd(keys, slow, pool, () => "now")
    val took = System.nanoTime() - t0
    val rows = fetched.map(_._1)
    assert(fetched.forall(_._2))
    assert(rows.map(r => (r.getString(0), r.getString(1))) == keys)
    assert(rows.forall(r => r.getBoolean(2) && r.getString(3) == "1.2.3" &&
      r.getString(4) == "Analyzed" && r.getString(5) == "now"))
    // all three calls in flight at once: under two of the 0.667 s
    // intervals the reference's spacing put between requests
    val oldIntervalNs = (1e9 / pool.rateLimitPerSec).toLong
    assert(took < 2 * oldIntervalNs, s"fetch took ${took / 1e6} ms")
    assert(maxInFlight.get == 3, s"${maxInFlight.get} calls in flight")
  }

  test("enrichFromNvd needs at least one fetch thread") {
    intercept[IllegalArgumentException] {
      NvdClient.enrichFromNvd(Seq("CVE-2024-1" -> "a"), new Scripted(Some(200 -> found)),
        cfg.copy(partitions = 0))
    }
  }
}
