package perfbench

import graft.enrichment.HttpTransport

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Seeded generator of the advisory pipeline's inputs: the master list
  * served as the Echo JSON feed, the manual overrides, and the NVD
  * response for every CVE. The same seed gives byte-identical feeds and
  * bodies.
  *
  * Base list (step 0), by a seeded permutation of the rows, in the
  * proportions of the reference's committed run (BASELINE.md: a 40,431-row
  * master list, 2,118 enrichment-cache entries, 1,963 override rows):
  *   - 2,118 / 40,431 (5.2%) pending (no fixed version), not overridden:
  *     the keys enrichment considers. The set-up caches all but
  *     [[AdvisoryData.BootstrapRequests]] of these, so the bootstrap run
  *     asks NVD about those few and later runs ask nothing about any of
  *     them inside the cache TTL;
  *   - 1,963 / 40,431 (4.9%) overridden. The reference does not record how
  *     many of its overrides are pending, so overrides are taken to be
  *     independent of fix status: 5.2% of them are pending, the rest fixed;
  *   - the rest fixed.
  * Each nightly step `j` appends [[NewPerStep]] rows: 4 pending and not
  * overridden (exactly the NVD requests of that run), 1 pending and
  * overridden, 5 fixed. It also bumps the fixed version of about 1% of
  * the fixed rows (`fixed_version` churn; NVD is not asked about those).
  */
final class AdvisoryData(val seed: Long, val baseRows: Int) {
  import AdvisoryData._

  private val packages = math.max(1, baseRows / RowsPerPackage)

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b + seed * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def pos(a: Long, b: Long, n: Int): Int =
    java.lang.Math.floorMod(mix(a, b), n.toLong).toInt

  /** Rank of each base row in a seeded permutation: decides its class. */
  private val rank: Array[Int] = {
    val idx = Array.tabulate(baseRows)(identity)
    val r = new java.util.SplittableRandom(seed)
    var i = baseRows - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
      i -= 1
    }
    val out = new Array[Int](baseRows)
    idx.zipWithIndex.foreach { case (row, k) => out(row) = k }
    out
  }

  private val pendingRows = (baseRows.toLong * RefCacheEntries / RefRows).toInt
  private val overrideRows = (baseRows.toLong * RefOverrides / RefRows).toInt
  private val pendingOverriddenRows = (overrideRows.toLong * pendingRows / baseRows).toInt

  private def baseClass(i: Int): Int = {
    val k = rank(i)
    if (k < pendingRows) PendingCached
    else if (k < pendingRows + pendingOverriddenRows) PendingOverridden
    else if (k < pendingRows + overrideRows) FixedOverridden else Fixed
  }

  private def newClass(k: Int): Int =
    if (k < 4) PendingCached else if (k == 4) PendingOverridden else Fixed

  /** Class of row `i` (base rows first, then the rows of each step). */
  def rowClass(i: Int): Int =
    if (i < baseRows) baseClass(i) else newClass((i - baseRows) % NewPerStep)

  def rows(step: Int): Int = baseRows + step * NewPerStep

  def packageOf(i: Int): Int =
    if (i < baseRows) i % packages else pos(i, 1, packages)

  def packageName(p: Int): String = f"pkg-${mix(p, 2) & 0xffffff}%06x-$p%d"

  def cveId(i: Int): String = f"CVE-${2005 + pos(i, 3, 20)}%d-${100000 + i}%d"

  private def baseVersion(i: Int): String = {
    val h = mix(i, 4)
    s"${(h & 0xf) + 1}.${(h >>> 4) & 0x1f}.${(h >>> 9) & 0x3f}"
  }

  /** The step at which row `i`'s fixed version was last bumped, or 0. */
  private def churnStep(i: Int, step: Int): Int = {
    val r = pos(i, 5, ChurnPeriod)
    if (r >= 1 && r <= step) r else 0
  }

  def fixedVersion(i: Int, step: Int): Option[String] = rowClass(i) match {
    case Fixed | FixedOverridden =>
      val c = churnStep(i, step)
      Some(if (c == 0) baseVersion(i) else s"${baseVersion(i)}.post$c")
    case _ => None
  }

  def overridden(i: Int): Boolean = {
    val c = rowClass(i)
    c == PendingOverridden || c == FixedOverridden
  }

  /** Pending, not overridden: the keys enrichment considers. */
  def pendingKeys(step: Int): Int =
    (0 until rows(step)).count(rowClass(_) == PendingCached)

  /** Keys the set-up writes into the enrichment cache: the pending base
    * rows that are not overridden, except [[BootstrapRequests]] of them,
    * which the bootstrap run then asks NVD about. */
  def cachedKeys: Seq[(String, String)] =
    (0 until baseRows).filter(rowClass(_) == PendingCached).sortBy(rank(_))
      .drop(BootstrapRequests).map(i => (cveId(i), packageName(packageOf(i))))

  /** New pending, non-overridden keys a nightly step adds: the NVD
    * requests it must make. */
  def newPendingKeys: Int = (0 until NewPerStep).count(newClass(_) == PendingCached)

  /** Override rows in force at `step`: (cve_id, package). */
  def overrides(step: Int): Seq[(String, String)] =
    (0 until rows(step)).filter(overridden)
      .map(i => (cveId(i), packageName(packageOf(i))))

  /** The Echo feed at `step`: `{package: {cve: {"fixed_version": v}}}`,
    * packages in index order, rows in index order within a package. */
  def feed(step: Int): Array[Byte] = {
    val byPackage = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Int]]
    (0 until packages).foreach(byPackage(_) = mutable.ArrayBuffer.empty[Int])
    (0 until rows(step)).foreach(i => byPackage(packageOf(i)) += i)
    val sb = new java.lang.StringBuilder(rows(step) * 48)
    sb.append('{')
    var firstPkg = true
    byPackage.foreach { case (p, members) =>
      if (!firstPkg) sb.append(',')
      firstPkg = false
      sb.append('"').append(packageName(p)).append("\":{")
      var first = true
      members.foreach { i =>
        if (!first) sb.append(',')
        first = false
        sb.append('"').append(cveId(i)).append("\":")
        fixedVersion(i, step) match {
          case Some(v) => sb.append("{\"fixed_version\":\"").append(v).append("\"}")
          case None => sb.append("{}")
        }
      }
      sb.append('}')
    }
    sb.append('}')
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }

  /** NVD 2.0 response body for one CVE: a seeded status and, for half of
    * the CVEs, a fixed version in the CPE match. */
  def nvdBody(cve: String): String = {
    val h = mix(cve.hashCode.toLong, 6)
    val status = NvdStatuses(java.lang.Math.floorMod(h, NvdStatuses.size.toLong).toInt)
    val configs =
      if (((h >>> 8) & 1) == 0) ""
      else s""","configurations":[{"nodes":[{"cpeMatch":[{"versionEndExcluding":"${(h >>> 9) & 0xf}.${(h >>> 13) & 0xf}"}]}]}]"""
    s"""{"resultsPerPage":1,"vulnerabilities":[{"cve":{"id":"$cve","vulnStatus":"$status"$configs}}]}"""
  }
}

object AdvisoryData {
  val PendingCached = 0
  val PendingOverridden = 1
  val FixedOverridden = 2
  val Fixed = 3
  /** The reference's committed run (BASELINE.md): master-list rows,
    * enrichment-cache entries, override rows. */
  val RefRows = 40431
  val RefCacheEntries = 2118
  val RefOverrides = 1963
  val NewPerStep = 10
  val BootstrapRequests = 1
  val RowsPerPackage = 8
  val ChurnPeriod = 100
  val NvdStatuses = Vector("Analyzed", "Awaiting Analysis", "Modified",
    "Undergoing Analysis", "Rejected")
}

/** The stub server behind [[StubTransport]]: one per benchmark run. Tasks
  * run in the driver JVM (`local[n]`), so executors reach it through the
  * registry below and the serialized transport carries only its id. */
final class StubServer(val data: AdvisoryData) {
  @volatile var feed: Array[Byte] = Array.emptyByteArray
  val nvdRequests = new AtomicLong
  /** NVD requests per task partition since the last [[takeLog]]. */
  private val perPartition = new ConcurrentHashMap[Int, AtomicLong]()

  def handle(url: String, headers: Map[String, String]): (Int, String) =
    if (url.startsWith(StubServer.FeedUrl)) (200, new String(feed, StandardCharsets.UTF_8))
    else if (url.startsWith(StubServer.NvdUrl)) {
      if (!headers.contains("apiKey")) (403, "")
      else {
        nvdRequests.incrementAndGet()
        val part = Option(org.apache.spark.TaskContext.get()).fold(-1)(_.partitionId())
        perPartition.computeIfAbsent(part, _ => new AtomicLong).incrementAndGet()
        val cve = url.substring(url.indexOf("cveId=") + 6)
        (200, data.nvdBody(cve))
      }
    } else (404, "")

  /** Requests per partition since the previous call. */
  def takeLog(): Map[Int, Long] = {
    val out = mutable.Map.empty[Int, Long]
    perPartition.forEach((k, v) => out(k) = v.getAndSet(0L))
    out.filter(_._2 > 0).toMap
  }
}

object StubServer {
  val FeedUrl = "http://echo.stub/advisories"
  val NvdUrl = "http://nvd.stub/rest/json/cves/2.0"
  private val servers = new ConcurrentHashMap[String, StubServer]()
  def register(id: String, s: StubServer): Unit = servers.put(id, s)
  def apply(id: String): StubServer = servers.get(id)
}

/** Serializable transport that reaches the run's [[StubServer]]. */
final class StubTransport(id: String) extends HttpTransport {
  def get(url: String, headers: Map[String, String]): (Int, String) =
    StubServer(id).handle(url, headers)
}
