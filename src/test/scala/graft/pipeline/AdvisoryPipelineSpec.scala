package graft.pipeline

import graft.SparkSpec
import graft.enrichment.{HttpTransport, NvdConfig}
import graft.schemas.AdvisorySchemas
import org.apache.spark.sql.Row

import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

object AdvisoryPipelineSpec {
  val advisoryJson: String =
    """{
      |  "glibc": {"CVE-2024-1": {"fixed_version": "2.39"},
      |            "CVE-2024-2": {},
      |            "notacve": {"fixed_version": "9"}},
      |  "openssl": {"CVE-2024-3": {"fixed_version": ""},
      |              "CVE-2024-4": null},
      |  "badpkg": "notadict"
      |}""".stripMargin

  def nvdResponse(status: String, fixedExcl: Option[String]): String = {
    val cpe = fixedExcl.map(v => s"""{"versionEndExcluding": "$v"}""").getOrElse("{}")
    s"""{"vulnerabilities": [{"cve": {"vulnStatus": "$status",
       |  "configurations": [{"nodes": [{"cpeMatch": [$cpe]}]}]}}]}""".stripMargin
  }

  /** Top-level stub; the NVD fetch calls it from the driver's fetch
    * pool. Calls are counted in a static so the test can assert on them,
    * together with the calls that ran inside a Spark task. */
  val nvdCalls = new AtomicInteger(0)
  val nvdCallsInTask = new AtomicInteger(0)
  class StubTransport extends HttpTransport {
    def get(url: String, headers: Map[String, String]): (Int, String) =
      if (url.contains("data.json")) (200, advisoryJson)
      else {
        nvdCalls.incrementAndGet()
        if (org.apache.spark.TaskContext.get() != null) nvdCallsInTask.incrementAndGet()
        if (url.contains("CVE-2024-3"))
          (200, nvdResponse("Analyzed", Some("3.0.14")))
        else (200, nvdResponse("Awaiting Analysis", None))
      }
  }
}

/** Walks executed plans through adaptive query stages and subqueries. */
object PlanWalk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Records every executed plan, tagged with the pipeline stage it ran in. */
class PlanLog extends org.apache.spark.sql.util.QueryExecutionListener {
  private val log = new java.util.concurrent.ConcurrentLinkedQueue[
    (String, String, org.apache.spark.sql.execution.SparkPlan)]()
  @volatile private var stage = ""

  def during[T](name: String)(body: => T): T = {
    stage = name
    try body
    finally org.apache.spark.graftspark.ListenerDrain.drain(
      org.apache.spark.sql.SparkSession.active.sparkContext)
  }

  def all: Seq[(String, String, org.apache.spark.sql.execution.SparkPlan)] =
    log.asScala.toSeq

  def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
    log.add((stage, funcName, qe.executedPlan))
  def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
}

/** End-to-end golden test of the three-stage pipeline with a stubbed
  * transport (no network) — the behavioral coverage the reference's own
  * test suite lacks (it never executes a query; SURVEY §5). */
class AdvisoryPipelineSpec extends SparkSpec {
  import AdvisoryPipelineSpec._

  lazy val base: String = Files.createTempDirectory("advisory-e2e").toString

  // with an API key the shared limiter admits 45 requests per rolling
  // 30 s (5 without one); the stub ignores headers
  private val nvd = NvdConfig(apiKey = Some("stub"), partitions = 2)

  def overridesDf = {
    val rows = new java.util.ArrayList[Row]()
    rows.add(Row("cve-2024-2", "GLIBC", "not_applicable", null, "code_not_in_use"))
    spark.createDataFrame(rows, AdvisorySchemas.notApplicableCves)
  }

  test("run 1: bootstrap — all rows new, enrichment applied, cache written") {
    val transport = new StubTransport
    nvdCalls.set(0)
    val config = PipelineConfig.fromDefaults("run1", base)
    val prod = Pipelines.run(spark, config, transport, nvd,
      "http://stub", overridesDf, now = Instant.parse("2026-02-01T00:00:00Z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap

    assert(prod.size == 4) // badpkg + notacve skipped
    val fixed1 = prod(("CVE-2024-1", "glibc"))
    assert(fixed1.getAs[String]("status") == "pending_upstream") // echo fix does not drive state
    assert(fixed1.getAs[String]("fixed_version") == "2.39") // but version cascades from echo
    assert(fixed1.getAs[String]("change_type") == "new")
    assert(fixed1.getAs[String]("data_source") == "echo_advisory")

    val enriched3 = prod(("CVE-2024-3", "openssl"))
    assert(enriched3.getAs[String]("status") == "fixed") // NVD found a fix
    assert(enriched3.getAs[String]("fixed_version") == "3.0.14")
    assert(enriched3.getAs[String]("data_source") == "enrichment")
    assert(enriched3.getAs[String]("internal_status")
      .startsWith("Fix version identified: 3.0.14"))

    val awaiting4 = prod(("CVE-2024-4", "openssl"))
    assert(awaiting4.getAs[String]("status") == "pending_upstream")

    assert(nvdCalls.get() == 2) // only the pending, non-overridden pair
    // cache partition written
    val cache = spark.read.parquet(s"$base/output/enrichment_cache")
    assert(cache.where("source_name = 'nvd'").count() == 2)
  }

  test("run 2 within TTL: cache short-circuits the API, rows unchanged") {
    val transport = new StubTransport
    nvdCalls.set(0)
    val config = PipelineConfig.fromDefaults("run2", base)
    val prod = Pipelines.run(spark, config, transport, nvd,
      "http://stub", overridesDf, now = Instant.parse("2026-02-01T00:01:00Z"))
      .collect()

    assert(nvdCalls.get() == 0) // TTL cache absorbed everything
    assert(prod.length == 4)
    assert(prod.forall(_.getAs[String]("change_type") == "unchanged"))
    // terminal/previous states preserved
    val m = prod.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(m(("CVE-2024-3", "openssl")).getAs[String]("status") == "fixed")
    assert(m(("CVE-2024-3", "openssl")).getAs[String]("previous_status") == "fixed")
  }

  test("an all-empty bootstrap run (zero advisories) writes an empty prod " +
      "that reads back with its columns") {
    val b = Files.createTempDirectory("advisory-e2e-empty").toString
    class EmptyTransport extends HttpTransport {
      def get(url: String, headers: Map[String, String]): (Int, String) =
        (200, "{}")
    }
    val cfg = PipelineConfig.fromDefaults("e1", b)
    val prod = Pipelines.run(spark, cfg, new EmptyTransport,
      nvd, "http://stub", overridesDf,
      now = Instant.parse("2026-02-01T00:00:00Z"))
    assert(prod.count() == 0L)
    assert(prod.columns.contains("cve_id"))
  }

  test("the enrichment cache partition is rewritten as one file by a run " +
      "that fetches") {
    def cacheFiles(dir: String) =
      new java.io.File(s"$dir/output/enrichment_cache/source_name=nvd")
        .listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    def cacheRows(dir: String) =
      spark.read.parquet(s"$dir/output/enrichment_cache").collect()
        .map(r => (r.getAs[String]("cve_id"), r.getAs[String]("package_name"),
          r.getAs[String]("source_name"),
          r.getAs[java.sql.Timestamp]("last_accessed").toInstant))
        .toSet
    val b = Files.createTempDirectory("advisory-e2e-cache").toString
    def runAt(runId: String, at: String) =
      Pipelines.run(spark, PipelineConfig.fromDefaults(runId, b), new StubTransport,
        nvd, "http://stub", overridesDf, now = Instant.parse(at))
    runAt("c1", "2026-02-01T00:00:00Z")
    // an hour later the TTL has lapsed: both pending keys are fetched and
    // the nvd partition is merged and rewritten
    nvdCalls.set(0)
    runAt("c2", "2026-02-01T01:00:00Z")
    assert(nvdCalls.get() == 2)
    val files = cacheFiles(b)
    assert(files.length == 1, s"cache partition files: ${files.mkString(", ")}")
    val rows = cacheRows(b)
    val at = Instant.parse("2026-02-01T01:00:00Z")
    assert(rows == Set(("CVE-2024-3", "openssl", "nvd", at),
      ("CVE-2024-4", "openssl", "nvd", at)))

    // The persisted cache evicted while its partition is rewritten. The
    // first run caches CVE-2024-3 only (CVE-2024-4's attempts fail). A
    // minute later, inside the TTL, the second run fetches CVE-2024-4 and
    // carries CVE-2024-3 over from the old partition. With `evict`, that
    // run's first NVD call (on the driver, after the pending-key collect
    // and before writeCache) drops every cached block, so the merge
    // re-reads the old partition from parquet while the dynamic overwrite
    // replaces it.
    val (t0, t1) = (Instant.parse("2026-02-01T00:00:00Z"),
      Instant.parse("2026-02-01T00:01:00Z"))
    val evicted = new java.util.concurrent.atomic.AtomicBoolean(false)
    class Down extends StubTransport {
      override def get(url: String, headers: Map[String, String]): (Int, String) =
        if (url.endsWith("cveId=CVE-2024-4")) (500, "") else super.get(url, headers)
    }
    class Evicting extends StubTransport {
      override def get(url: String, headers: Map[String, String]): (Int, String) = {
        if (!url.contains("data.json") && evicted.compareAndSet(false, true))
          spark.catalog.clearCache()
        super.get(url, headers)
      }
    }
    val fast = nvd.copy(retryBackoffMs = 1)
    def twoRuns(second: StubTransport) = {
      val d = Files.createTempDirectory("advisory-e2e-cache-evict").toString
      Pipelines.run(spark, PipelineConfig.fromDefaults("e1", d), new Down, fast,
        "http://stub", overridesDf, now = t0)
      Pipelines.run(spark, PipelineConfig.fromDefaults("e2", d), second, fast,
        "http://stub", overridesDf, now = t1)
      d
    }
    val undisturbed = twoRuns(new StubTransport)
    val disturbed = twoRuns(new Evicting)
    assert(evicted.get())
    assert(cacheRows(undisturbed) == Set(("CVE-2024-3", "openssl", "nvd", t0),
      ("CVE-2024-4", "openssl", "nvd", t1)))
    assert(cacheFiles(disturbed).length == 1,
      s"cache partition files: ${cacheFiles(disturbed).mkString(", ")}")
    assert(cacheRows(disturbed) == cacheRows(undisturbed))
  }

  test("a key whose NVD attempts all fail is not cached, and the next run " +
      "asks for it again") {
    val b = Files.createTempDirectory("advisory-e2e-outage").toString
    val asked = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    class OutageTransport(down: Set[String]) extends HttpTransport {
      def get(url: String, headers: Map[String, String]): (Int, String) =
        if (url.contains("data.json")) (200, advisoryJson)
        else {
          val cve = url.split("cveId=").last
          asked.add(cve)
          if (down(cve)) (500, "")
          else (200, nvdResponse("Awaiting Analysis", None))
        }
    }
    val fast = nvd.copy(retryBackoffMs = 1)
    def runAt(runId: String, at: String, down: Set[String]) =
      Pipelines.run(spark, PipelineConfig.fromDefaults(runId, b),
        new OutageTransport(down), fast, "http://stub", overridesDf,
        now = Instant.parse(at))
    def cached() = spark.read.parquet(s"$b/output/enrichment_cache").collect()
      .map(r => r.getAs[String]("cve_id")).toSet

    runAt("o1", "2026-02-01T00:00:00Z", down = Set("CVE-2024-4"))
    assert(asked.asScala.toSeq.sorted ==
      Seq("CVE-2024-3", "CVE-2024-4", "CVE-2024-4", "CVE-2024-4"))
    assert(cached() == Set("CVE-2024-3"))
    // the failed key's raw row keeps the reference's not-found values
    val raw = spark.read.parquet(s"$b/output/staging/run_id=o1/enrichment/raw/nvd")
      .collect().map(r => r.getAs[String]("cve_id") -> r.getAs[Boolean]("nvd_found")).toMap
    assert(raw == Map("CVE-2024-3" -> true, "CVE-2024-4" -> false))

    // a minute later, inside the TTL: only the failed key is asked again
    asked.clear()
    runAt("o2", "2026-02-01T00:01:00Z", down = Set.empty)
    assert(asked.asScala.toSeq == Seq("CVE-2024-4"))
    assert(cached() == Set("CVE-2024-3", "CVE-2024-4"))
  }

  test("re-driving a run_id in overwrite mode swaps in the same prod and " +
      "leaves no backup or temp directories") {
    val b = Files.createTempDirectory("advisory-e2e-redrive").toString
    def runOnce(runId: String, at: String) =
      Pipelines.run(spark, PipelineConfig.fromDefaults(runId, b), new StubTransport,
        nvd, "http://stub", overridesDf, now = Instant.parse(at))
        .collect().map(_.toSeq.toVector: Seq[Any]).toSet
    runOnce("d1", "2026-02-01T00:00:00Z")
    val first = runOnce("d2", "2026-02-01T00:01:00Z")
    val again = runOnce("d2", "2026-02-01T00:01:00Z")
    assert(first.size == 4)
    assert(again == first)
    assert(again.forall(_.last == "unchanged")) // change_type
    val leftovers = Files.walk(java.nio.file.Paths.get(b)).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith("__old") || n.contains("__compact_")).toList
    assert(leftovers.isEmpty, s"swap left directories behind: $leftovers")
  }

  test("enrichment releases the cache and the pending keys when a write throws") {
    val b = Files.createTempDirectory("advisory-e2e-leak").toString
    val cfg = PipelineConfig.fromDefaults("l1", b)
    val echo = Pipelines.runIngest(spark, cfg, new StubTransport, "http://stub",
      Some(overridesDf))
    // a regular file where the staging directory should be: the raw NVD
    // write cannot create its output directory
    val blocker = Files.createFile(java.nio.file.Paths.get(b, "blocker")).toString
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    intercept[Exception] {
      Pipelines.runEnrichment(spark, cfg.copy(stagingPath = blocker), new StubTransport,
        nvd, echo, overridesDf,
        now = Instant.parse("2026-02-01T00:00:00Z"))
    }
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("plan shape: no range exchange, the pending keys are computed once, " +
      "and the single-file writes are in the reference order") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    val b = Files.createTempDirectory("advisory-e2e-plans").toString
    def cfg(runId: String) = PipelineConfig.fromDefaults(runId, b)
    Pipelines.run(spark, cfg("p1"), new StubTransport, nvd,
      "http://stub", overridesDf, now = Instant.parse("2026-02-01T00:00:00Z"))

    // run 2, past the cache TTL: both pending keys are enriched again, so
    // processed mixes enriched_unchanged and unchanged rows
    val plans = new PlanLog
    spark.listenerManager.register(plans)
    val config = cfg("p2")
    val now = Instant.parse("2026-02-01T01:00:00Z")
    val transport = new StubTransport
    nvdCalls.set(0)
    nvdCallsInTask.set(0)
    try {
      // the three calls Pipelines.run makes, with the stage noted between them
      val echo = plans.during("ingest") {
        Pipelines.runIngest(spark, config, transport, "http://stub", Some(overridesDf)) }
      val normalized = plans.during("enrichment") {
        Pipelines.runEnrichment(spark, config, transport, nvd,
          echo, overridesDf, now) }
      plans.during("statemachine") {
        Pipelines.runStateMachine(spark, config, echo, normalized) }
    } finally spark.listenerManager.unregister(plans)

    def nodes(p: SparkPlan): Seq[SparkPlan] = PlanWalk.collectWithSubqueries(p) { case n => n }
    val ranged = plans.all.filter { case (_, _, p) => nodes(p).exists {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false } }
    assert(ranged.isEmpty, s"range exchanges in: ${ranged.map(_._2)}")

    // one output file is reached by coalescing, never by an exchange
    def writtenPath(p: SparkPlan): String = nodes(p).collectFirst {
      case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
        c.outputPath.toString }.getOrElse("")
    val singles = plans.all.filter { case (_, _, p) => nodes(p).exists {
      case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions == 1
      case _ => false } }
    assert(singles.isEmpty,
      s"single-partition exchanges in the writes of: ${singles.map(s => writtenPath(s._3))}")
    assert(nvdCalls.get() == 2)
    assert(nvdCallsInTask.get() == 0, "NVD calls ran inside a Spark task")

    val echoDir = "run_id=p2/sources/data"
    val echoScans = plans.all.filter { case (stage, _, p) =>
      stage == "enrichment" && nodes(p).exists {
        case s: FileSourceScanExec =>
          s.relation.location.rootPaths.exists(_.toString.contains(echoDir))
        case _ => false } }
    assert(echoScans.map(_._2) == Seq("collect"),
      s"plans scanning the echo staging table during enrichment: ${echoScans.map(_._2)}")

    def fileRows(dir: String): Seq[Row] =
      new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet"))
        .toSeq.sorted.flatMap(f => spark.read.parquet(f).collect().toSeq)
    def rank(ct: String) = Seq("new", "status_changed", "blocked",
      "enriched_unchanged").indexOf(ct) match { case -1 => 5; case i => i + 1 }
    val staging = s"$b/output/staging/run_id=p2/state_machine"
    val processed = fileRows(s"$staging/processed")
      .map(r => (rank(r.getAs[String]("change_type")), r.getAs[String]("cve_id")))
    assert(processed.map(_._1).toSet == Set(4, 5))
    assert(processed == processed.sorted, s"processed is out of order: $processed")
    val prod = fileRows(s"$b/output/prod/state_machine/cve_state_machine")
      .map(r => (r.getAs[String]("cve_id"), r.getAs[String]("package")))
    assert(prod.size == 4)
    assert(prod == prod.sorted, s"prod is out of order: $prod")
  }

  test("distributed flatten matches driver-side flatten") {
    import spark.implicits._
    val dist = graft.ingest.EchoAdvisorySource
      .flattenDistributed(spark, Seq(advisoryJson).toDF("value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2))))
      .toSet
    val drv = graft.ingest.EchoAdvisorySource.flattenDriverSide(advisoryJson).toSet
    assert(dist == drv)
    assert(drv.contains(("glibc", "CVE-2024-1", Some("2.39"))))
    assert(drv.contains(("openssl", "CVE-2024-4", None)))
    assert(!drv.exists(_._2 == "notacve"))
    assert(!drv.exists(_._1 == "badpkg"))
  }
}
