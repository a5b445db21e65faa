package perfbench

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Benchmark entry point. Usage:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --bench-dir <perfbench dir> --out <run dir> [--record-golden <file>]
  *
  * Sets the workload up [[SetupReps]] times (each from a fresh session
  * and an empty directory), runs the measured ops on the last set-up, and
  * writes `result.json` (and, when tracing, `trace.json`) under `--out`.
  */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args.getOrElse("trace", "0") == "1"
    val benchDir = args("bench-dir")
    val out = args("out")
    val recordGolden = args.get("record-golden")
    val cores = Runtime.getRuntime.availableProcessors()

    val workload: Workload = workloadName match {
      case "advisory_nightly" =>
        val golden = if (recordGolden.isDefined) None else Some(
          Json.read(s"$benchDir/golden/advisory.json").path("change_type").asScala
            .map(h => h.properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap)
            .toSeq)
        // one nightly-nightly-redrive cycle per 4 s of run length
        new Advisory(seed, AdvisoryBaseRows, 3 * math.max(1, seconds / 4), golden)
      case "registry_scan" | "registry_build" =>
        // the first queries of the workload's fixed list, as many as the
        // run length allows
        val perSecond = if (workloadName == "registry_scan") 2.0 else 0.5
        val members = Json.read(s"$benchDir/workloads.json").path(workloadName)
          .asScala.map(_.asText).toSeq
        val golden = if (recordGolden.isDefined) Map.empty[String, (Long, String)]
          else Json.read(s"$benchDir/golden/registry.json").properties().asScala
            .map(e => e.getKey -> ((e.getValue.path("rows").asLong,
              e.getValue.path("hash").asText))).toMap
        new Registry(members.take(math.max(1, (seconds * perSecond).toInt)),
          s"$benchDir/data/sf0.01", golden, Tables)
      case other => sys.error(s"unknown workload $other")
    }

    val layerNames = Json.read(s"$benchDir/../BENCHMARK.json").path("per_layer")
      .asScala.map(_.path("name").asText).toSeq

    val heap = new HeapPeak
    var spark: SparkSession = null
    val setupSecs = (1 to SetupReps).map { rep =>
      if (spark != null) spark.stop()
      Workload.timed {
        spark = session(cores, out)
        workload.setup(spark, s"$out/setup-$rep")
      }._2
    }

    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
    val tracer = new Tracer(trace, spark.sparkContext)
    // bytes of files the ops wrote: everything under the run directory but
    // Spark's local dir (shuffle and spill, which the listener counts) and
    // the run's own log and result files; listed after each op and its
    // checks, outside the op's timing
    def files() = new java.io.File(out).listFiles.toSeq
      .filter(d => d.isDirectory && d.getName != "spark-local")
      .map(d => Workload.listing(d.getPath)).foldLeft(Map.empty[String, (Long, Long)])(_ ++ _)
    var listed = files()
    var fileBytes = 0L
    val ops = workload.run(spark, tracer, () => {
      val now = files()
      fileBytes += Workload.written(listed, now)
      listed = now
      if (trace) {
        BusDrain(spark.sparkContext)
        heap.sample()
      }
    })
    BusDrain(spark.sparkContext)
    val totals = probe.snapshot()
    val heapMb = heap.peakMb

    val opSecs = ops.map(_.seconds)
    val wall = opSecs.sum
    val mb = 1048576.0
    val failed = ops.count(!_.ok)
    val e2e = Map(
      "setup_s" -> median(setupSecs),
      "wall_s" -> wall,
      "op_s_p50" -> median(opSecs),
      "bytes_written_per_op" ->
        (fileBytes + totals.shuffleWriteBytes + totals.spillBytes) / mb / ops.size)

    val spanTotals = if (trace) probe.spanTotals(tracer) else Map.empty[Long, Totals]
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        // every span is an op or inside one; checks run outside spans
        val spark = Map(
          "spark.plan_s" -> spanTotals.values.map(_.planNs).sum / 1e9,
          "spark.jobs" -> totals.jobs.toDouble,
          "spark.stages" -> totals.stages.toDouble,
          "spark.tasks" -> totals.tasks.toDouble,
          "spark.tasks_per_stage" -> ratio(totals.tasks, totals.stages),
          "spark.single_task_stage_frac" -> ratio(totals.singleTaskStages, totals.stages),
          "spark.executor_run_s" -> totals.runMs / 1e3,
          "spark.executor_cpu_s" -> totals.cpuNs / 1e9,
          "spark.gc_s" -> totals.gcMs / 1e3,
          "spark.busy_core_frac" -> totals.runMs / 1e3 / (cores * wall),
          "spark.input_mb" -> totals.inputBytes / mb,
          "spark.output_mb" -> totals.outputBytes / mb,
          "spark.shuffle_write_mb" -> totals.shuffleWriteBytes / mb,
          "spark.shuffle_read_mb" -> totals.shuffleReadBytes / mb,
          "spark.spill_mb" -> totals.spillBytes / mb,
          "heap_peak_mb" -> heapMb)
        val all = workload.layers(tracer) ++ spark
        // a layer is the name's part before the first dot; a layer the
        // workload does not use reports 0, one it uses must report every
        // metric BENCHMARK.json lists for it
        def layer(n: String) = n.takeWhile(_ != '.')
        val unknown = all.keys.filterNot(layerNames.contains)
        require(unknown.isEmpty, s"metrics not listed in BENCHMARK.json: ${unknown.mkString(", ")}")
        val used = all.keySet.map(layer)
        val missing = layerNames.filter(n => used(layer(n)) && !all.contains(n))
        require(missing.isEmpty, s"$workloadName did not report ${missing.mkString(", ")}")
        layerNames.map(n => n -> all.getOrElse(n, 0.0)).toMap
      }

    val tail = tailPercentile(opSecs)
    Json.writeFile(s"$out/result.json", Map(
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores,
      "attempted" -> ops.size, "failed" -> failed,
      "setup_runs_s" -> setupSecs, 
      "check_s" -> Workload.checkSeconds, "heap_samples_mb" -> heap.samples, "op_s" -> opSecs, "op_names" -> ops.map(_.name),
      "end_to_end" -> e2e, "per_layer" -> layers,
      "op_s_tail" -> tail.map { case (p, v) =>
        Map("percentile" -> p, "value" -> v, "samples" -> ops.size) },
      "failures" -> ops.filter(!_.ok).map(o => Map("op" -> o.op, "name" -> o.name,
        "error" -> o.error)),
      "file_bytes_written" -> fileBytes, "spark_totals" -> totals.toJson))

    if (trace) Json.writeFile(s"$out/trace.json", Map(
      "workload" -> workloadName, "seed" -> seed,
      "spans" -> tracer.spans.map { s =>
        Map("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
          "tag" -> s.tag, "start_ms" -> s.startMs,
          "end_ms" -> (s.startMs + (s.endNs - s.startNs) / 1000000L),
          "seconds" -> s.seconds, "self_seconds" -> tracer.selfSeconds(s),
          "spark" -> spanTotals.get(s.id).map(_.toJson))
      },
      "self_seconds_by_layer" -> tracer.spans.groupBy(_.name)
        .map { case (n, ss) => n -> ss.map(tracer.selfSeconds).sum },
      "per_layer" -> layers,
      "workload_record" -> workload.record))

    recordGolden.foreach { path =>
      workload match {
        case a: Advisory => Json.writeFile(path, Map(
          "base_rows" -> AdvisoryBaseRows, "change_type" -> a.histograms))
        case r: Registry => Json.writeFile(path, r.record("fingerprints"))
        case _ =>
      }
    }
    spark.stop()
  }

  /** Master-list size of `advisory_nightly` (10x fewer than the 400k the
    * workload was first sized at; see the benchmark's README). */
  val AdvisoryBaseRows = 40000
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def session(cores: Int, out: String): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.local.dir", s"$out/spark-local")
    .config("spark.sql.warehouse.dir", s"$out/warehouse")
    .getOrCreate()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b

  /** The highest of p99, p95, p90, p75, p50 with at least ten ops beyond
    * it (nearest rank), or None when the op count gives none. */
  def tailPercentile(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    Seq(99, 95, 90, 75, 50).find(p => s.size * (100 - p) / 100.0 >= 10).map { p =>
      val rank = math.ceil(p / 100.0 * s.size).toInt
      p -> s(math.max(rank - 1, 0))
    }
  }
}
