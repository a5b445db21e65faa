package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.execution.window.WindowExec

/** Benchmark main: times every registered query end to end and prints
  * ONE JSON line. Queries execute through the `noop` sink rather than
  * `count()` — a count lets Catalyst prune every expression not needed
  * for the row count, which would time a different (cheaper) plan than
  * the one users run.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-bench", defaultCpus = 32)
    // SPARK_GRAFT_INIT_PARTITIONS: AQE's initial shuffle partition
    // count (coalesced down after the fact). The scale knob for runs
    // decades above the tuned sf: 32 initial partitions at 60M-row
    // shuffles means multi-GB sort partitions that spill; a larger
    // initial count keeps partitions memory-sized and AQE merges the
    // small ones back — exactly what a real cluster config would do.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      sys.env.getOrElse("SPARK_GRAFT_INIT_PARTITIONS",
        spark.conf.get("spark.sql.shuffle.partitions")))
    // the _serial_oracle twins' global windows are deliberate: mute their warning
    Configurator.setLevel(classOf[WindowExec].getName, Level.ERROR)

    // Warm the JVM + file-system metadata so the first timed query does
    // not absorb session startup. (docsOnly scale dirs carry no
    // lineitem — fall back to documents.)
    scala.util.Try(spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count())
      .getOrElse(spark.read.parquet(s"$sfDir/documents.parquet").limit(1).count())

    def runOnce(df: org.apache.spark.sql.DataFrame, name: String): Boolean =
      try { df.write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        false
      }

    // Steady-state methodology, hardened against this box's observed
    // multi-minute external load windows (identical fixed plans
    // measured at 0.2 s and 20 s in runs forty minutes apart, with
    // zero Full GCs and zero steal in the clean run):
    //   1. per query: build the DataFrame ONCE (plan construction is
    //      driver-side setup), one untimed warm pass (codegen compile,
    //      JIT, file-footer caches), then min of three timed passes —
    //      consecutive passes keep the codegen/JIT state hot;
    //   2. a RESCUE sweep minutes later: one more timed pass per query,
    //      folded in with min. A load window during phase 1 fully
    //      contaminates a query's three consecutive passes, but the
    //      same window cannot also cover its rescue pass (different
    //      time), and vice versa — only a window spanning both visits
    //      survives the min.
    // clearCache between phases: a query that persist()s (the upsert
    // caches its merge input, by design) re-materializes once per
    // phase instead of leaking block-manager memory forward.
    // SPARK_GRAFT_BENCH_ONLY: optional comma-separated subset (the
    // sf10 heavy-hitter rehearsal); default = the whole registry
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // SPARK_GRAFT_BENCH_QUICK=1: no warm pass, one timed pass, no
    // rescue sweep — for scale-ratio rehearsals where a steady-state
    // min would cost 5x the wall-clock and the quantity of interest is
    // the RATIO between two runs of the same methodology
    val quick = sys.env.get("SPARK_GRAFT_BENCH_QUICK").contains("1")
    // built lazily INSIDE phase 1 (not all up front): a query that
    // persist()s at build time (the upsert) would otherwise register a
    // cache that other queries' identical sub-plans silently hit
    val dfs = scala.collection.mutable.Map.empty[String, org.apache.spark.sql.DataFrame]
    val best = scala.collection.mutable.Map.empty[String, Double]
    // DataFrame CONSTRUCTION time. Usually milliseconds, but the
    // eager-build queries (CC clusters, canonical selection, the BPE
    // trainer) run their iterative builds here — recording it stops
    // the per-pass numbers understating those queries (ADVICE r5).
    val buildSecs = scala.collection.mutable.Map.empty[String, Double]
    // whether the query's plan uses persist() — must be decided while
    // the phase-1 cache registration is still alive (after clearCache a
    // fresh optimize sees no InMemoryRelation); informs the rescue sweep
    val usesCacheMap = scala.collection.mutable.Map.empty[String, Boolean]
    names.foreach { n =>
      val built =
        try {
          val b0 = System.nanoTime()
          dfs(n) = SparkEntry.queries(n)(spark, sfDir)
          buildSecs(n) = (System.nanoTime() - b0) / 1e9
          true
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $n failed to build: ${e.getMessage}")
          false
        }
      if (built) {
        val df = dfs(n)
        usesCacheMap(n) = df.queryExecution.optimizedPlan.collectFirst {
          case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
        }.nonEmpty
        if (!quick) runOnce(df, n) // warm (a transient warm failure is
                       // tolerated — the first timed pass absorbs
                       // compile cost then)
        val times = (1 to (if (quick) 1 else 3)).flatMap { _ =>
          val t0 = System.nanoTime()
          val ok = runOnce(df, n)
          val t = (System.nanoTime() - t0) / 1e9
          if (ok) Some(t) else None // a failed pass must not poison min
        }
        System.err.println(
          f"[bench] $n passes=${times.map(t => f"$t%.2f").mkString(",")}")
        times.minOption.foreach(best(n) = _)
        spark.catalog.clearCache()
      }
    }
    (if (quick) Seq.empty else names).foreach { n => // rescue sweep
      dfs.get(n).foreach { phase1Df =>
        // A query that persist()s lost its cache REGISTRATION to the
        // inter-phase clearCache, so a bare rescue pass on the phase-1
        // DataFrame times the fully UNCACHED plan (the upsert's merge
        // recomputes on both union sides) — a strictly different
        // measurement that can NEVER beat a clean phase-1 pass,
        // leaving such a query unrescuable if a load window hit its
        // phase-1 visit (observed: upsert 1.33 s contaminated min vs
        // 0.47 s clean, rescue 4.6 s useless). For cache-using plans
        // (detected on the phase-1 snapshot), rebuild the query so
        // persist() re-registers, re-materialize untimed, then time —
        // the exact phase-1 condition — and clear before moving on.
        val usesCache = usesCacheMap.getOrElse(n, false)
        val df =
          if (!usesCache) phase1Df
          else scala.util.Try(SparkEntry.queries(n)(spark, sfDir))
            .getOrElse(phase1Df)
        if (usesCache) runOnce(df, n)
        val t0 = System.nanoTime()
        val ok = runOnce(df, n)
        val t = (System.nanoTime() - t0) / 1e9
        if (usesCache) spark.catalog.clearCache()
        System.err.println(f"[bench] rescue $n $t%.2f")
        // a rescue-pass failure (e.g. an external-load window, the very
        // thing the sweep hardens against) must not discard the three
        // valid phase-1 measurements
        if (ok) best(n) = best.get(n).fold(t)(math.min(_, t))
      }
    }
    spark.catalog.clearCache()
    // failed = no successful TIMED pass at all (build failure, or every
    // pass threw) — reported explicitly instead of a silent 0.0
    val (ok, failed) = names.partition(best.contains)
    val results = ok.map(n => n -> best(n))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // builds that carry real work (the eager iterative builds); the
    // millisecond-plan majority is noise and omitted from the record
    val builds = buildSecs.filter(_._2 >= 0.5).toSeq.sortBy(-_._2)
    val buildJson = builds.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"build_seconds":$buildJson,"failed":$failedJson,"failed_count":${failed.size},"sf":"$sfDir"}"""
    println(json)
    // Loss-proof copy: a stdout tail capture can truncate the (long)
    // single JSON line — persist it to a file as well so the headline
    // total always survives (BENCH_r03 lost its own total this way).
    val outFile = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
    Option(outFile.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(outFile,
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The driver captures only the last ~2000 chars of stdout, so the
    // full per-query line above outgrew the window at 127 queries and
    // BENCH_r05 recorded `parsed: null`. FINAL line = a compact
    // summary that always fits: headline totals + the slowest queries;
    // the complete per-query map lives in the file copy and the
    // committed perf/ records (PerfRecordSpec-gated).
    def r3(v: Double) = math.rint(v * 1000) / 1000
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val buildsCompact = builds.take(5)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","query_count":${names.size},"queries_slowest":$slowest,"build_seconds":$buildsCompact,"failed":$failedJson,"failed_count":${failed.size},"sf":"$sfDir","full_record":"${outFile.toString}"}""")
    spark.stop()
  }
}
