package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for the testdata layout: replicates each
  * SCALING table `factor` times with per-replica key offsets (so key
  * cardinality grows with the data — replicating without offsets would
  * inflate join fan-outs and group sizes instead of table sizes, which
  * is NOT how a larger scale factor behaves) and copies the
  * fixed-size tables (region/nation/documents/embeddings — the driver's
  * own generator keeps those constant across sf) verbatim.
  *
  * Purpose: the sf1 scale rehearsal. Every 100 TB posture claim is
  * plan-audited at sf0.1; this executes the full registry one decade
  * up. Usage:
  *   Test/runMain graft.tools.ScaleUp [srcDir] [dstDir] [factor]
  * then Bench with SPARK_GRAFT_SF_DIR=dstDir.
  *
  * Keys offset per replica r: orderkey, custkey (orders+customer
  * consistently), partkey, suppkey (lineitem+dims consistently),
  * event_id, user_id. Foreign-key relationships within each replica
  * are preserved exactly, so join selectivities match a genuinely
  * larger dataset.
  */
object ScaleUp {

  /** Replicate `df` `factor` times, adding `r * stride(col)` to each
    * key column — one crossJoin plan, no driver-side unions. The
    * source is repartitioned FIRST: testdata tables are single small
    * parquet files (one input split), so without it the factor-x
    * explode runs as ONE task — at factor 1000 that is a 600M-row
    * single-threaded map side (observed: 15 CPU-minutes at 1 core). */
  private def replicate(df: DataFrame, factor: Int,
      strides: Map[String, Long]): DataFrame = {
    val r = explode(array((0 until factor).map(i => lit(i.toLong)): _*)).as("__r")
    val cols: Seq[Column] = df.columns.toSeq.map { c =>
      strides.get(c) match {
        case Some(s) => (col(c) + col("__r") * s).as(c)
        case None => col(c)
      }
    }
    df.repartition(32).withColumn("__r", r).select(cols: _*)
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // 4th arg "scaleDocs": also replicate documents/embeddings (with
    // content divergence — see below). Default OFF: the full-registry
    // sf1 record keeps the fixed-corpus methodology of earlier rounds
    // so totals stay comparable; the dedup/ANN scale rehearsal opts in.
    // "docsOnly": scale ONLY documents/embeddings (implies scaleDocs) —
    // the third-docs-decade rehearsal needs a 1000x corpus but has no
    // use for 600M relational rows.
    val mode = args.lift(3)
    val docsOnly = mode.contains("docsOnly")
    val scaleDocs = docsOnly || mode.contains("scaleDocs")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts physical type varies by testdata generation (see QueryDef)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, src, dst, factor, scaleDocs, docsOnly)
    spark.stop()
  }

  def run(spark: SparkSession, src: String, dst: String, factor: Int,
      scaleDocs: Boolean, docsOnly: Boolean = false): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L
    if (docsOnly) { writeDocs(spark, read, maxOf, dst, factor); return }

    // strides shared across tables so FK relationships stay intact
    val orders = read("orders"); val lineitem = read("lineitem")
    val customer = read("customer"); val supplier = read("supplier")
    // events goes through loadEvents (ts physical type varies by testdata
    // generation); hold ts as long micros so the generic key-offset
    // replication applies, rebuild the timestamp at write time.
    val part = read("part")
    val events = graft.queries.QueryDef.loadEvents(spark, src)
      .withColumn("ts", unix_micros(col("ts")))
    val okS = math.max(maxOf(orders, "o_orderkey"), maxOf(lineitem, "l_orderkey"))
    val ckS = math.max(maxOf(orders, "o_custkey"), maxOf(customer, "c_custkey"))
    val pkS = math.max(maxOf(part, "p_partkey"), maxOf(lineitem, "l_partkey"))
    val skS = math.max(maxOf(supplier, "s_suppkey"), maxOf(lineitem, "l_suppkey"))
    val ekS = maxOf(events, "event_id")
    val ukS = maxOf(events, "user_id")

    def write(df: DataFrame, t: String, parts: Int): Unit = {
      // replicate() already spreads the source over 32 partitions, so a
      // post-explode repartition would shuffle the full replicated
      // table (30+ GB at factor 1000) just to rebalance already-even
      // files — only repartition when the count actually differs
      val out =
        if (df.rdd.getNumPartitions == parts) df else df.repartition(parts)
      out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t -> $dst/$t.parquet")
    }

    write(replicate(lineitem, factor, Map(
      "l_orderkey" -> okS, "l_partkey" -> pkS, "l_suppkey" -> skS)),
      "lineitem", 32)
    write(replicate(orders, factor, Map(
      "o_orderkey" -> okS, "o_custkey" -> ckS)), "orders", 16)
    write(replicate(customer, factor, Map("c_custkey" -> ckS)), "customer", 4)
    write(replicate(supplier, factor, Map("s_suppkey" -> skS)), "supplier", 2)
    write(replicate(part, factor, Map("p_partkey" -> pkS)), "part", 4)
    // ts (long micros here): offset each replica by the full span +
    // 1h, so a bigger factor means a LONGER HISTORY at the same event
    // rate — replicating into the same time range instead multiplies
    // temporal density, which makes every interval/window join's
    // OUTPUT grow quadratically with factor (observed: the 600 s
    // point-in-interval join went 35x across the sf1d->sf10d decade
    // purely from pair-count inflation, not operator cost)
    val tsSpanUs = events.agg(max(col("ts")) - min(col("ts")))
      .head().getLong(0) + 3600L * 1000000L
    write(replicate(events, factor, Map(
      "event_id" -> ekS, "user_id" -> ukS, "ts" -> tsSpanUs))
      .withColumn("ts", timestamp_micros(col("ts"))), "events", 16)
    // region/nation: constant across scale factors by design
    Seq("region" -> 1, "nation" -> 1)
      .foreach { case (t, p) => write(read(t), t, p) }

    if (!scaleDocs) {
      Seq("documents" -> 2, "embeddings" -> 2)
        .foreach { case (t, p) => write(read(t), t, p) }
      return
    }
    writeDocs(spark, read, maxOf, dst, factor)
  }

  /** documents/embeddings replication with content divergence — shared
    * by the full scale-up and the docsOnly third-decade path:
    *   - documents: doc_id offset + a per-replica prefix on EVERY word,
    *     so cross-replica shingle overlap is zero (within-replica
    *     near-dup structure is preserved exactly; dup pairs scale
    *     ~linearly with factor instead of quadratically, which is what
    *     a genuinely larger crawl looks like);
    *   - embeddings: vec_id offset + a deterministic per-replica,
    *     per-dimension perturbation, so cross-replica vectors are
    *     near-but-not-identical (ANN candidate structure scales). */
  private def writeDocs(spark: SparkSession, read: String => DataFrame,
      maxOf: (DataFrame, String) => Long, dst: String, factor: Int): Unit = {
    def write(df: DataFrame, t: String, parts: Int): Unit = {
      // replicate() already spreads the source over 32 partitions, so a
      // post-explode repartition would shuffle the full replicated
      // table (30+ GB at factor 1000) just to rebalance already-even
      // files — only repartition when the count actually differs
      val out =
        if (df.rdd.getNumPartitions == parts) df else df.repartition(parts)
      out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t -> $dst/$t.parquet")
    }
    val docs = read("documents")
    val dkS = maxOf(docs, "doc_id")
    val docsRep = replicate(docs, factor, Map("doc_id" -> dkS))
      .withColumn("__r", ((col("doc_id") - (col("doc_id") % dkS)) / dkS).cast("int"))
      .withColumn("text",
        when(col("__r") === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(^|\\s)([^\\s])"),
            concat(lit("$1r"), col("__r").cast("string"), lit("x$2")))))
      .drop("__r")
    // floor at 32: decade dirs are built by CHAINING x10 runs, where
    // 2*factor/10 = 2 files — at 5M docs that is ~476 MB per file and
    // the scan parallelizes to ~8 splits on 32 cores (measured: a
    // scan-local projection read 2.4x slower per token than the same
    // corpus decade below it, purely from layout)
    write(docsRep, "documents", math.max(32, 2 * factor / 10))

    val emb = read("embeddings")
    val vkS = maxOf(emb, "vec_id")
    val embRep = replicate(emb, factor, Map("vec_id" -> vkS))
      .withColumn("__r", ((col("vec_id") - (col("vec_id") % vkS)) / vkS).cast("int"))
      .withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          (x.cast("double") + col("__r").cast("double") * 0.003 *
            cos(i.cast("double") + col("__r").cast("double"))).cast("float")))
      .drop("__r")
    write(embRep, "embeddings", math.max(32, 2 * factor / 10))
  }
}
