package graft.operators

import org.apache.spark.sql.DataFrame

/** Conditional scan fan-out (guide §2.5: "one huge unsplittable file
  * ... repartition immediately after the read").
  *
  * The bench-SF testdata tables are SINGLE-row-group single parquet
  * files: every scan — and every expensive per-row projection Spark
  * fuses into the scan stage (regex tokenize, shingling, md5, minhash
  * partial aggregation, decimal products) — runs as ONE task until
  * the first exchange, idling the other cores on exactly the stages
  * that dominate the text/dedup family (measured in
  * tools/ScanFanout@3a89fdd: the shingle+md5 kernel is 2x faster after a
  * fan-out; a CHEAP projection is ~1.5x slower, because the shuffle
  * then outweighs the work — so this is applied per-operator, only in
  * front of provably expensive projections, never in QueryDef.load).
  *
  * Scale-adaptive by construction: the repartition happens ONLY when
  * the plan's scan arrives in fewer than half the session's cores. At
  * real scale inputs come in many splits and this is the identity —
  * no constant tuned for local[32] leaks into cluster plans.
  * `spark.graft.scan.fanout=off` disables it globally (the
  * measurement override used by tools/FanCompare@3a89fdd).
  */
object Fan {
  def out(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    if (sess.conf.getOption("spark.graft.scan.fanout").contains("off")) df
    else {
      val cores = sess.sparkContext.defaultParallelism
      // .rdd only constructs the physical plan (no job); for a file
      // scan its partition count is the split count
      if (df.rdd.getNumPartitions * 2 <= cores) df.repartition(cores) else df
    }
  }

  /** Keyed STAGING exchange (the bigramSurprise recipe generalized):
    * hash-repartition by `c` so that (1) every doc-keyed aggregation
    * downstream is exchange-free (HashPartitioning(doc) satisfies any
    * grouping whose keys include doc), (2) multi-consumer subtrees
    * above the exchange materialize ONCE (ReusedExchange), and (3) the
    * projection after the exchange runs on every core even when the
    * scan arrives as a single split. Unlike [[out]] this is not about
    * split counts — the exchange is justified at any scale by (1)+(2),
    * so it is unconditional; `spark.graft.scan.fanout=off` remains the
    * measurement override (tools/FanCompare@3a89fdd A/B's the original shape). */
  def stage(df: DataFrame, c: org.apache.spark.sql.Column): DataFrame =
    if (df.sparkSession.conf.getOption("spark.graft.scan.fanout")
        .contains("off")) df
    else df.repartition(c)
}
