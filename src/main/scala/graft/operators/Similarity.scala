package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (`Array[Float]` columns).
  *
  * Shapes:
  *   - [[bruteForceTopK]] — exact: broadcast the (small) query set
  *     against the corpus; one pass, no shuffle of the corpus. The
  *     baseline and the rerank step.
  *   - [[lshBuckets]] / [[lshTopK]] — scale path: random-hyperplane LSH
  *     buckets computed from a seeded deterministic projection; the
  *     self/probe join happens per bucket, so the pair space is
  *     corpus x (corpus/2^bits) instead of corpus^2. An IVF variant
  *     would swap the hyperplanes for k-means centroids; the operator
  *     shape (bucket -> join -> exact rerank) is identical.
  *
  * Dot products run on `Array[Double]` (cast from float once) via
  * codegen'd higher-order functions — no UDF, no Python boundary.
  */
object Similarity {

  /** Left-to-right double dot product — higher-order-function form,
    * kept as the portable reference implementation (the native
    * expression is verified bit-identical against it). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine via the fused-loop native expression
    * ([[graft.functions.VectorExpressions]]) — same accumulation order
    * as the HOF form, so results are bit-identical, but one codegen'd
    * loop instead of per-element lambda dispatch + an intermediate
    * array. This is the inner loop of every similarity scan. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosineNative(a, b)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Exact top-k: for each query row, the k nearest corpus rows by
    * cosine. `queries` is broadcast — keep it small (or chunk it). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 5): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("nv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("nv")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        (round(col("cos"), 4) + lit(0.0)).as("cos"), col("rank"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009): combine per-query
    * rankings from heterogeneous retrieval systems (lexical BM25,
    * embedding ANN, ...) by summing 1/(k + rank) — no score
    * calibration needed, which is the whole point: BM25 scores and
    * cosines are not comparable, ranks are. Each input must carry
    * (query_id, doc_id, rank); a doc absent from a system contributes
    * nothing (the standard convention). Contributions are quantized
    * to integer micro-units before the sum — order-independent and
    * exact cross-engine — and ties break on doc_id.
    *
    * Scale shape: each input ranking is already top-k-per-query
    * (bounded: queries x k rows), so the union + one aggregation +
    * one per-query window all run on candidate lists, never corpora. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 60,
      topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val scored = rankings.map(_.select(col("query_id"), col("doc_id"),
        round(lit(1e6) / (lit(k) + col("rank"))).cast("long").as("__c")))
      .reduce(_ union _)
      .groupBy("query_id", "doc_id")
      .agg(sum(col("__c")).as("__s"), count(lit(1)).as("n_systems"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__s").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("doc_id"),
        (round(col("__s") / 1e6, 6) + lit(0.0)).as("rrf"),
        col("n_systems"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane j,
    * dim i): a +/-1 derived from a Weyl-sequence-style integer mix. */
  private def hyperplaneSign(j: Int, i: Column): Column =
    when(((i * 2654435761L + j * 40503L) % 97L) % 2L === 0L, 1.0).otherwise(-1.0)

  /** Plain-Scala value of [[hyperplaneSign]] — lets an oracle query
    * embed the identical hyperplanes as literal sign vectors. */
  def hyperplaneSignValue(j: Int, i: Int): Double =
    if (((i * 2654435761L + j * 40503L) % 97L) % 2L == 0L) 1.0 else -1.0

  /** LSH bucket id from `bits` signed random projections. `table`
    * selects an independent hyperplane family (planes are indexed
    * `table * bits + j`, so table 0 reproduces the historical single-
    * table buckets bit-for-bit). */
  def lshBucket(vec: Column, bits: Int = 8, table: Int = 0): Column =
    // fused codegen kernel ([[graft.functions.LshBucketExpr]]): one
    // loop accumulates all `bits` projections with the identical
    // per-plane left-to-right addition order and sign formula as the
    // HOF form below — bit-identical bucket ids, minus `bits`
    // interpreted zip_with+aggregate dispatches (and their
    // intermediate arrays) per row. The HOF reference implementation
    // is kept as [[lshBucketHof]] and parity-pinned in ExtensionsSpec.
    graft.functions.VectorExpressions.lshBucketNative(vec, bits, table)

  /** The portable HOF reference form of [[lshBucket]] — the original
    * definition, kept verbatim so the fused kernel has an in-repo
    * reference to be verified bit-identical against. */
  private[graft] def lshBucketHof(vec: Column, bits: Int = 8, table: Int = 0): Column = {
    val v = asDouble(vec)
    val projections = (0 until bits).map { j =>
      // projection_j = sum_i sign(table*bits + j, i) * v[i]
      val weighted = zip_with(v, sequence(lit(0), size(v) - 1),
        (x, i) => x * hyperplaneSign(table * bits + j, i))
      val proj = aggregate(weighted, lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << j)).otherwise(0L)
    }
    projections.reduce(_ + _)
  }

  def lshBuckets(corpus: DataFrame, idCol: String, vecCol: String,
      bits: Int = 8): DataFrame =
    corpus.select(col(idCol), col(vecCol),
      lshBucket(col(vecCol), bits).as("bucket"))

  /** Approximate top-k: exact rerank within the buckets each query
    * probes. `probes = 0` searches only the query's own bucket;
    * `probes = n` additionally probes the n single-bit-flip neighbor
    * buckets nearest in Hamming space — the standard multi-probe trick
    * that lifts recall without re-bucketing the corpus (note it
    * saturates at `bits` flips). `tables = L` builds L INDEPENDENT
    * hyperplane tables and unions their candidates — the classic
    * recall amplifier (miss probability (1-p)^L instead of 1-p): a
    * near neighbor only needs to collide in ONE table. Cost: the
    * corpus emits L (table, bucket) index entries per row — the
    * standard L-replica LSH index — but the join stays a fully blocked
    * equi-join on (table, bucket); candidate pairs found by several
    * tables are deduplicated BEFORE the cosine rerank. Table 0 is the
    * historical single-table family, so `tables = 1` output is
    * unchanged. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 5, bits: Int = 8, probes: Int = 0,
      tables: Int = 1): DataFrame = {
    require(tables >= 1, "tables must be >= 1")
    def tableBuckets(df: DataFrame, outId: String, outVec: String): DataFrame = {
      val tb = (0 until tables).map { t =>
        struct(lit(t).as("t"), lshBucket(col(vecCol), bits, t).as("bucket"))
      }
      df.select(col(idCol).as(outId), asDouble(col(vecCol)).as(outVec),
          explode(array(tb: _*)).as("tb"))
        .select(col(outId), col(outVec),
          col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    }
    val cb = tableBuckets(corpus, "neighbor_id", "nv")
    val own = tableBuckets(queries, "query_id", "qv")
    val qb =
      if (probes <= 0) own
      else {
        val flips = (0 until math.min(probes, bits)).map { j =>
          expr(s"bucket ^ ${1L << j}")
        }
        own.select(col("query_id"), col("qv"), col("t"),
            explode(array((col("bucket") +: flips): _*)).as("bucket"))
          .dropDuplicates("query_id", "t", "bucket")
      }
    val scored = cb.join(broadcast(qb), Seq("t", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // a pair colliding in several tables/probes must rerank ONCE
      .dropDuplicates("query_id", "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("nv")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        (round(col("cos"), 4) + lit(0.0)).as("cos"), col("rank"))
  }

  /** IVF (inverted-file) approximate search: k-means centroids
    * partition the corpus into cells; a query is compared only against
    * the cells of its `nProbe` nearest centroids, then exactly
    * reranked. The centroid set is tiny and broadcast twice (assign +
    * probe); the corpus is scanned once to assign and once per search —
    * at 100 TB the assignment is materialized alongside the vectors
    * (write once, probe many). Same operator shape as [[lshTopK]] with
    * learned instead of random partitions. */
  def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, seed: Long = 42L): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    val train = corpus.select(col(idCol),
      array_to_vector(asDouble(col(vecCol))).as("features"))
    val model = new KMeans().setK(nCells).setSeed(seed).setFeaturesCol("features")
      .fit(train)
    val assigned = model.transform(train)
      .select(col(idCol), col("prediction").as("cell"))
      .join(corpus, idCol)
    val centroids = spark.createDataFrame(
      model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) }.toSeq)
      .toDF("cell", "centroid")
    (assigned, centroids)
  }

  /** Deterministic IVF assignment against a GIVEN `(cell, centroid)`
    * table: each corpus row gets its argmax-cosine centroid's cell
    * (tiebreak: lowest cell). [[ivfIndex]] learns centroids with
    * KMeans; this fixed-centroid path makes the assign+probe+rerank
    * machinery oracle-checkable end to end. Centroids are broadcast —
    * the corpus never shuffles. */
  def assignCells(corpus: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    // argmax by max(struct), NOT a window: the id x cell expansion is
    // partition-LOCAL (each corpus row fans out against the broadcast
    // centroids in place), so the partial max collapses it map-side
    // and the shuffle carries one partial row per id — a window would
    // hash-shuffle and sort all |corpus| x nCells expanded rows (at a
    // 2M x 1414 streaming ingest that sort spilled the disk; same
    // lesson as the r9 change-feed rewrite). Tie-break identical:
    // highest cosine, then LOWEST cell (negated in the struct order).
    val payload = struct(corpus.columns.map(col) :+ col("cell"): _*)
    corpus.crossJoin(broadcast(centroids))
      .withColumn("__ccos", cosine(asDouble(col(vecCol)), col("centroid")))
      .groupBy(col(idCol).as("__gid"))
      .agg(max(struct(col("__ccos").as("c"), (-col("cell")).as("nc"),
        payload.as("p"))).as("__top"))
      .select(col("__top.p.*"))
  }

  /** The corpus-side cell-count rule for a growing corpus: cells ~
    * sqrt(N) (the FAISS guideline). With nProbe held constant the
    * per-query scored-candidate count is nProbe * N / cells =
    * nProbe * sqrt(N) — SUB-linear in the corpus — while a fixed cell
    * count degrades to linear (constant probed FRACTION). The
    * registered oracle queries pin nCells for replayability;
    * production indexes should size with this. */
  def autoCells(n: Long, floor: Int = 16): Int =
    math.max(floor, math.round(math.sqrt(n.toDouble)).toInt)

  /** The probe+score stage of [[ivfTopK]]: every (query, neighbor) pair
    * that reaches the exact cosine. */
  private def ivfScored(assigned: DataFrame, centroids: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      nProbe: Int): DataFrame =
    ivfScoredProbes(assigned,
      probeSet(centroids, queries, idCol, vecCol, nProbe), idCol, vecCol)

  /** The scorer against an ALREADY-SELECTED probe set (one row per
    * (query, probed cell) with the query vector) — so a caller that
    * materialized the probes (e.g. [[IncrementalAnn.topK]], which also
    * prunes its index read by them) can guarantee the scorer joins
    * exactly the probed cells: one EVALUATION, not just one
    * definition. */
  private[graft] def ivfScoredProbes(assigned: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val c = assigned.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("nv"), col("cell"))
    c.join(broadcast(probes), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("nv")).as("cos"))
  }

  /** The exact-rerank tail of [[ivfTopK]]: rank the scored pairs and
    * keep top-k per query (tiebreak: lowest neighbor id). */
  private[graft] def ivfRank(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        (round(col("cos"), 4) + lit(0.0)).as("cos"), col("rank"))
  }

  /** The probe selection of [[ivfScored]] — one row per (query, probed
    * cell) with the query vector: the nProbe nearest centroids' cells
    * per query (tiebreak: lowest cell). SHARED with
    * [[IncrementalAnn]], which collects the distinct cells to prune
    * its index read to exactly the probed buckets — one definition is
    * what guarantees the pruned set covers every cell the scorer will
    * join. */
  private[graft] def probeSet(centroids: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, nProbe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist").asc, col("cell").asc)
    q.crossJoin(broadcast(centroids))
      .withColumn("cdist", -cosine(col("qv"), col("centroid")))
      .withColumn("prank", row_number().over(probeW))
      .filter(col("prank") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))
  }

  /** Approximate top-k over an IVF index: probe the `nProbe` cells
    * whose centroids are nearest each query, exact-rerank inside. */
  def ivfTopK(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int = 5, nProbe: Int = 4): DataFrame =
    ivfRank(ivfScored(assigned, centroids, queries, idCol, vecCol, nProbe), k)

  /** Embedding near-dup pairs within a sliding id window — the exact
    * verifier shape used after any blocking scheme; `window` bounds the
    * pair space for the oracle-checked query. The window is generated
    * as an explicit equi-join (explode the `window` offsets, join on
    * id2 = id1 + off): the range-predicate form has no equi key and
    * would plan as a one-core nested-loop join — quadratic row
    * comparisons regardless of how cheap the window filter is. */
  def embeddingWindowPairs(corpus: DataFrame, idCol: String, vecCol: String,
      window: Int = 5): DataFrame = {
    val a = corpus.select(col(idCol).as("id1"), asDouble(col(vecCol)).as("v1"))
      .withColumn("__off",
        explode(array((1 to window).map(o => lit(o.toLong)): _*)))
      .withColumn("id2", col("id1") + col("__off")).drop("__off")
    val b = corpus.select(col(idCol).as("id2"), asDouble(col(vecCol)).as("v2"))
    a.join(b, "id2")
      .select(col("id1"), col("id2"), (round(cosine(col("v1"), col("v2")), 4) + lit(0.0)).as("cos"))
  }

  /** SQL fragment slicing subvector `sub` (0-based) of width dims/m out
    * of array column `v` — shared by the PQ codebook/encode/query
    * paths. Fails LOUDLY (raise_error, scan-local) when dims % m != 0:
    * a silent `div` would drop the trailing dims from every distance,
    * skewing recall with no error (ADVICE r5). */
  private def subSliceSql(v: String, sub: String, m: Int): String = {
    val w = s"if(size($v) % $m = 0, size($v) div $m, " +
      s"cast(raise_error(concat('PQ requires dims % m == 0: dims=', " +
      s"cast(size($v) as string), ', m=$m')) as int))"
    s"slice($v, $sub * ($w) + 1, $w)"
  }

  /** Squared L2 between equal-length double arrays — fixed sequential
    * accumulation order, so a SQL oracle spelling the same
    * left-associated sum produces bit-identical doubles. Runs as the
    * fused codegen kernel [[graft.functions.L2SqExpr]] (one loop, no
    * intermediate array) — bit-identical to the HOF fold
    * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0.0, +)` it
    * replaced, which dispatched two interpreted lambdas per element on
    * the |corpus| x m x k PQ-encode hot path. */
  def l2sq(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.l2sqNative(a, b)

  /** Deterministic product-quantization codebook: `k` seed vectors
    * chosen by md5-hash order of the id (a seeded uniform sample —
    * reproducible across runs, partitionings, and engines), each cut
    * into `m` subvectors; output rows are (sub, code, centroid). A
    * trained codebook (k-means per subspace) drops in with the same
    * schema — the seeded-sample codebook is the deterministic baseline
    * that makes the whole encode/search pipeline oracle-checkable.
    * The seed pick is a top-k by hash (TakeOrdered — no global sort),
    * and the result is m*k tiny rows, made for broadcast. */
  def pqCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 16, salt: String = "pq"): DataFrame = {
    require(m > 0 && k > 0, "m and k must be > 0")
    val seeds = corpus
      .select(col(idCol).cast("string").as("__sid"), asDouble(col(vecCol)).as("__v"))
      .withColumn("__h", Dedup.md5Hash32(concat(lit(s"$salt:"), col("__sid"))))
      .orderBy(col("__h").asc, col("__sid").asc)
      .limit(k)
    // window over the k surviving rows only — k <= 256 by design
    val coded = seeds.withColumn("code", row_number().over(
      Window.orderBy(col("__h").asc, col("__sid").asc)) - 1)
    coded
      .select(col("code"), explode(expr(s"sequence(0, ${m - 1})")).as("sub"), col("__v"))
      .select(col("sub"), col("code"),
        expr(subSliceSql("__v", "sub", m)).as("centroid"))
  }

  /** Lloyd-refined PQ codebook: per-subspace k-means iterations on top
    * of [[pqCodebook]]'s deterministic seeded init — the trained
    * codebook that closes the recall gap a seeded sample leaves (the
    * seeded book is a uniform draw from the data; Lloyd pulls each
    * code to the mean of the subvectors it actually quantizes).
    * Everything stays oracle-exact: assignment is the same
    * argmin-of-exact-L2 as [[pqEncode]] (ties to the lowest code), and
    * the update step uses the [[centroids]] exact-mean recipe —
    * element values quantize to integer micro-units before the sum, so
    * the mean is order-independent integer arithmetic divided once and
    * rounded to 6 dp. A code that captures no vectors keeps its
    * previous centroid (never collapses to null/NaN).
    *
    * Iterations run at plan-construction time over a localCheckpointed
    * subvector table (the eager-build regime of the CC/BPE builds —
    * without it iteration r would replay all r-1 prior assignments);
    * each round is one broadcast-join argmin + one (sub, code, pos)
    * aggregation — both fully distributed, nothing driver-side except
    * the m*k-row codebook itself. */
  def pqCodebookTrained(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 16, iters: Int = 2, salt: String = "pq"): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    var cb = pqCodebook(corpus, idCol, vecCol, m, k, salt)
    if (iters == 0) return cb
    val subs = corpus
      .select(col(idCol).as("__tid"), asDouble(col(vecCol)).as("__v"))
      .select(col("__tid"), explode(expr(s"sequence(0, ${m - 1})")).as("sub"),
        col("__v"))
      .select(col("__tid"), col("sub"),
        expr(subSliceSql("__v", "sub", m)).as("__sv"))
      .localCheckpoint(true)
    (1 to iters).foreach { _ =>
      val assigned = subs.join(broadcast(cb), Seq("sub"))
        .withColumn("__d", l2sq(col("__sv"), col("centroid")))
        .groupBy(col("__tid"), col("sub"))
        .agg(min(struct(col("__d"), col("code"))).getField("code").as("code"),
          first(col("__sv")).as("__sv"))
      // the 6-dp mean is derived in INTEGER arithmetic — half-away-
      // from-zero on the micro sum ((2|s| + n) div 2n, signed), then
      // one exact division. round(s/n/1e6, 6) on the double diverges
      // between engines when the mean lands on a 5e-7 boundary
      // (decimal-string HALF_UP vs multiply-then-round) — observed as
      // a single 1e-6 centroid flip in the sf0.01 residual book.
      val means = assigned
        .select(col("sub"), col("code"),
          posexplode(col("__sv")).as(Seq("pos", "v")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(sum(round(col("v") * 1e6).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .groupBy(col("sub"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("pos"),
            (expr("if(s >= 0, (2*s + n) div (2*n), -((-2*s + n) div (2*n)))")
              / 1e6).as("cv")))),
          x => x.getField("cv")).as("__newc"))
      cb = cb.join(means, Seq("sub", "code"), "left")
        .select(col("sub"), col("code"),
          coalesce(col("__newc"), col("centroid")).as("centroid"))
        .localCheckpoint(true)
    }
    cb
  }

  /** PQ encoding: each vector becomes `m` small codes (argmin-L2
    * centroid per subspace, ties to the lowest code) — 64 floats
    * collapse to 8 bytes, the memory story that lets a billion-vector
    * index live in RAM. Distances against the broadcast codebook are
    * scan-local (n*m*k fused-loop evaluations, no shuffle); the
    * per-subspace argmin runs as m partial-aggregable conditional
    * min(struct(dist, code)) aggregates in ONE groupBy(id), so a
    * single exchange carries one m-slot partial row per vector and
    * the codes array assembles in the same aggregation. */
  def pqEncode(corpus: DataFrame, codebook: DataFrame, idCol: String,
      vecCol: String, m: Int = 8, carry: Seq[String] = Nil): DataFrame = {
    val cs = carry.map(col)
    val subs = corpus
      .select(col(idCol) +: cs :+ asDouble(col(vecCol)).as("__v"): _*)
      .select(col(idCol) +: cs :+
        explode(expr(s"sequence(0, ${m - 1})")).as("sub") :+ col("__v"): _*)
      .select(col(idCol) +: cs :+ col("sub") :+
        expr(subSliceSql("__v", "sub", m)).as("__sv"): _*)
    // ONE aggregation (r12): m is a plan-time constant, so the
    // per-subspace argmin runs as m conditional min(struct) aggregates
    // in a single groupBy(id) — the previous groupBy(id, sub) argmin +
    // groupBy(id) collect_list paid a second full exchange just to
    // reassemble codes the first aggregation had already decided.
    // Identical values: each (id, sub) group has >= 1 row (the explode
    // is unconditional), min(struct(d, code)) is the same tie-break,
    // and the array is assembled in sub order exactly as the
    // array_sort(collect_list(struct(sub, code))) form did.
    val perSub = (0 until m).map { j =>
      min(when(col("sub") === j, struct(col("__d"), col("code"))))
        .getField("code").as(s"__c$j")
    }
    subs.join(broadcast(codebook), Seq("sub"))
      .withColumn("__d", l2sq(col("__sv"), col("centroid")))
      .groupBy(col(idCol) +: cs: _*)
      .agg(perSub.head, perSub.tail: _*)
      .select(col(idCol) +: cs :+
        array((0 until m).map(j => col(s"__c$j")): _*).as("codes"): _*)
  }

  /** Per-query ADC lookup table (query_id, sub, code, __dq): the
    * query's L2 distance to every (sub, code) centroid, quantized to
    * integer NANO-units (round(d * 1e9) as BIGINT) so downstream
    * m-term sums are exact integer arithmetic — identical across
    * partitionings and engines. Integer quantization (not a 9-dp
    * decimal round): rounding an identical double to a 9th DECIMAL
    * digit diverges between engines (decimal-string HALF_UP vs
    * multiply-then-round) on digit-boundary values, whereas
    * round-to-integer of the same double is deterministic everywhere
    * (a non-tie double's shortest decimal form sits on the same side
    * of n.5 as its binary value; exact ties break away from zero in
    * both engines). m*k rows per query, made for broadcast. */
  private def pqQueryTable(queries: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, m: Int): DataFrame = {
    queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv"))
      .select(col("query_id"), explode(expr(s"sequence(0, ${m - 1})")).as("sub"),
        col("__qv"))
      .select(col("query_id"), col("sub"),
        expr(subSliceSql("__qv", "sub", m)).as("__qs"))
      .join(broadcast(codebook), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        round(l2sq(col("__qs"), col("centroid")) * 1e9)
          .cast("long").as("__dq"))
  }

  /** Exact-cosine rerank of an ADC shortlist (query_id, neighbor_id,
    * pq_dist): original vectors are fetched for the shortlist only —
    * the only place the full-precision corpus is read at search time. */
  private def pqRerank(shortlist: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val nv = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__nv"))
    val qv = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    shortlist.join(nv, Seq("neighbor_id")).join(broadcast(qv), Seq("query_id"))
      .withColumn("cos", cosine(col("__qv2"), col("__nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        (round(col("cos"), 4) + lit(0.0)).as("cos"), col("rank"),
        (round(col("pq_dist"), 6) + lit(0.0)).as("pq_dist"))
  }

  /** ADC (asymmetric-distance) search over PQ codes + exact rerank —
    * the IVF-PQ search shape: each query precomputes its distance to
    * every (sub, code) centroid (m*k table, broadcast), a candidate's
    * approximate distance is the SUM of m table lookups over its codes
    * (never touching the original vectors), the `rerank` closest by
    * approximate distance are re-scored with exact cosine, and top-k
    * of those is returned. Per-lookup distances quantize to integer
    * nano-units before the sum, so the m-term accumulation is exact
    * integer arithmetic — identical across partitionings and engines
    * (a raw double sum would tie-break rankings differently per run).
    * At scale: codes are the only per-vector state the search reads;
    * the original vectors are fetched just for the rerank shortlist. */
  def pqTopK(corpus: DataFrame, codebook: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int = 5, m: Int = 8,
      rerank: Int = 32): DataFrame = {
    val cand = pqEncode(corpus, codebook, idCol, vecCol, m)
      .select(col(idCol).as("neighbor_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
    val qtab = pqQueryTable(queries, codebook, idCol, vecCol, m)
    // every (sub, code) exists in qtab, so each (query, neighbor)
    // group aggregates exactly m lookup rows; the shortlist ranks on
    // the exact integer nano-unit sum, pq_dist divides once at the end
    val approx = cand.join(broadcast(qtab), Seq("sub", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__dq")).as("__ds"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("__ds").asc, col("neighbor_id").asc)
    val shortlist = approx.withColumn("__ar", row_number().over(wA))
      .filter(col("__ar") <= rerank)
      .select(col("query_id"), col("neighbor_id"),
        // 6-dp output rounding done in INTEGER arithmetic (half-up on
        // the nano sum), then one exact division — a double round(x, 6)
        // diverges between engines when the nano sum ends in ...500
        (expr("(__ds + 500) div 1000") / 1e6).as("pq_dist"))
    pqRerank(shortlist, corpus, queries, idCol, vecCol, k)
  }

  /** IVF-PQ — the composition that holds at 10⁹+ vectors (the FAISS
    * IndexIVFPQ shape). [[pqTopK]] is FLAT ADC: every encoded vector
    * is scored for every query, |corpus|×|queries| groups by
    * construction. Here the ADC join is PRUNED by the IVF assignment:
    * a query probes its `nProbe` nearest centroids' cells and
    * ADC-scores only vectors assigned to those cells, so per-query
    * work is ~|corpus|·nProbe/nCells code lookups instead of |corpus|.
    * `assigned` is the [[assignCells]]/[[ivfIndex]] output (vectors +
    * `cell`); codes encode raw subvectors per cell (residual encoding
    * — subtract the cell centroid before [[pqEncode]] — drops in with
    * the same shape). Original vectors are fetched only for the exact
    * rerank of the `rerank`-deep shortlist. At scale the encoded
    * (id, cell, codes) index is written once and probed many times. */
  /** @param rerankCorpus optional override for the frame the exact
    *   rerank fetches original vectors from (joined by `idCol` only —
    *   `cell` is never read). Default = `assigned`, which is correct
    *   but RE-RUNS the whole argmax-cosine assignment aggregation just
    *   to fetch vectors when `assigned` is a derived plan rather than a
    *   materialized index; pass the raw corpus frame to skip that pass.
    *   Result-identical for any superset of `assigned`'s rows carrying
    *   the same (id, vector) pairs: the rerank join is driven by the
    *   shortlist ids, which all lie in `assigned`. */
  def ivfPqTopK(assigned: DataFrame, centroids: DataFrame, codebook: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int = 5,
      m: Int = 8, nProbe: Int = 4, rerank: Int = 32,
      rerankCorpus: DataFrame = null): DataFrame =
    ivfPqRankEncoded(
      pqEncode(assigned, codebook, idCol, vecCol, m, carry = Seq("cell")),
      probeSet(centroids, queries, idCol, vecCol, nProbe)
        .select(col("query_id"), col("cell")),
      Option(rerankCorpus).getOrElse(assigned),
      codebook, queries, idCol, vecCol, k, m, rerank)

  /** The ADC-score + shortlist + exact-rerank tail of [[ivfPqTopK]]
    * from an ALREADY-ENCODED candidate frame (`withCodes`: idCol,
    * `cell`, `codes`) and an already-selected probe list ((query_id,
    * cell) pairs) — so [[IncrementalAnn.topKPq]], whose standing
    * index STORES the codes, searches without re-encoding the corpus.
    * `rerankCorpus` supplies the original vectors for the exact
    * rerank; the pruned index suffices (every shortlist member lies in
    * a probed cell). */
  private[graft] def ivfPqRankEncoded(withCodes: DataFrame,
      probes: DataFrame, rerankCorpus: DataFrame, codebook: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int, m: Int,
      rerank: Int): DataFrame = {
    val cand = withCodes
      .select(col(idCol).as("neighbor_id"), col("cell"),
        posexplode(col("codes")).as(Seq("sub", "code")))
    val qtab = pqQueryTable(queries, codebook, idCol, vecCol, m)
    // cell pruning FIRST (broadcast probe list) — vectors outside every
    // probed cell never reach the ADC lookup; each surviving
    // (query, neighbor) group then aggregates exactly m rows
    val approx = cand.join(broadcast(probes), Seq("cell"))
      .join(broadcast(qtab), Seq("query_id", "sub", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__dq")).as("__ds"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("__ds").asc, col("neighbor_id").asc)
    val shortlist = approx.withColumn("__ar", row_number().over(wA))
      .filter(col("__ar") <= rerank)
      .select(col("query_id"), col("neighbor_id"),
        // 6-dp output rounding done in INTEGER arithmetic (half-up on
        // the nano sum), then one exact division — a double round(x, 6)
        // diverges between engines when the nano sum ends in ...500
        (expr("(__ds + 500) div 1000") / 1e6).as("pq_dist"))
    pqRerank(shortlist, rerankCorpus, queries, idCol, vecCol, k)
  }

  /** Residual-encoded IVF-PQ — the full FAISS IndexIVFPQ recipe:
    * instead of quantizing raw vectors with one global codebook
    * ([[ivfPqTopK]]), each vector is quantized RELATIVE to its cell
    * centroid (`v - c(cell)`). Residuals concentrate near the origin
    * with far less spread than raw vectors, so the same code budget
    * quantizes finer — the standard recall-per-byte win. The codebook
    * is seeded from the residual corpus itself (same deterministic
    * md5-order sample as [[pqCodebook]]).
    *
    * The ADC table becomes per-(query, probed cell): the query's own
    * residual against each probed centroid, m·k entries each — the
    * probe list is folded INTO the lookup table, so the candidate
    * side needs one broadcast hash join on (cell, sub, code) and the
    * encoded corpus never shuffles. Broadcast size is
    * |queries|·nProbe·m·k rows; for huge query batches swap the
    * broadcast for a shuffle join on `cell` — same plan shape.
    *
    * Scale posture matches [[ivfPqTopK]] (per-query work is
    * ~|corpus|·nProbe/nCells code lookups), with the residual
    * codebook buying recall at identical cost. Measured on the hard
    * near-uniform fixture: 0.752 vs 0.744 recall@10 at nProbe=8/16 —
    * modest because the seeded-sample codebook (kept for
    * oracle-exactness) can't exploit the tightened residual
    * distribution the way per-subspace k-means would; the residual
    * structure is where a trained codebook's win comes from.
    * AnnRecallSpec pins the floor and the does-not-lose-to-raw
    * ordering. */
  /** @param rerankCorpus optional vector source for the exact rerank —
    *   see [[ivfPqTopK]]'s doc; default = `assigned` (correct, but
    *   recomputes the assignment aggregation when `assigned` is a
    *   derived plan). STRICTER contract than [[ivfPqTopK]]'s: when
    *   `trainIters == 0` this frame also supplies the codebook SEED
    *   ids, so it must carry exactly `assigned`'s id set (the raw
    *   corpus the registered queries pass), not a superset. */
  def ivfPqResidualTopK(assigned: DataFrame, centroids: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int = 5,
      m: Int = 8, kCodes: Int = 16, nProbe: Int = 4, rerank: Int = 32,
      salt: String = "pqres", trainIters: Int = 0,
      rerankCorpus: DataFrame = null): DataFrame = {
    val resid = assigned
      .join(broadcast(centroids), Seq("cell"))
      .withColumn("__rv",
        zip_with(asDouble(col(vecCol)), col("centroid"), (x, c) => x - c))
      .select(col(idCol), col("cell"), col("__rv"))
    // trainIters > 0: Lloyd-refine the residual codebook too — the
    // full trained IndexIVFPQ (registered, oracle-replayed, as
    // q_sim_topk_ivfpq_trained; q_sim_topk_ivfpq_res keeps the seeded
    // book as the baseline)
    val cb =
      if (trainIters > 0)
        pqCodebookTrained(resid, idCol, "__rv", m, kCodes, trainIters, salt)
      else Option(rerankCorpus).map { rc =>
        // The seeded codebook's seed PICK depends only on ids
        // (md5(salt:id) order), not on the residual values — so when
        // the raw corpus frame is available, select the kCodes seed
        // ids from IT, then assign + residual-encode ONLY those rows
        // (kCodes x nCells cosines) and hand pqCodebook the tiny
        // frame. The default path feeds pqCodebook the full residual
        // frame, whose TakeOrdered seed scan re-runs the whole
        // argmax-cosine assignment — a full corpus pass per search
        // call for 16 rows of output (and pqCodebookTrained keeps
        // that full pass: Lloyd genuinely iterates over every
        // residual). Identical codebook: the top-kCodes by
        // (md5 hash, id-string) over the same id set, and the
        // restricted frame preserves that order among its kCodes
        // rows. Requires rerankCorpus to carry EXACTLY the assigned
        // id set (true for the raw corpus the registered queries
        // pass; a strict superset would change the seed pick).
        val ids = rc
          .select(col(idCol), col(idCol).cast("string").as("__sid"))
          .withColumn("__h",
            Dedup.md5Hash32(concat(lit(s"$salt:"), col("__sid"))))
          .orderBy(col("__h").asc, col("__sid").asc)
          .limit(kCodes)
          .select(col(idCol))
        val seedResid =
          assignCells(rc.join(broadcast(ids), Seq(idCol), "left_semi"),
            centroids, idCol, vecCol)
          .join(broadcast(centroids), Seq("cell"))
          .withColumn("__rv",
            zip_with(asDouble(col(vecCol)), col("centroid"), (x, c) => x - c))
          .select(col(idCol), col("__rv"))
        pqCodebook(seedResid, idCol, "__rv", m, kCodes, salt)
      }.getOrElse(pqCodebook(resid, idCol, "__rv", m, kCodes, salt))
    val cand = pqEncode(resid, cb, idCol, "__rv", m, carry = Seq("cell"))
      .select(col(idCol).as("neighbor_id"), col("cell"),
        posexplode(col("codes")).as(Seq("sub", "code")))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist").asc, col("cell").asc)
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cdist", -cosine(col("qv"), col("centroid")))
      .withColumn("prank", row_number().over(probeW))
      .filter(col("prank") <= nProbe)
      .select(col("query_id"), col("cell"), col("qv"), col("centroid"))
    val qres = probes
      .withColumn("__qr", zip_with(col("qv"), col("centroid"), (x, c) => x - c))
      .select(col("query_id"), col("cell"),
        explode(expr(s"sequence(0, ${m - 1})")).as("sub"), col("__qr"))
      .select(col("query_id"), col("cell"), col("sub"),
        expr(subSliceSql("__qr", "sub", m)).as("__qs"))
      .join(broadcast(cb), Seq("sub"))
      .select(col("query_id"), col("cell"), col("sub"), col("code"),
        round(l2sq(col("__qs"), col("centroid")) * 1e9)
          .cast("long").as("__dq"))
    val approx = cand.join(broadcast(qres), Seq("cell", "sub", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__dq")).as("__ds"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("__ds").asc, col("neighbor_id").asc)
    val shortlist = approx.withColumn("__ar", row_number().over(wA))
      .filter(col("__ar") <= rerank)
      .select(col("query_id"), col("neighbor_id"),
        // 6-dp output rounding done in INTEGER arithmetic (half-up on
        // the nano sum), then one exact division — a double round(x, 6)
        // diverges between engines when the nano sum ends in ...500
        (expr("(__ds + 500) div 1000") / 1e6).as("pq_dist"))
    pqRerank(shortlist, Option(rerankCorpus).getOrElse(assigned),
      queries, idCol, vecCol, k)
  }

  /** Per-group embedding centroids in LONG form (group, dimension,
    * value) — the k-means update step / class-prototype primitive.
    * Element values quantize to integer micro-units before the sum, so
    * the per-dimension mean is exact integer arithmetic divided ONCE:
    * independent of partial-aggregation order (a raw double sum
    * drifts with partitioning) and reproducible across engines. One
    * shuffle on (group, dim); rows x dims intermediate, map-side
    * combined. */
  def centroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(asDouble(col(vecCol))).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(round(col("v") * 1e6).cast("long")).as("s"),
        count(lit(1)).as("n"))
      // 6-dp mean in integer arithmetic (see pqCodebookTrained) — a
      // double round(s/n/1e6, 6) is engine-divergent on boundaries
      .select(col("label"), col("pos"),
        (expr("if(s >= 0, (2*s + n) div (2*n), -((-2*s + n) div (2*n)))")
          / 1e6).as("centroid_val"))
}
