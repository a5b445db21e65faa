package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * All hashing is md5-prefix based (`md5` is available in every engine
  * and deterministic across machines, unlike JVM `hashCode` or
  * engine-specific hash functions) so results are reproducible and
  * oracle-checkable. At 100 TB:
  *
  *   - exact dedup is one hash-shuffle on the fingerprint;
  *   - MinHash-LSH shuffles (band, key) pairs — rows x bands — then
  *     self-joins only within buckets, never all-pairs;
  *   - SimHash emits one 16-bit signature per doc; the pair join is on
  *     signature bands (here: window over signature order);
  *   - candidate verification re-joins the shingle sets only for
  *     candidate pairs (a tiny fraction of the corpus).
  */
object Dedup {

  /** 2^31 - 1, the classic MinHash modulus prime. */
  val MinHashPrime: Long = 2147483647L

  /** Fixed (a, b) coefficient pairs for the first 8 permutation hashes
    * (kept verbatim so signatures produced before the family was
    * generalized remain bit-identical). */
  val MinHashCoeffs: Seq[(Long, Long)] = Seq(
    (1103L, 12289L), (1999L, 52361L), (3491L, 77377L), (4723L, 104729L),
    (6101L, 130363L), (7919L, 155893L), (9533L, 181081L), (11087L, 207013L),
  )

  /** splitmix64 finalizer — a public-domain bijective mixer; pure
    * integer arithmetic, identical on every platform. */
  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** (a, b) coefficient pairs for a K-permutation MinHash family, any
    * K — the first 8 are the historical fixed constants (existing
    * signatures stay stable), the rest come from a seeded splitmix64
    * stream reduced into the prime field, so k=64 or k=128 (the
    * production LSH range) works without silent truncation. All
    * coefficients are < 2^31, so `h * a + b` on a 32-bit `h` stays
    * below 2^63 — no Long overflow in either engine. */
  def minHashCoeffs(k: Int): Seq[(Long, Long)] = {
    require(k >= 1, "k must be >= 1")
    MinHashCoeffs.take(k) ++ (MinHashCoeffs.size until k).map { i =>
      val a = java.lang.Long.remainderUnsigned(
        splitmix64(2L * i), MinHashPrime - 1) + 1 // a in [1, prime)
      val b = java.lang.Long.remainderUnsigned(
        splitmix64(2L * i + 1), MinHashPrime) // b in [0, prime)
      (a, b)
    }
  }

  /** 32-bit integer hash of a string via md5 prefix — reproducible in
    * any SQL engine as `('0x' || substr(md5(s),1,8))::BIGINT`. */
  def md5Hash32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** Case-folded, whitespace-normalized word array (double spaces must
    * not create empty tokens — they would silently split shingle sets
    * of visually-identical texts). */
  def words(text: Column): Column =
    split(trim(regexp_replace(lower(text), "\\s+", " ")), " ")

  /** n-gram shingles (distinct) from an ALREADY-MATERIALIZED words
    * array column. `ws` must be a bound attribute, not the `words(...)`
    * expression inline: expressions captured by a `transform` lambda
    * are re-evaluated per element access, which turns the split+regex
    * into O(words^2) work per document (measured 3 ms/doc -> 40x
    * slowdown at sf0.1 before this split). */
  def shinglesFromWords(ws: Column, n: Int = 3): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(size(ws) - n, lit(0))),
      i => concat_ws(" ", (0 until n).map(j => element_at(ws, i + j + 1)): _*)))

  /** Per-doc shingle sets: (id, s) with the words array materialized
    * between projections. */
  def shingleSets(df: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame =
    // Fan.out: the shingle+md5 projection is the family's dominant
    // cost and fuses into the scan stage — on the single-split bench
    // files that stage is one task (tools/ScanFanout@3a89fdd: 2x after the
    // fan-out; identity when the scan already arrives in many splits)
    Fan.out(df.select(col(idCol).as("id"), col(textCol).as("__t")))
      .select(col("id"), words(col("__t")).as("__ws"))
      .select(col("id"), shinglesFromWords(col("__ws"), n).as("s"))

  /** Single-Column shingle expression — convenient, but O(words^2) per
    * row (see [[shinglesFromWords]]); use [[shingleSets]] in pipelines. */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromWords(words(text), n)

  /** Exact dedup: group identical normalized texts, keep the smallest
    * id as canonical. One shuffle on the 32-hex fingerprint (never on
    * the full text — at 100 TB the shuffle key must be small). */
  def exactDedupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Per-doc exploded shingle hashes: (id, h). explode_outer, not
    * explode: plain explode makes the optimizer infer a `size(s) > 0`
    * filter and push it below the projections with the whole shingle
    * expression re-inlined — the O(words^2) form this module exists to
    * avoid. The arrays are never empty (greatest(...) keeps >= 1
    * gram), so the outer variant is value-identical. */
  def shingleHashes(df: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame =
    shingleSets(df, textCol, idCol, n)
      .select(col("id"), explode_outer(col("s")).as("g"))
      .select(col("id"), md5Hash32(col("g")).as("h"))

  /** K-column MinHash signature per doc — any K (coefficients are
    * generated, never truncated; see [[minHashCoeffs]]). */
  def minHashSignature(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, n: Int = 3): DataFrame = {
    val hashes = shingleHashes(df, textCol, idCol, n)
    val aggs = minHashCoeffs(k).zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % MinHashPrime).as(s"m$i")
    }
    hashes.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Banded LSH buckets (id, band, key) for a table — the shared index
    * shape behind the self-join and cross-corpus candidate finders (and
    * the row format of [[IncrementalDedup]]'s standing index table). */
  private[operators] def bandedBuckets(df: DataFrame, textCol: String,
      idCol: String, k: Int, bands: Int, n: Int): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rowsPerBand = k / bands
    val sig = minHashSignature(df, textCol, idCol, k, n)
    val bandKeys = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("-", (0 until rowsPerBand)
          .map(r => col(s"m${b * rowsPerBand + r}")): _*).as("key"))
    }
    sig.select(col("id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** LSH candidate pairs: docs sharing any band of the signature.
    * bands x rowsPerBand must equal k. Pairs are distinct, id1 < id2. */
  def minHashCandidates(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, bands: Int = 4, n: Int = 3): DataFrame = {
    val buckets = bandedBuckets(df, textCol, idCol, k, bands, n)
    val l = buckets.as("l")
    val r = buckets.as("r")
    // No join-strategy hint, DELIBERATELY (r12, measured): at toy
    // scale the planner broadcasts one side and the streamed side
    // re-runs the signature subtree — but forcing sort-merge (tried)
    // traded that cheap recompute for 3 extra AQE stage barriers and
    // measured 1.4x SLOWER at sf0.1 (k=8). At real scale the size
    // estimate exceeds the broadcast threshold and the planner picks
    // the SMJ-with-reused-Exchange shape on its own (verified: the
    // hinted final plan showed ReusedExchange under both sides), so
    // the estimate-driven choice is already right at BOTH scales.
    l.join(r,
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"))
      .distinct()
  }

  /** Cross-corpus NEAR-dup candidates: incoming docs sharing any
    * signature band with an EXISTING doc — the incremental-ingest twin
    * of [[minHashCandidates]] (and the near-dup generalization of
    * [[crossCorpusDups]], which only catches byte-identical text).
    * Output: (id1 = incoming id, id2 = existing id), distinct. At
    * 100 TB the existing side's banded buckets are the precomputed LSH
    * index (bands x corpus rows, built once, appended per ingest); the
    * incoming batch joins against it by (band, key) — fully blocked,
    * never corpus x batch. */
  def minHashCandidatesCross(incoming: DataFrame, existing: DataFrame,
      textCol: String, idCol: String,
      k: Int = 8, bands: Int = 4, n: Int = 3): DataFrame = {
    val l = bandedBuckets(incoming, textCol, idCol, k, bands, n).as("l")
    val r = bandedBuckets(existing, textCol, idCol, k, bands, n).as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.key") === col("r.key"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"))
      .distinct()
  }

  /** Cross-corpus near-dup detection end to end: banded candidates +
    * exact-Jaccard verification above `threshold`. Ids must be unique
    * ACROSS the two tables (the verify join resolves shingle sets from
    * their union). */
  def nearDupsCross(incoming: DataFrame, existing: DataFrame,
      textCol: String, idCol: String, threshold: Double = 0.7,
      k: Int = 8, bands: Int = 4, n: Int = 3): DataFrame = {
    val pairs = minHashCandidatesCross(incoming, existing, textCol, idCol, k, bands, n)
    val union = incoming.select(col(idCol), col(textCol))
      .unionByName(existing.select(col(idCol), col(textCol)))
    jaccardForPairs(pairs, union, textCol, idCol, n,
        verifyJoin = Some("auto"))
      .filter(col("jaccard") >= threshold)
  }

  /** Shared pair-verification scaffolding: attach both sides' shingle
    * sets (+ sizes) to candidate pairs and compute the intersection
    * size — the blocked shape every set-overlap metric shares (shingle
    * sets join only for candidates, never all-pairs). Output columns:
    * id1, id2, sz1, sz2, inter. */
  private def pairOverlap(pairs: DataFrame, df: DataFrame, textCol: String,
      idCol: String, n: Int, verifyJoin: Option[String]): DataFrame = {
    val sets = shingleSets(df, textCol, idCol, n)
      .select(col("id"), col("s"), size(col("s")).as("sz"))
    // Join strategy: explicit `verifyJoin` (the callsite default) >
    // size-adaptive default (below).
    //  - "merge": sort-merge puts hashpartitioning(id) Exchanges under
    //    both `sets` sides; they canonicalize identically, so exchange
    //    reuse computes the shingle sets ONCE and avoids broadcasting
    //    the whole corpus's shingle arrays (the 8 GB-cap hazard at
    //    scale). Only the candidate pairs (plus one side's attached
    //    set per hop) shuffle — candidates ≪ corpus.
    //  - "auto": leave the choice to the planner's size estimates.
    // The right mode depends on the PAIRS side and the corpus size
    // (measured, tools/DedupHintCompare@3a89fdd — interleaved, order-rotated
    // per round — at sf0.1 and 10x docs, re-measured after the
    // shingle Fan.out landed):
    //  - minhash-derived pairs: merge's extra pair-side sorts + AQE
    //    stage barriers LOSE at both scales (sf0.1 auto 0.96 vs merge
    //    1.21; 10x docs 1.93 vs 2.42) — those callers pass "auto".
    //  - cheap external pairs (adjacent-id projections): with the
    //    shingle pass fanned out, auto (broadcast sets, recompute
    //    twice in parallel) wins 2x at sf0.1 (0.26 vs 0.51) but merge
    //    wins once the corpus outgrows a broadcast (10x docs 0.95 vs
    //    1.07, and at real scale the corpus-sized shingle-array
    //    broadcast is the 8 GB-cap hazard the hint exists for). The
    //    default is therefore SIZE-ADAPTIVE: auto while the corpus
    //    table's plan-time size estimate fits the session's broadcast
    //    threshold, merge beyond it.
    val mode = verifyJoin.getOrElse {
      val thresh = scala.util.Try(
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          df.sparkSession.conf
            .get("spark.sql.autoBroadcastJoinThreshold", "10MB")))
        .getOrElse(10L << 20)
      val corpusBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (thresh > 0 && corpusBytes <= thresh) "auto" else "merge"
    }
    def strat(d: DataFrame) = if (mode == "merge") d.hint("merge") else d
    pairs
      .join(strat(sets.select(col("id").as("id1"), col("s").as("s1"),
        col("sz").as("sz1"))), "id1")
      .join(strat(sets.select(col("id").as("id2"), col("s").as("s2"),
        col("sz").as("sz2"))), "id2")
      .withColumn("inter", size(array_intersect(col("s1"), col("s2"))))
  }

  /** Exact n-gram Jaccard for given candidate pairs (id1, id2).
    * @param verifyJoin set-attach join strategy ("merge"/"auto") — see
    *   [[pairOverlap]]; pass Some("auto") when `pairs` is itself an
    *   expensive plan (e.g. LSH candidates). */
  def jaccardForPairs(pairs: DataFrame, df: DataFrame, textCol: String,
      idCol: String, n: Int = 3,
      verifyJoin: Option[String] = None): DataFrame =
    pairOverlap(pairs, df, textCol, idCol, n, verifyJoin)
      .select(col("id1"), col("id2"),
        round(col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")), 6).as("jaccard"))

  /** Asymmetric CONTAINMENT for candidate pairs: |A ∩ B| / |A| and
    * / |B| — near-1.0 containment with low Jaccard is the
    * quoted/wrapped-copy case (one doc embedded in a larger one) that
    * symmetric Jaccard misses entirely; corpus dedup drops the
    * contained side. Same blocked shape as [[jaccardForPairs]]. */
  def containmentForPairs(pairs: DataFrame, df: DataFrame, textCol: String,
      idCol: String, n: Int = 3,
      verifyJoin: Option[String] = None): DataFrame =
    pairOverlap(pairs, df, textCol, idCol, n, verifyJoin)
      .select(col("id1"), col("id2"),
        round(col("inter").cast("double") / col("sz1"), 6).as("contain_1_in_2"),
        round(col("inter").cast("double") / col("sz2"), 6).as("contain_2_in_1"))

  /** MinHash LSH end to end: candidates + exact-Jaccard verification. */
  def minHashDedup(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.7, k: Int = 8, bands: Int = 4, n: Int = 3): DataFrame =
    jaccardForPairs(minHashCandidates(df, textCol, idCol, k, bands, n),
      df, textCol, idCol, n, verifyJoin = Some("auto"))
      .filter(col("jaccard") >= threshold)

  /** 16-bit SimHash signature: per bit, the sign of the sum of +/-1
    * votes from each shingle hash. Integer arithmetic end to end. */
  def simHash(df: DataFrame, textCol: String, idCol: String,
      bits: Int = 16, n: Int = 3): DataFrame = {
    val hashes = shingleHashes(df, textCol, idCol, n)
    val bitSums = (0 until bits).map { j =>
      sum(shiftright(col("h"), j) % 2 * 2 - 1).as(s"b$j")
    }
    val summed = hashes.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map { j =>
      when(col(s"b$j") >= 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    summed.select(col("id"), sig.as("simhash"))
  }

  /** Embedding-cosine near-duplicate pairs: random-hyperplane LSH
    * buckets block the pair space, exact cosine filters within each
    * bucket. True near-dups (cosine ~1) agree on almost every
    * projection sign, so they land in the same bucket with high
    * probability; lower `bits` for higher recall. */
  def embeddingDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, bits: Int = 8): DataFrame = {
    val b = Similarity.lshBuckets(df, idCol, vecCol, bits)
      .select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"), col("bucket"))
    val l = b.as("l")
    val r = b.as("r")
    // No join-strategy hint (see minHashCandidates): with the fused
    // LshBucketExpr the recomputed bucket column is one codegen loop,
    // cheaper at toy scale than the AQE stage barriers a forced
    // sort-merge adds; at scale the planner picks SMJ+reuse itself.
    l.join(r,
        col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"),
        Similarity.cosine(col("l.v"), col("r.v")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Test-set decontamination: training documents sharing ANY n-gram
    * shingle with the eval/benchmark set, with the count of distinct
    * shared shingles. The eval side reduces to a DISTINCT set of
    * 32-bit shingle hashes — small enough to broadcast even for large
    * benchmark suites, so the corpus is never shuffled; at 100 TB this
    * is one scan + one broadcast join + one partial-aggregated count.
    * (Production decontamination uses longer shingles, e.g. 13-grams —
    * `n` is the knob.) */
  def contaminatedDocs(corpus: DataFrame, evalSet: DataFrame, textCol: String,
      idCol: String, n: Int = 3): DataFrame = {
    val corpusHashes = shingleHashes(corpus, textCol, idCol, n)
    val evalHashes = shingleHashes(evalSet, textCol, idCol, n)
      .select(col("h")).distinct()
    corpusHashes.join(broadcast(evalHashes), "h")
      .groupBy(col("id").as(idCol))
      .agg(countDistinct(col("h")).as("n_shared"))
  }

  /** SEMANTIC decontamination: corpus documents whose embedding is a
    * near-duplicate (cosine >= `tau`) of ANY eval-set embedding — the
    * contamination n-gram matching cannot see (paraphrases,
    * translations, templated rewrites). Multi-table random-hyperplane
    * LSH blocks the pair space: both sides bucket under `tables`
    * independent hyperplane families, candidates are bucket
    * collisions in ANY table (recall amplification, exactly the
    * [[Similarity.lshTopK]] trick), then exact cosine verifies.
    * Returns one row per flagged corpus doc: (id, max_cos, n_matches).
    * Anti-join the result to keep the clean remainder.
    *
    * At 100 TB: the eval side (a benchmark suite — thousands of
    * vectors, not billions) broadcasts with its buckets precomputed;
    * the corpus computes buckets scan-locally and broadcast-joins on
    * (table, bucket) — the corpus never shuffles, and only
    * bucket-colliding pairs reach the cosine. */
  def embeddingDecontaminate(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, vecCol: String, tau: Double, bits: Int = 4,
      tables: Int = 2): DataFrame = {
    def buckets(df: DataFrame, outId: String, outVec: String): DataFrame =
      (0 until tables).map { t =>
        df.select(col(idCol).as(outId),
          col(vecCol).cast("array<double>").as(outVec),
          lit(t).as("tbl"),
          Similarity.lshBucket(col(vecCol), bits, t).as("bucket"))
      }.reduce(_ union _)
    buckets(corpus, "cid", "cv")
      .join(broadcast(buckets(evalSet, "eid", "ev")), Seq("tbl", "bucket"))
      .select(col("cid"), col("eid"),
        Similarity.cosine(col("cv"), col("ev")).as("cos"))
      .filter(col("cos") >= tau)
      .groupBy(col("cid").as(idCol))
      .agg(max(col("cos")).as("max_cos"),
        countDistinct(col("eid")).as("n_matches"))
  }

  /** Cross-corpus exact dedup: which INCOMING documents duplicate a
    * document already in the existing corpus (by normalized-text
    * fingerprint). The incremental-ingest shape: the existing side
    * reduces to a distinct fingerprint set joined as a left-semi
    * (duplicates) — at 100 TB the incoming batch is the small side
    * and only 32-hex fingerprints ever shuffle, never text. Keep the
    * complement (left-anti) as the rows to append. */
  def crossCorpusDups(incoming: DataFrame, existing: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val seen = existing.select(fp.as("__fp")).distinct()
    incoming.withColumn("__fp", fp)
      .join(seen, Seq("__fp"), "left_semi")
      .select(col(idCol), col("__fp").as("fingerprint"))
  }

  /** Graded contamination score: for EVERY corpus document, the
    * fraction of its distinct n-gram shingles that appear in the eval
    * set (0.0 = clean, 1.0 = fully contained). [[contaminatedDocs]]
    * answers "which docs overlap at all"; this is the thresholdable
    * variant pipelines use to drop only heavily-contaminated docs.
    * Same 100 TB shape — the eval side collapses to a broadcastable
    * distinct hash set and the corpus aggregates map-side; the LEFT
    * join keeps clean docs (score 0) in the output. */
  def contaminationScores(corpus: DataFrame, evalSet: DataFrame,
      textCol: String, idCol: String, n: Int = 3): DataFrame = {
    val corpusHashes = shingleHashes(corpus, textCol, idCol, n)
      .distinct() // per-doc DISTINCT shingles: repeated grams count once
    val evalHashes = shingleHashes(evalSet, textCol, idCol, n)
      .select(col("h"), lit(1).as("__hit")).distinct()
    corpusHashes.join(broadcast(evalHashes), Seq("h"), "left")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("__hit")).as("n_shared"))
      .withColumn("score",
        round(col("n_shared").cast("double") / col("n_shingles"), 6))
  }

  /** Bloom-filter decontamination PRE-FILTER: flags corpus docs whose
    * shingle set MIGHT overlap the eval set, using a Bloom filter
    * built from the eval shingle hashes. Guarantees NO false negatives
    * (every truly contaminated doc is flagged; false-positive rate
    * `fpp` per probe), so the exact [[contaminatedDocs]] join only
    * needs to run over the flagged slice. The scale rationale: a
    * Bloom filter of 10^8 eval shingles at 1% fpp is ~120 MB — a
    * plain broadcast — while the distinct-hash set it replaces can be
    * 10x that; and the corpus-side check becomes a branch-free bit
    * probe inside the scan. NOTE `fpp` is per PROBE: a doc with k
    * shingles is falsely flagged with probability 1-(1-fpp)^k, so
    * size fpp against the shingles-per-doc count (e.g. 1e-4 for
    * ~100-shingle docs keeps per-doc FP ~1%) — the filter only grows
    * logarithmically in 1/fpp. Uses a Scala UDF deliberately: the sketch
    * is an opaque broadcast object, not a Column-expressible value
    * (same boundary class as the NVD client, not a hot-path
    * expression). Deterministic (fixed hash seed) but
    * implementation-specific, so spec-verified against the exact
    * operator rather than oracle-checked. */
  def bloomDecontaminate(corpus: DataFrame, evalSet: DataFrame,
      textCol: String, idCol: String, n: Int = 3,
      fpp: Double = 1e-4): DataFrame = {
    // persist: sizing (count) and building (bloomFilter) are two
    // actions over the same shingle subtree — without the cache the
    // eval-side tokenize/explode/distinct runs twice
    val evalHashes = shingleHashes(evalSet, textCol, idCol, n)
      .select(col("h")).distinct().persist()
    try {
      val expected = math.max(evalHashes.count(), 1L)
      val bf = evalHashes.stat.bloomFilter("h", expected, fpp)
      // broadcast lifetime = returned DataFrame lifetime: the UDF
      // closure pins it while the plan is referenced, and Spark's
      // ContextCleaner reclaims the blocks once the DataFrame (and
      // with it this handle) is garbage-collected. Callers looping
      // over many eval sets should drop each returned DataFrame
      // after their action so the ~100 MB-class filters are freed.
      val bcast = corpus.sparkSession.sparkContext.broadcast(bf)
      val mightContain = udf((h: Long) => bcast.value.mightContainLong(h))
      shingleHashes(corpus, textCol, idCol, n)
        .filter(mightContain(col("h")))
        .select(col("id").as(idCol)).distinct()
    } finally evalHashes.unpersist(blocking = false)
  }

  /** Connected-component labels over candidate duplicate pairs: every
    * doc gets the MINIMUM id reachable through the pair graph as its
    * cluster id — the step after any pair-finder (MinHash, SimHash,
    * embedding LSH) that turns pairwise matches into dedup groups.
    *
    * Iterative min-label propagation, the Spark-native shape for this
    * (GraphX Pregel does the same loop): each round, every node takes
    * the min of its own label and its neighbors' labels; converges in
    * O(component diameter) rounds. Dup components are short chains in
    * practice, so 2-4 rounds. `localCheckpoint` cuts the growing
    * lineage each round — without it the plan doubles per iteration.
    */
  /** @param rounds 0 (default): loop until convergence — one driver
    *   `isEmpty` action per round plus a `localCheckpoint` lineage cut,
    *   correct for ANY graph. This makes the operator EAGER (it
    *   executes while being composed), which is inherent to iterative
    *   fixpoints on Spark. >0: a declarative plan of exactly `rounds`
    *   steps with NO driver actions — but `labels` feeds each round
    *   twice (join probe + neighbor agg), so the plan DOUBLES per
    *   round; only usable for rounds <= ~4, kept for tests. The eager
    *   form is the production path. */
  def dupClusters(pairs: DataFrame, nodes: DataFrame, idCol: String,
      rounds: Int = 0): DataFrame =
    if (rounds == 0) dupClustersCounted(pairs, nodes, idCol)._1
    else dupClustersImpl(pairs, nodes, idCol, rounds)

  /** Eager min-label propagation with an observable round count — the
    * driver-coordinated convergence loop behind `dupClusters(rounds=0)`.
    * Rounds needed = component diameter (the min label travels one hop
    * per round); see `dupClustersStar` for the O(log n)-round variant
    * that a 100 TB near-dup graph with long chains wants. */
  private[graft] def dupClustersCounted(pairs: DataFrame, nodes: DataFrame,
      idCol: String): (DataFrame, Int) = {
    var n = 0
    val labels = dupClustersImpl(pairs, nodes, idCol, 0, () => n += 1)
    (labels, n)
  }

  private def dupClustersImpl(pairs: DataFrame, nodes: DataFrame, idCol: String,
      rounds: Int, onRound: () => Unit = () => ()): DataFrame = {
    // persist (eager path only): the edge set (often an EXPENSIVE
    // subtree — a full MinHash-LSH candidate computation) appears once
    // per round in the eager loop; without the cache each round
    // recomputes it from the raw text. The registration is lazy (no
    // driver action here) — it materializes on the caller's first
    // action, every later round reads cache, and the convergence exit
    // unpersists it. The declarative rounds>0 path does NOT persist:
    // with no driver action inside the operator there is no safe point
    // to unpersist, and the cache would leak in the block manager for
    // the session lifetime (test-only path, <= ~4 rounds anyway).
    val edgePlan = pairs.select(col("id1"), col("id2"))
      .union(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
    val edges = if (rounds > 0) edgePlan else edgePlan.persist()
    def propagate(labels: DataFrame): DataFrame = {
      val neighborMin = edges.join(labels, edges("id1") === labels("id"))
        .groupBy(col("id2").as("id")).agg(min(col("label")).as("nlabel"))
      labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
    }
    var labels = nodes.select(col(idCol).as("id"))
      .distinct().withColumn("label", col("id"))
    if (rounds > 0) {
      (1 to rounds).foreach(_ => labels = propagate(labels))
    } else {
      labels = labels.localCheckpoint()
      var converged = false
      while (!converged) {
        onRound()
        val next = propagate(labels).localCheckpoint()
        converged = next.as("n")
          .join(labels.as("o"), "id")
          .filter(col("n.label") =!= col("o.label"))
          .isEmpty
        labels = next
      }
      // the final labels are checkpointed — they no longer read edges
      edges.unpersist()
    }
    labels.select(col("id").as(idCol), col("label").as("cluster"))
  }

  /** Connected-component cluster labels via alternating
    * large-star/small-star (the standard MapReduce CC construction:
    * Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — converges in O(log n) driver-coordinated rounds where
    * min-label propagation (`dupClusters`) needs O(diameter). On a
    * 100 TB near-dup graph the dup chains (A~B~C~... through
    * boilerplate variants) are exactly the long-diameter case where
    * per-round driver latency dominates.
    *
    *   - large-star: every node attaches its strictly-LARGER neighbors
    *     to the minimum of its closed neighborhood — safe in parallel
    *     because edges only ever move toward smaller ids;
    *   - small-star: every node attaches itself and its smaller
    *     neighbors to that minimum — collapses local chains into stars.
    *
    * Terminates when the per-node LABEL map (min neighbor) converges —
    * provably equivalent to full edge-set stability but often a round
    * or two earlier, since a settled star can still be shedding
    * redundant edges (see the in-loop soundness note). Final labels
    * equal `dupClusters`'s (cluster = min reachable id) and the same
    * recursive-CTE oracle gates both. Each round shuffles only the
    * (canonical-direction) edge list; text/signatures never shuffle. */
  def dupClustersStar(pairs: DataFrame, nodes: DataFrame,
      idCol: String): DataFrame =
    dupClustersStarCounted(pairs, nodes, idCol)._1

  private[graft] def dupClustersStarCounted(pairs: DataFrame, nodes: DataFrame,
      idCol: String): (DataFrame, Int) = {
    // canonical direction (larger -> smaller), self-loops dropped; the
    // localCheckpoint both cuts lineage and materializes the (often
    // expensive — e.g. a full MinHash-LSH candidate pass) pair subtree
    // exactly once
    var edges = pairs
      .select(greatest(col("id1"), col("id2")).as("u"),
        least(col("id1"), col("id2")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    def labelMap(e: DataFrame): DataFrame =
      e.groupBy("u").agg(min(col("v")).as("lbl"))
    var rounds = 0
    var done = edges.isEmpty
    // Early termination on LABEL convergence, not edge-set stability:
    // the edge set can keep shedding redundant links for a round after
    // every node's min-neighbor label has already settled. Sound
    // because (1) a node's label is monotone non-increasing — its edge
    // to old-min w is rewritten to m(w) <= w each round — and (2) if
    // any node u were still mislabeled after a no-change round, the
    // same rewrite through its parent p would have delivered
    // m(p) <= L(p) < L(u) and decreased u's label, a contradiction; a
    // no-change round therefore certifies every parent is a self-rooted
    // component minimum.
    var curLabels = labelMap(edges).localCheckpoint()
    while (!done) {
      rounds += 1
      // large-star over both directions: attach v > u to min(N+(u)).
      // No intermediate distinct — duplicate edges cannot change any
      // min, and the final per-round distinct dedups the output once.
      val nbr = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val minL = nbr.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val afterLarge = nbr.join(minL, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // v > u >= m: canonical
      // small-star on canonical edges: attach the center and all its
      // (smaller) neighbors to the closed-neighborhood min
      val minS = afterLarge.groupBy("u").agg(min(col("v")).as("m"))
      val vEdges = afterLarge.join(minS, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val next = vEdges.union(minS.select(col("u"), col("m").as("v")))
        .distinct().localCheckpoint()
      val nextLabels = labelMap(next).localCheckpoint()
      // full join: a node APPEARING as a non-center (label drops from
      // self) is a change; monotonicity forbids disappearing
      done = nextLabels.as("n")
        .join(curLabels.as("o"), Seq("u"), "full")
        .filter(!(col("n.lbl") <=> col("o.lbl"))).isEmpty
      edges = next
      curLabels = nextLabels
    }
    // converged labels: non-centers carry their min pointer (the map,
    // NOT the raw edge list — pre-stability a node can still hold
    // several edges); centers and isolated nodes label themselves
    val labels = nodes.select(col(idCol).as("id")).distinct()
      .join(curLabels.select(col("u").as("id"), col("lbl")), Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("lbl"), col("id")).as("cluster"))
    (labels, rounds)
  }

  /** Cluster-canonical selection — the ENDPOINT of near-dup dedup: for
    * every dup cluster pick the best-scoring member (highest `scoreCol`,
    * ties broken by smallest id) and map each document to its cluster's
    * canonical representative. Downstream consumers either keep only
    * `is_canonical = 1` rows (the deduplicated corpus) or use the
    * `doc_id -> canonical_id` mapping to redirect references.
    *
    * `labels` is a `dupClusters*` output (`idCol`, `cluster`); `scored`
    * carries (`idCol`, `scoreCol`) — typically
    * [[TextAnalysis.qualityScore]], so dedup keeps the best-quality
    * variant rather than an arbitrary one. At 100 TB the window
    * shuffles (id, cluster, score) triples only; document text never
    * leaves the scan. */
  def canonicalPerCluster(labels: DataFrame, scored: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    labels.join(scored, Seq(idCol))
      .withColumn("canonical_id", first(col(idCol)).over(w))
      .withColumn("is_canonical",
        (col(idCol) === col("canonical_id")).cast("int"))
  }

  /** Exploded character-window hashes: (id, pos, h) for every
    * `k`-char window starting at 1, 1+stride, 1+2*stride, ... —
    * the EXACT-substring analogue of word shingles (the unit behind
    * substring-level dedup/decontamination a la "Deduplicating
    * Training Data": repeated verbatim SPANS matter even when whole
    * documents differ). `stride > 1` trades recall for volume — a
    * duplicated span of length >= k + stride - 1 is still guaranteed
    * to contribute at least one aligned window on one side; pair it
    * with stride 1 on the (small) probe side for exactness. Scan-local
    * generate: rows x windows, each carrying a 32-bit hash, never the
    * text. This is the POSITIONAL (md5) legacy form, kept for
    * offset-reporting callers; the substring operators use the
    * content-defined [[winnowedWindowHashes]] rolling kernel, which is
    * both alignment-free and O(1) per position. */
  def charWindowHashes(df: DataFrame, textCol: String, idCol: String,
      k: Int, stride: Int = 1): DataFrame = {
    require(k >= 1 && stride >= 1, "k and stride must be >= 1")
    val t = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    df.select(col(idCol).as("id"), t.as("__t"))
      .select(col("id"), col("__t"),
        explode_outer(sequence(lit(1),
          greatest(length(col("__t")) - (k - 1), lit(1)), lit(stride))).as("pos"))
      .select(col("id"), col("pos"),
        md5Hash32(col("__t").substr(col("pos"), lit(k))).as("h"))
  }

  /** Content-defined ("0 mod p" / winnowing-style) window selection:
    * hash EVERY `k`-char window and keep those whose hash is ≡ 0
    * (mod `stride`). Selection depends only on window CONTENT, so a
    * span shared verbatim by two documents contributes the identical
    * selected-window set in both, at ANY byte offset — the
    * alignment-free fix for double-strided positional sampling, where
    * two copies of an arbitrarily long span starting at offsets that
    * differ mod `stride` can share ZERO sampled windows.
    *
    * Hashing is the one-pass polynomial rolling kernel
    * ([[graft.functions.WindowHashExpr]]): O(1) arithmetic per
    * position instead of the positional form's O(k) md5 digest +
    * substring allocation + hex parse, and because the winnowing cut
    * happens inside the expression, the explode materializes only the
    * ~1/stride selected hashes. The match hash doubles as the
    * selector; the downstream shuffle carries (id, 32-bit hash) only. */
  def winnowedWindowHashes(df: DataFrame, textCol: String, idCol: String,
      k: Int, stride: Int): DataFrame = {
    require(k >= 1 && stride >= 1, "k and stride must be >= 1")
    // Fan.out tried here and REVERTED (tools/FanCompare@3a89fdd, sf0.1, 4
    // rotated rounds): q_substring_dups 0.97 -> 1.15 med,
    // q_substring_dup_pairs 0.96 -> 1.31, q_decontaminate_substring
    // 0.52 -> 0.82 — the rolling kernel is O(1) per position (unlike
    // the shingle family's md5-per-gram), so shuffling the raw text
    // costs more than the parallelized hashing saves.
    val t = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    df.select(col(idCol).as("id"), t.as("__t"))
      .select(col("id"),
        explode(graft.functions.WindowHashExpr.windowHashes(
          col("__t"), k, stride)).as("h"))
  }

  /** Per-document exact-substring duplication profile: of the doc's
    * sampled `k`-char windows, how many also occur VERBATIM in some
    * OTHER document. High `dup_ratio` with a non-trivial denominator
    * is the boilerplate/licence-block/quoted-copy signal that
    * document-level fingerprints miss. One shuffle on the 32-bit
    * window hash; the per-hash distinct-doc count is map-side
    * combined; text never shuffles.
    *
    * `winnowed = true` (the recommended mode for `stride > 1`) selects
    * windows by content (`winnowedWindowHashes`) instead of absolute
    * position, so shared spans are detected at any alignment; a doc
    * whose windows all miss the selector still appears, with
    * `n_windows = 0` and a null `dup_ratio`.
    *
    * Plan shape: ONE hashing scan (the hashing projection is the
    * dominant cost — the rolling kernel in winnowed mode, the md5
    * chain in positional mode; a self-join formulation would run it
    * twice), then
    * (id, h) pre-aggregation, a window count over h (rows per h after
    * the pre-agg ARE the distinct docs per h), and the per-doc rollup.
    * Everything shuffled is (id, 32-bit hash, count) triples. */
  def substringDupProfile(df: DataFrame, textCol: String, idCol: String,
      k: Int = 40, stride: Int = 1, winnowed: Boolean = false): DataFrame = {
    val hashes =
      if (winnowed) winnowedWindowHashes(df, textCol, idCol, k, stride)
      else charWindowHashes(df, textCol, idCol, k, stride)
    val perDocHash = hashes.groupBy(col("id"), col("h"))
      .agg(count(lit(1)).as("__cnt"))
    // a window value is "shared" when >= 2 distinct docs contain it
    val flagged = perDocHash.withColumn("__docs",
      count(lit(1)).over(Window.partitionBy(col("h"))))
    val prof = flagged.groupBy(col("id"))
      .agg(sum(col("__cnt")).as("__nw"),
        sum(when(col("__docs") >= 2, col("__cnt")).otherwise(0L)).as("__ns"))
    // left join from the distinct doc ids: winnowed selection can leave
    // a (short) doc with zero selected windows, and the profile must
    // still report it rather than silently dropping the row
    df.select(col(idCol)).distinct().as("d")
      .join(prof.as("p"), col("d." + idCol) === col("p.id"), "left")
      .select(col("d." + idCol).as(idCol),
        coalesce(col("__nw"), lit(0L)).as("n_windows"),
        coalesce(col("__ns"), lit(0L)).as("n_shared"))
      .withColumn("dup_ratio",
        when(col("n_windows") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_shared").cast("double") / col("n_windows"), 6)))
  }

  /** Document PAIRS sharing >= `minShared` winnowed `k`-char windows —
    * the actionable output of substring-level dedup ("Deduplicating
    * Training Data"): which documents share verbatim spans, not just
    * how much each is duplicated. Selection is content-defined
    * ([[winnowedWindowHashes]]), so shared spans pair up at any byte
    * offset.
    *
    * Scale shape: candidate pairs are generated per shared hash
    * (a blocked self-join, like LSH bands), and hashes held by more
    * than `maxDf` documents are dropped FIRST — ubiquitous boilerplate
    * windows (licence headers, navigation chrome) would otherwise
    * create |docs|^2 pairs in one bucket; dropping them is the
    * document-frequency stopword cut, and any pair sharing a rare
    * window still surfaces. Shuffles carry (id, hash) pairs only. */
  def substringDupPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 40, stride: Int = 7, minShared: Long = 3,
      maxDf: Long = 50): DataFrame = {
    // document frequency as a window count over the distinct (id, h)
    // set — NOT a separate groupBy branch: this keeps the (expensive)
    // hashing scan in ONE subtree, and because both self-join sides
    // below are the identical plan, ReuseExchange materializes the
    // shuffle once and reads it twice
    val kept = winnowedWindowHashes(df, textCol, idCol, k, stride)
      .select(col("id"), col("h")).distinct()
      .withColumn("__docs", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("__docs") >= 2 && col("__docs") <= maxDf)
      .select(col("id"), col("h"))
    kept.as("a").join(kept.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Substring-level test-set decontamination: training documents that
    * share at least one `k`-char VERBATIM window with any benchmark
    * document — the span-level contamination check of "Deduplicating
    * Training Data" (word-shingle decontamination misses quoted
    * fragments embedded in otherwise-different text).
    *
    * Asymmetric sampling, sized for the asymmetric data: the (huge)
    * training side is winnowed at `stride` (content-defined — a shared
    * span selects the same train windows at any byte offset), the
    * (small) benchmark side hashes EVERY window, so any selected train
    * window inside a shared span is guaranteed present in the eval
    * set. Recall for a shared span of length L is therefore
    * 1 - (1 - 1/stride)^(L-k+1) — ~99.96% for L >= k + 50 at the
    * default stride 7 — and the train side pays 1/stride the shuffle.
    * The eval window set is deduped and broadcast; the corpus never
    * shuffles. */
  def substringContaminated(train: DataFrame, eval: DataFrame,
      textCol: String, idCol: String, k: Int = 40,
      stride: Int = 7): DataFrame = {
    val tr = winnowedWindowHashes(train, textCol, idCol, k, stride)
      .select(col("id"), col("h")).distinct()
    val ev = winnowedWindowHashes(eval, textCol, idCol, k, 1)
      .select(col("h")).distinct()
    tr.join(broadcast(ev), Seq("h"))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Near-dup pairs by SimHash hamming distance <= maxDist, via banded
    * LSH over the signature: the `bits` are cut into `bands` contiguous
    * windows and docs become candidates when ANY window matches
    * exactly. Pigeonhole: with maxDist < bands every pair within
    * hamming <= maxDist agrees on at least one full band, so recall is
    * exact — while each band hashes into 2^(bits/bands) buckets x bands
    * band-slots, instead of one fixed band whose within-bucket
    * self-join grows quadratically at corpus scale. */
  def simHashPairs(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 3, bits: Int = 16, bands: Int = 4, n: Int = 3): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    require(maxDist < bands, "exact recall needs maxDist < bands (pigeonhole)")
    val width = bits / bands
    val mask = (1L << width) - 1
    val bandKeys = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * width).bitwiseAND(lit(mask)).as("key"))
    }
    val sig = simHash(df, textCol, idCol, bits, n)
    val banded = sig.select(col("id"), col("simhash"),
        explode(array(bandKeys: _*)).as("bk"))
      .select(col("id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val l = banded.as("l")
    val r = banded.as("r")
    // No join-strategy hint (see minHashCandidates): estimate-driven
    // broadcast wins at toy scale, SMJ+reused-Exchange at corpus scale
    l.join(r,
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"),
        bit_count(expr("l.simhash ^ r.simhash")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
