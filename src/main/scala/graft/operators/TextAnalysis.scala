package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language ID, fingerprinting. All are pure Column
  * expressions (codegen'd, no UDFs) — at 100 TB these run inside the
  * scan's whole-stage-codegen loop with zero extra passes.
  */
object TextAnalysis {

  /** Whitespace tokenization. The testdata is single-space separated;
    * for real corpora use [[tokensRegex]]. */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish pre-tokenization: words, numbers, or single non-space
    * symbols (a public-knowledge approximation of GPT-style regex
    * pre-tokenizers). */
  def tokensRegex(text: Column): Column =
    call_function("regexp_extract_all", text,
      lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** English-ish stopword set used by the quality heuristics. */
  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  def stopwordHits(text: Column): Column =
    size(filter(tokens(text), w => w.isin(stopwords.map(_.asInstanceOf[Any]): _*)))

  /** Heuristic quality score in [0,1]: length-normalized word count
    * damped by stopword density — the standard cheap pre-filter shape
    * for web-scale corpus cleaning (length/punct/stopword ratios). */
  def qualityScore(text: Column): Column = {
    val nWords = tokenCount(text).cast("double")
    val stopRatio = stopwordHits(text).cast("double") / nWords
    round(least(lit(1.0), nWords / lit(50.0)) * (lit(1.0) - stopRatio), 6)
  }

  /** Marker-word language ID: score each language by marker hits, pick
    * the best scorer, "und" (undetermined) when nothing matches. An
    * n-gram-profile version would replace the marker sets; the operator
    * shape (per-language hit counts -> argmax) is the same. */
  val languageMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "la", "los", "que"),
    "fr" -> Seq("le", "les", "des", "une"),
  )

  /** Per-language marker-hit counts from a token-array column, in
    * deterministic (alphabetical) language order. Pass a MATERIALIZED
    * attribute when scoring several languages over the same text: an
    * inline `tokens(text)` argument is re-evaluated by every
    * language's `filter` (one split per language per row), while an
    * attribute tokenizes once. */
  def languageHits(toks: Column): Seq[(String, Column)] =
    languageMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      lang -> size(filter(toks, w => w.isin(markers.map(_.asInstanceOf[Any]): _*)))
    }

  /** The argmax fold of [[langId]] over already-computed per-language
    * hit counts: strictly-greater keeps the alphabetically-first
    * language on ties (deterministic); zero hits everywhere = 'und'.
    * Feed it ATTRIBUTE columns (see [[languageHits]]) so the fold's
    * repeated references re-read a computed value instead of
    * re-evaluating a filter expression. */
  def langIdFromHits(scores: Seq[(String, Column)]): Column = {
    val best = scores.tail.foldLeft((lit(scores.head._1), scores.head._2)) {
      case ((bestLang, bestScore), (lang, score)) =>
        (when(score > bestScore, lit(lang)).otherwise(bestLang),
          when(score > bestScore, score).otherwise(bestScore))
    }
    when(best._2 > 0, best._1).otherwise(lit("und"))
  }

  def langId(text: Column): Column = langIdFromHits(languageHits(tokens(text)))

  /** Document fingerprint: md5 of case-folded, whitespace-collapsed
    * text. Rolling/shingled hashing lives in [[Dedup.shingles]]. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Repetition ratio in [0,1]: the fraction of a document's 3-gram
    * shingles that are duplicates of an earlier shingle (0 = no
    * repetition). The standard cheap detector for boilerplate/spam
    * loops in web-scale corpus cleaning. `ws` must be a materialized
    * words-array attribute (see [[Dedup.shinglesFromWords]]). */
  def repetitionRatio(ws: Column, n: Int = 3): Column = {
    val total = greatest(size(ws) - (n - 1), lit(1)).cast("double")
    val distinctN = size(Dedup.shinglesFromWords(ws, n)).cast("double")
    round(lit(1.0) - distinctN / total, 6)
  }

  /** Punctuation density: non-alphanumeric-non-space chars / length. */
  def punctRatio(text: Column): Column =
    round(size(call_function("regexp_extract_all", text,
      lit("[^a-zA-Z0-9\\s]"), lit(0))).cast("double") /
      greatest(length(text), lit(1)), 6)

  /** Deterministic hash-bucketed train/val/test assignment: the split
    * is a pure function of the document id (stable across runs,
    * machines, and partitionings — re-ingesting the corpus never moves
    * a document across the split boundary, which would leak training
    * data into eval). md5-derived bucket in [0, 100): [0, trainPct)
    * train, [trainPct, trainPct+valPct) val, rest test. */
  def assignSplit(id: Column, trainPct: Int = 80, valPct: Int = 10): Column = {
    val bucket =
      Dedup.md5Hash32(concat(lit("split:"), id.cast("string"))) % 100
    when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** PII patterns, restricted to the regex subset shared by Java
    * (Spark) and RE2 (DuckDB/Go scrubbers): no backrefs, no lookaround
    * — so the same pattern text is portable across the stack. */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val NumberRe = "\\d+"

  /** PII redaction: emails, then IPv4s, then phone-shaped numbers (the
    * order matters — emails may contain digit runs, IPs would otherwise
    * be half-eaten by the phone pattern). Pure codegen'd
    * `regexp_replace` chain: at 100 TB this is a per-row scan-local
    * rewrite, no shuffle, no UDF. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Number scrubbing (aggressive variant for numeric-id leakage). */
  def redactNumbers(text: Column): Column =
    regexp_replace(text, NumberRe, "<NUM>")

  /** HTML/markup stripping for crawled corpora: drop script/style
    * blocks wholesale (their CONTENT is code, not text), comments,
    * then all remaining tags; unescape the common entities; collapse
    * whitespace. Patterns avoid backrefs/lookaround so the identical
    * semantics are expressible in RE2 engines (DuckDB oracle, Go
    * scrubbers) — same portability contract as the PII patterns.
    * Pure codegen'd regexp_replace chain: scan-local, no shuffle. */
  def stripHtml(text: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(text, "(?is)<script[^>]*>.*?</script>", " "),
      "(?is)<style[^>]*>.*?</style>", " ")
    val noComments = regexp_replace(noBlocks, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComments, "<[^>]+>", " ")
    val unescaped = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&",
    ).foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    trim(regexp_replace(unescaped, "\\s+", " "))
  }

  def matchCount(text: Column, pattern: String): Column =
    size(call_function("regexp_extract_all", text, lit(pattern), lit(0)))

  /** Corpus-level boilerplate removal (the C4 / RefinedWeb cleaning
    * step): segments occurring verbatim in >= `minDocs` DISTINCT
    * documents are dropped from every document, and each document is
    * reassembled with its surviving segments in original order.
    * Navigation chrome, licence headers, and cookie banners repeat
    * across a crawl; within-doc signals cannot see that — the cut is
    * corpus-global by construction.
    *
    * Segmentation is CONTENT-DEFINED: the normalized text splits on a
    * literal `delim` (a sentence boundary in real corpora), so a
    * boilerplate block produces the identical segment list at any byte
    * offset in any document — the same alignment-free property as
    * winnowed window selection. Only segments of >= `minLen` chars
    * count toward the cut (ubiquitous SHORT segments are ordinary
    * language, not boilerplate).
    *
    * Scale shape: the document-frequency branch shuffles (id, 32-bit
    * segment hash) pairs, never segment text; the resulting boilerplate
    * hash set is small by nature (bounded by corpus segments / minDocs)
    * and joins back against scan-recomputed probe-side hashes; document
    * text shuffles exactly ONCE, for the per-doc reassembly that any
    * document reconstruction inherently requires. Hash classes are
    * [[Dedup.md5Hash32]] (oracle-reproducible); a 32-bit collision can
    * only merge two segment classes — conservative over-removal, never
    * a miss — and a cluster deployment can widen to `xxhash64`
    * unchanged. Returns (idCol, clean_text, n_segments, n_removed):
    * a fully-boilerplate document survives with clean_text = ''. */
  def removeBoilerplate(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, delim: String = " the ", minDocs: Long = 2,
      minLen: Int = 20): org.apache.spark.sql.DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would drop every segment")
    val t = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    val segs = df.select(col(idCol).as("id"), t.as("__t"))
      .select(col("id"),
        posexplode(split(col("__t"),
          java.util.regex.Pattern.quote(delim))).as(Seq("pos", "seg")))
      .withColumn("h", Dedup.md5Hash32(col("seg")))
    val bp = segs.filter(length(col("seg")) >= minLen)
      .select(col("id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("h"), lit(1).as("__bp"))
    segs.join(bp, Seq("h"), "left")
      .groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("__bp").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        // collect_list skips the nulls the `when` emits for boilerplate
        // rows; array_sort on (pos, seg) structs restores source order
        concat_ws(delim, transform(
          array_sort(collect_list(
            when(col("__bp").isNull, struct(col("pos"), col("seg"))))),
          x => x.getField("seg"))).as("clean_text"))
      .select(col(idCol), col("clean_text"), col("n_segments"),
        col("n_removed"))
  }

  /** Unigram-LM surprise scoring: each document's average per-token
    * negative log-probability under the corpus's own unigram model —
    * the cheap stand-in for KenLM-style perplexity filtering (low =
    * boilerplate/common tokens, high = rare-token-heavy). Per-token
    * log-probs are quantized to integer MICRO-NATS before the per-doc
    * sum, so the aggregation is exact integer arithmetic: the result
    * is independent of partial-aggregation order (a raw double sum
    * would drift with partitioning) and reproducible across engines.
    * Shuffles: doc-term explode -> term-count join (vocabulary-sized
    * build side) -> per-doc sum; the corpus total is one broadcast
    * scalar. */
  def unigramSurprise(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    // Fan.stage(doc_id) on the token stream tried here and REVERTED
    // (tools/FanCompare@3a89fdd, sf0.1, 4 rotated rounds): 0.69 -> 0.85 med —
    // shuffling the exploded token rows costs more than the shared
    // evaluation + local per-doc sum save (the bigram case wins the
    // same trade only because its pair stream feeds a vocab^2-sized
    // model build; the unigram model is one cheap pass).
    val toks = df
      .select(col(idCol).as("doc_id"), Dedup.words(col(textCol)).as("__ws"))
      // explode_outer: plain explode infers a size>0 filter that
      // re-inlines the words() regex below the projection (see
      // Dedup.shingleHashes) — same results, double the scan work
      .select(col("doc_id"), explode_outer(col("__ws")).as("term"))
    val termCounts = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    // count(term), not count(*): explode_outer emits a null term row
    // for null-text docs, which must not inflate the corpus total
    val total = toks.agg(count(col("term")).as("n"))
    // Folding termCounts x total into one broadcast model (the bigram
    // recipe) tried and REVERTED (tools/ShapeVariants@3a89fdd, row-identical,
    // rotated, sf0.1): 0.48 -> 0.51 med — the planner already
    // broadcasts both small sides here, and the crossJoin fold only
    // adds a build step before the probe can start.
    toks.join(termCounts, "term")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        round(-log(col("cnt").cast("double") / col("n")) * 1e6)
          .cast("long").as("micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("micro")).as("sum_micro"))
      .select(col("doc_id"), col("n_toks"),
        round(col("sum_micro").cast("double") / col("n_toks") / 1000000.0, 6)
          .as("avg_surprise"))
  }

  /** Bigram-LM perplexity scoring (the CCNet-style quality filter,
    * one order up from [[unigramSurprise]]'s stand-in): each
    * document's average negative log-probability of its tokens under
    * the corpus's own add-one-smoothed bigram model,
    * p(b|a) = (c(a,b) + 1) / (ctx(a) + V), where c(a,b) is the corpus
    * bigram count, ctx(a) the count of `a` as a left context, and V
    * the corpus vocabulary size. Low score = fluent/common phrasing,
    * high = rare or incoherent transitions — threshold on `nll` (the
    * log-domain score; perplexity = e^nll is monotone in it, so
    * filtering on nll is filtering on perplexity without the
    * cross-engine exp()).
    *
    * Exactness recipe shared with [[unigramSurprise]]: per-bigram
    * log-probs quantize to integer micro-nats BEFORE the per-doc sum,
    * so aggregation is exact integer arithmetic — independent of
    * partial-aggregation order and reproducible across engines (the
    * inputs to ln() are ratios of exact integer counts, identical
    * everywhere). Documents with fewer than two tokens have no
    * bigrams and drop out — filter upstream if they must be kept.
    *
    * Scale shape: bigrams are extracted scan-locally from the words
    * array (a generate, no window shuffle) and STAGED through one
    * hashpartitioning(doc_id) exchange that both consumers read
    * (ReusedExchange): the pair-count aggregation and the
    * per-occurrence probe — so the regex tokenize + explode runs ONCE
    * instead of twice (the probe's per-doc sum then needs no further
    * shuffle: the staging already partitions by doc_id). The model
    * side (bigram counts JOIN left-context counts JOIN vocab scalar)
    * is pre-combined BEFORE the broadcast — all three are
    * VOCABULARY-sized (they plateau by Heaps' law while the corpus
    * grows), so the fold is cheap and the occurrence stream pays ONE
    * broadcast hash join instead of two plus a cross. Without the
    * explicit broadcast the third docs decade (5M docs, 923k distinct
    * bigrams) tipped Catalyst's estimate into SortMergeJoin, shuffling
    * the 265M-row occurrence stream a second time. Measured
    * (tools/LmVariants@3a89fdd, interleaved + rotated): staged+folded 0.89 s
    * median vs 1.54 s current at sf0.1; neutral at 10x docs (1.44 vs
    * 1.38 — the staged shuffle of narrow (doc_id, a, b) rows costs
    * about what the avoided second tokenize pass saves there). If a
    * corpus's trimmed bigram vocabulary outgrows executor memory
    * (CCNet-style deployments floor rare counts first), drop the
    * broadcast and take the shuffle join — same results. */
  def bigramSurprise(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    // Fan.out tried here and REVERTED (tools/FanCompare@3a89fdd, sf0.1):
    // q_lm_perplexity 1.71 -> 2.09 med — the staged doc_id exchange
    // below already parallelizes everything past the split, and the
    // fan shuffle only adds a barrier before it.
    val ws = df
      .select(col(idCol).as("doc_id"), Dedup.words(col(textCol)).as("__ws"))
    val toks = ws.select(col("doc_id"), explode_outer(col("__ws")).as("term"))
    val vocab = toks.agg(countDistinct(col("term")).as("v"))
    val bigrams = ws
      .filter(size(col("__ws")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("__ws")) - 2),
          i => struct(element_at(col("__ws"), i + 1).as("a"),
            element_at(col("__ws"), i + 2).as("b")))).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
      // deterministic staging exchange shared by the pair-count
      // aggregation and the probe (see scale-shape doc above)
      .repartition(col("doc_id"))
    val pairCounts = bigrams.groupBy("a", "b").agg(count(lit(1)).as("cab"))
    // ctx(a) = rows with first word a = SUM of cab over b — derived
    // from the (vocab²-sized, already aggregated) pair counts instead
    // of re-running the whole tokenize+explode subtree a third time
    // for a second corpus-wide count. Exact integer identity.
    val ctxCounts = pairCounts.groupBy("a").agg(sum(col("cab")).as("ctx"))
    val model = pairCounts.join(ctxCounts, "a").crossJoin(vocab)
    bigrams.join(broadcast(model), Seq("a", "b"))
      .select(col("doc_id"),
        round(-log((col("cab") + 1).cast("double") / (col("ctx") + col("v")))
          * 1e6).cast("long").as("micro"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("micro")).as("sum_micro"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sum_micro").cast("double") / col("n_bigrams") / 1000000.0, 6)
          .as("nll"))
  }

  /** TF-IDF per (doc, term) over whitespace-normalized lowercased
    * tokens: tf = termCount/docLen, idf = ln(nDocs/docFreq). Two
    * shuffles (doc-term, then term) + one broadcast scalar — the
    * vocabulary never sits on one node. */
  def tfIdf(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    // Fan.out tried here and REVERTED (tools/FanCompare@3a89fdd, sf0.1, 4
    // rotated rounds): q_text_tfidf 0.96 -> 1.46 med — the text
    // shuffle outweighs the parallelized tokenize because the
    // (doc,term) partial aggregation barely collapses (terms are
    // mostly unique per doc), so the fan only adds a barrier.
    val toks = df
      .select(col(idCol).as("doc_id"), Dedup.words(col(textCol)).as("__ws"))
      .select(col("doc_id"), size(col("__ws")).as("n_toks"),
        explode_outer(col("__ws")).as("term"))
    val tf = toks.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf_cnt"), first(col("n_toks")).as("n_toks"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val nDocs = df.agg(countDistinct(col(idCol)).as("n_docs"))
    tf.join(docFreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        round(col("tf_cnt").cast("double") / col("n_toks") *
          log(col("n_docs").cast("double") / col("doc_freq")), 6).as("tfidf"))
  }

  /** Gopher-style document-quality rules (Rae et al. 2021, Appendix
    * A — the literature-standard web-corpus filter): word-count
    * bounds, mean-word-length band, symbol-to-word ratio, bullet /
    * ellipsis line ratios (remove when MORE than 90% of lines start
    * with a bullet / more than 30% end in an ellipsis, the paper's
    * thresholds), alphabetic-word fraction, minimum stopword
    * hits. Every rule THRESHOLD compares in exact integer arithmetic
    * (e.g. alpha >= 80% as `5*alpha_words >= 4*n_words`), so the keep
    * verdict can never flip on a floating-point edge between engines;
    * the reported ratios are rounded diagnostics only.
    *
    * Entirely scan-local Column math over one materialized words
    * array (HOF-captured expressions re-evaluate per element — the
    * array is bound as an attribute first, the repo-wide rule). */
  def gopherQuality(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, minWords: Int = 50,
      maxWords: Int = 100000): org.apache.spark.sql.DataFrame = {
    val stats = df
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"),
        Dedup.words(col(textCol)).as("__ws"),
        split(col(textCol), "\n").as("__ls"))
      .select(col("doc_id"),
        size(col("__ws")).cast("long").as("n_words"),
        aggregate(col("__ws"), lit(0L), (a, w) => a + length(w)).as("sum_wlen"),
        size(filter(col("__ws"), w => w.rlike("[a-z]")))
          .cast("long").as("alpha_words"),
        size(filter(col("__ws"),
            w => w.isin(stopwords.map(_.asInstanceOf[Any]): _*)))
          .cast("long").as("stop_hits"),
        matchCount(col("__t"), "#|\\.\\.\\.").cast("long").as("symbols"),
        size(col("__ls")).cast("long").as("n_lines"),
        size(filter(col("__ls"), l => trim(l).rlike("^[-*•]")))
          .cast("long").as("bullet_lines"),
        size(filter(col("__ls"), l => l.rlike("\\.\\.\\.$")))
          .cast("long").as("ellipsis_lines"))
    stats.select(col("doc_id"), col("n_words"),
      round(col("sum_wlen") / col("n_words"), 6).as("mean_wlen"),
      round(col("symbols") / col("n_words"), 6).as("symbol_ratio"),
      round(col("alpha_words") / col("n_words"), 6).as("alpha_ratio"),
      col("stop_hits"),
      (col("n_words") >= minWords && col("n_words") <= maxWords &&
        col("sum_wlen") >= col("n_words") * 3 &&
        col("sum_wlen") <= col("n_words") * 10 &&
        col("symbols") * 10 < col("n_words") &&
        col("alpha_words") * 5 >= col("n_words") * 4 &&
        col("stop_hits") >= 2 &&
        col("bullet_lines") * 10 <= col("n_lines") * 9 &&
        col("ellipsis_lines") * 10 <= col("n_lines") * 3).as("keep"))
  }

  /** BM25 ranked retrieval (Okapi BM25, Robertson et al.): top-k
    * documents per keyword query. The retrieval shape is an inverted
    * index expressed relationally — the (doc, term, tf) table joined
    * to the query-term list on `term`, so only documents containing at
    * least one query term are ever scored; the corpus is never
    * cross-joined against the query set.
    *
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5))  (the non-negative
    * RSJ-smoothed form), weight = tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)),
    * query terms deduplicated (qtf = 1, the standard short-query
    * simplification).
    *
    * Cross-engine determinism: the per-term contribution is quantized
    * to integer micro-units BEFORE the per-(query, doc) sum, so the
    * score is an order-independent integer sum (Spark's aggregation
    * order is nondeterministic; double addition is not associative) —
    * ranking ties break on doc_id over the exact integer score.
    *
    * At 100 TB: the postings table (doc, term, tf) is built
    * SCAN-LOCALLY — one distinct-term row per doc via explode, tf
    * counted inside the materialized words array — so the corpus
    * never shuffles to build tf (a groupBy(doc, term) formulation
    * measured 173% of table bytes across the shuffle; this shape cut
    * it to 1%). What does shuffle: per-partition term counts for df
    * (map-side combined), and the per-(query, doc) score sum over
    * postings that matched a query term. The query term list and the
    * single-row corpus stats broadcast. (The [[bm25Route]] kernel —
    * score every (doc, query) pair scan-locally — looks tempting
    * here, but it pays O(query terms x words) per doc PER QUERY:
    * measured 17x slower than the postings join on the doc-as-query
    * hybrid workload, whose 8 queries carry ~80 terms each. Route is
    * the SHORT-standing-query shape; postings is the retrieval
    * shape.) */
  def bm25TopK(docs: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, qIdCol: String, qTextCol: String, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      excludeSelf: Boolean = false): org.apache.spark.sql.DataFrame = {
    val qterms = bm25QueryTerms(queries, qIdCol, qTextCol)
    // Postings restricted to query terms AT THE SCAN (broadcast
    // semi-join between the distinct-term explode and the tf count):
    // only matching rows pay the O(words) tf filter-count, and —
    // because doc_freq is now a window count over these rows
    // ([[bm25Rank]]) — the corpus is tokenized ONCE instead of twice
    // (the old plan re-ran the whole scan+explode+tf subtree to feed a
    // full-vocabulary doc_freq aggregate of which only the query
    // terms' rows survived the score join).
    val tf = bm25Postings(docs, textCol, idCol,
      restrictTerms = Some(qterms.select(col("term"))))
    // Exact integer corpus totals; avgdl is ONE double division.
    val stats = docs
      .select(size(Dedup.words(col(textCol))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    bm25Rank(tf, stats, qterms, k, k1, b, excludeSelf, preRestricted = true)
  }

  /** One row per (term, doc): `(term, doc_id, tf_cnt, n_toks)` — the
    * postings/tf half of [[bm25TopK]] (tf = a filter-count inside the
    * materialized words array; a doc with no tokens keeps one
    * NULL-term row, which no real query term joins). SHARED with
    * [[IncrementalText]], whose standing index stores exactly these
    * rows — one definition is what keeps the incremental scores
    * bit-identical to the batch operator. */
  /** @param restrictTerms when set, a broadcast LEFT SEMI join on
    *   `term` drops non-matching rows BETWEEN the distinct-term
    *   explode and the tf filter-count, so only postings a downstream
    *   query-term join would keep anyway pay the O(words) tf count
    *   (and the NULL-term row of a token-less doc, which no real term
    *   can join, goes with them). Index builds pass None — the
    *   standing index stores every term. */
  private[operators] def bm25Postings(docs: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String,
      restrictTerms: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    // Fan.out tried here and REVERTED (tools/FanCompare@3a89fdd, sf0.1):
    // q_text_bm25 1.31 -> 1.37 med, q_hybrid_retrieval 2.04 -> 2.51 —
    // the count_eq kernel made this projection cheap, and the staged
    // doc_id exchange downstream already parallelizes the heavy part,
    // so the extra fan shuffle only adds a stage barrier.
    val exploded = docs
      .select(col(idCol).as("doc_id"), Dedup.words(col(textCol)).as("__ws"))
      .select(col("doc_id"), col("__ws"), size(col("__ws")).as("n_toks"),
        explode_outer(array_distinct(col("__ws"))).as("term"))
    restrictTerms
      .fold(exploded)(t => exploded.join(
        broadcast(t.select(col("term")).distinct()), Seq("term"), "left_semi"))
      // fused codegen kernel — value-identical to the HOF form
      // `size(filter(__ws, w -> w = term)).cast("long")` it replaces,
      // which dispatched an interpreted lambda per word per posting row
      // (parity-pinned in ExtensionsSpec)
      .withColumn("tf_cnt",
        graft.functions.TextExpressions.countEqNative(col("__ws"), col("term")))
      .select(col("term"), col("doc_id"), col("tf_cnt"), col("n_toks"))
  }

  /** Distinct (query_id, term) rows under the corpus tokenizer. */
  private[operators] def bm25QueryTerms(
      queries: org.apache.spark.sql.DataFrame, qIdCol: String,
      qTextCol: String): org.apache.spark.sql.DataFrame =
    queries.select(col(qIdCol).as("query_id"),
      explode(array_distinct(Dedup.words(col(qTextCol)))).as("term"))

  /** The scoring+ranking half of [[bm25TopK]], from postings-shaped
    * inputs: `postings` as produced by [[bm25Postings]] (or read back
    * from [[IncrementalText]]'s index), `stats` = one row
    * (n_docs, sum_dl), `qterms` as produced by [[bm25QueryTerms]].
    * Exact integer micro-unit contribution sums; deterministic
    * tie-break (score desc, doc_id asc).
    *
    * doc_freq is computed HERE, from the postings AFTER a broadcast
    * semi-join restriction to the query terms — identical per-term
    * counts to a whole-vocabulary `groupBy(term)` (a term's postings
    * rows are exactly its containing docs) at a fraction of the work:
    * the old shape aggregated doc_freq for every term in the corpus,
    * then joined away all but the query terms'. It stays a partial-
    * aggregated groupBy + tiny broadcast (NOT a window count: a
    * per-term window must SORT the restricted postings, and for
    * doc-as-query workloads whose query terms cover much of the
    * corpus — the hybrid-retrieval shape — that sort measured SLOWER
    * than the whole-vocab aggregate it replaced). Callers pass
    * postings UNAGGREGATED; any superset of the query terms' postings
    * rows (e.g. the bucket over-fetch of [[IncrementalText]]'s
    * readKeys) gives the same result — the semi-join drops the rest
    * before counting.
    *
    * @param preRestricted the caller guarantees `postings` carries
    *   ONLY query-term rows already ([[bm25TopK]] restricts inside
    *   [[bm25Postings]]) — skips the redundant second semi-join probe
    *   per posting row. The inner `join(qterms)` below drops any
    *   non-query term regardless, so a false negative here costs
    *   nothing but the probe; a true one removes a broadcast build +
    *   an O(postings) hash probe. */
  private[operators] def bm25Rank(postings: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame,
      qterms: org.apache.spark.sql.DataFrame, k: Int, k1: Double,
      b: Double, excludeSelf: Boolean = false,
      preRestricted: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("doc_freq") + lit(0.5)) / (col("doc_freq") + lit(0.5)))
    val w = col("tf_cnt").cast("double") * (k1 + 1) /
      (col("tf_cnt") + lit(k1) * (lit(1.0 - b) + lit(b) * col("n_toks") / avgdl))
    val restricted0 =
      if (preRestricted) postings
      else postings.join(
        broadcast(qterms.select(col("term")).distinct()), Seq("term"), "left_semi")
    // ONE evaluation of the postings subtree for both consumers: the
    // docFreq aggregate below is a broadcast BUILD side, so without a
    // shared exchange the whole scan+tokenize+restrict subtree runs
    // twice (once for the build, once for the probe) — the executed
    // before-plan showed two full documents scans. A deterministic
    // hashpartitioning(doc_id) exchange canonicalizes identically under
    // both branches and AQE reuses it: tokenize once, then docFreq
    // reads partial counts off the shuffle and contrib re-reads the
    // same shuffle files. doc_id (not term) keeps the exchange
    // skew-free at scale — a hot query term would otherwise own a
    // whole partition; docFreq's own groupBy(term) shuffles only
    // map-side-combined partial counts.
    val restricted = restricted0.repartition(col("doc_id"))
    val docFreq = restricted.groupBy("term")
      .agg(count(lit(1)).as("doc_freq"))
    val contrib = restricted
      .join(broadcast(qterms), "term")
      .join(broadcast(docFreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        round(idf * w * 1e6).cast("long").as("c_micro"))
    val scored0 = contrib.groupBy("query_id", "doc_id")
      .agg(sum(col("c_micro")).as("s_micro"))
    // doc-as-query retrieval (hybrid fusion, near-dup mining): the
    // query trivially retrieves itself — drop it BEFORE ranking
    val scored =
      if (excludeSelf) scored0.filter(col("query_id") =!= col("doc_id"))
      else scored0
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("s_micro").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
        (round(col("s_micro") / 1e6, 6) + lit(0.0)).as("bm25"), col("rank"))
  }

  /** The shared scoring kernel of [[bm25TopK]] and [[bm25Route]]: one
    * row per (doc, standing query) with the exact integer micro-unit
    * BM25 sum, computed entirely scan-locally against the broadcast
    * [[bm25QueryTable]] (tf = a filter-count inside the materialized
    * words array, per term of the query). Stateless — streams. */
  private def bm25ScoreMicro(docs: org.apache.spark.sql.DataFrame,
      queryTable: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, k1: Double, b: Double): org.apache.spark.sql.DataFrame = {
    val prepared = docs.select(col(idCol).as("doc_id"),
        Dedup.words(col(textCol)).as("__ws"))
      .withColumn("__dl", size(col("__ws")))
    val sMicro = aggregate(col("qterms"), lit(0L), (acc, t) => {
      val tf = graft.functions.TextExpressions
        .countEqNative(col("__ws"), t.getField("term")).cast("double")
      val w = tf * (k1 + 1) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("avgdl")))
      acc + when(tf > 0,
        round(t.getField("idf") * w * 1e6).cast("long")).otherwise(lit(0L))
    })
    prepared.crossJoin(broadcast(queryTable))
      .select(col("query_id"), col("doc_id"), sMicro.as("s_micro"))
  }

  /** The MERGEABLE index half of BM25: (df table, stats row) for a
    * corpus slice. Both artifacts are commutative-monoid summaries —
    * term counts and (n_docs, sum_dl) add — so an index over an
    * appended corpus is [[bm25StatsMerge]] of the old index and the
    * BATCH's index: no recompute over the historical corpus, the
    * incremental-ingest property every growing deployment needs
    * (sketch-merge discipline, same as the HLL/centroid operators). */
  def bm25Stats(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val docFreq = docs
      .select(Dedup.words(col(textCol)).as("__ws"))
      .select(explode_outer(array_distinct(col("__ws"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val stats = docs
      .select(size(Dedup.words(col(textCol))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    (docFreq, stats)
  }

  /** Merge two [[bm25Stats]] indexes (disjoint corpus slices): df
    * tables add per term, scalar totals add. Associative and
    * commutative, so a corpus can fold up from any partitioning of
    * its history. */
  def bm25StatsMerge(
      a: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame),
      b: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val df = a._1.union(b._1)
      .groupBy("term").agg(sum(col("doc_freq")).as("doc_freq"))
    val stats = a._2.union(b._2)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    (df, stats)
  }

  /** The frozen half of streaming BM25: per standing query, its terms
    * with PRE-RESOLVED idf (from a corpus snapshot's df table) plus
    * the snapshot's avgdl — one broadcastable row per query. Index
    * once, score forever: arriving documents never need the corpus. */
  def bm25QueryTable(docs: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, qIdCol: String,
      qTextCol: String): org.apache.spark.sql.DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), Dedup.words(col(textCol)).as("__ws"))
      .select(col("doc_id"), explode_outer(array_distinct(col("__ws"))).as("term"))
    val docFreq = toks.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val stats = docs
      .select(size(Dedup.words(col(textCol))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val qterms = queries.select(col(qIdCol).as("query_id"),
        explode(array_distinct(Dedup.words(col(qTextCol)))).as("term"))
      .join(docFreq, Seq("term"), "left")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("term"),
        // absent terms: df = 0 -> the max idf (they still score 0 via tf)
        log(lit(1.0) + (col("n_docs") - coalesce(col("doc_freq"), lit(0L))
          + lit(0.5)) / (coalesce(col("doc_freq"), lit(0L)) + lit(0.5)))
          .as("idf"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    qterms.groupBy("query_id")
      .agg(collect_list(struct(col("term"), col("idf"))).as("qterms"),
        first(col("avgdl")).as("avgdl"))
  }

  /** Standing-query routing — the STREAMING face of [[bm25TopK]]:
    * score each arriving document against every standing query using
    * the frozen [[bm25QueryTable]] stats, emit matches above
    * `minScore`. Entirely STATELESS (one scan-local expression per
    * (doc, query) pair — tf via a filter over the materialized words
    * array, the same integer micro-unit sum as the batch operator),
    * so it runs identically on a batch or streaming DataFrame: no
    * aggregation, no watermark, no state store. Global top-k is
    * meaningless on an unbounded stream; the threshold is the
    * streaming-native contract. Scores agree with [[bm25TopK]]
    * EXACTLY when the snapshot equals the scored corpus
    * (StreamBatchEquivalenceSpec). */
  def bm25Route(docs: org.apache.spark.sql.DataFrame,
      queryTable: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, minScore: Double, k1: Double = 1.2,
      b: Double = 0.75): org.apache.spark.sql.DataFrame =
    bm25ScoreMicro(docs, queryTable, textCol, idCol, k1, b)
      .filter(col("s_micro") >= math.round(minScore * 1e6))
      .withColumn("bm25", round(col("s_micro") / 1e6, 6) + lit(0.0))
      .drop("s_micro")

  // ------------------------------------------------------------------
  // Real merge-table BPE (Sennrich et al. 2016, "Neural Machine
  // Translation of Rare Words with Subword Units") — an actual merge
  // loop, not a regex approximation, so packChunks token budgets track
  // a genuine trained tokenizer.
  //
  // Encoding trick that keeps the APPLY step a pure codegen'd Column
  // expression (and byte-identical in the DuckDB oracle): a document
  // becomes a single string where every symbol is wrapped in unit
  // separators (US, 0x1f) and words are split by record separators
  // (RS, 0x1e). A merge (a, b) -> ab is then the literal string
  // replacement  US a US US b US  ->  US ab US . Because every symbol
  // is US-delimited on BOTH sides, a match can never straddle symbol
  // or word boundaries, and left-to-right non-overlapping `replace`
  // is exactly BPE's leftmost-first merge order. Applying the merge
  // list once, in training-rank order, is equivalent to the
  // priority-queue formulation: rank-i output symbols only feed
  // higher-rank merges, so no earlier merge can become applicable
  // again. Token count = US-pairs / 2 — no arrays, no UDFs, one
  // scan-local expression chain.
  // ------------------------------------------------------------------

  private val RS = "\u001e"
  private val US = "\u001f"

  /** Pre-tokenization shared by the trainer and the Column chain:
    * lowercase; words = letter runs | digit runs | single punctuation
    * marks (the GPT-style category split, RE2-portable). */
  private[operators] def preTokenize(text: String): Seq[String] =
    "[a-z]+|[0-9]+|[^a-z0-9\\s]".r.findAllIn(text.toLowerCase).toSeq

  private def mergeOnce(syms: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Deterministic BPE trainer: count adjacent symbol pairs across the
    * pre-tokenized word-frequency table, greedily merge the most
    * frequent pair (ties broken lexicographically), repeat. Stops
    * early when no pair occurs twice. Driver-side and tiny — the
    * trained table is DATA shipped into the plan, like any vocab. */
  def trainBpeMerges(corpus: Seq[String], nMerges: Int): Seq[(String, String)] = {
    var words: Map[Vector[String], Long] = corpus.flatMap(preTokenize)
      .groupBy(identity).map { case (w, ws) =>
        w.map(_.toString).toVector -> ws.size.toLong
      }
    val out = Seq.newBuilder[(String, String)]
    var n = 0
    var done = false
    while (n < nMerges && !done) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          pairCounts(k) = pairCounts.getOrElse(k, 0L) + c
          i += 1
        }
      }
      val best = pairCounts.toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.headOption
      best match {
        case Some(((a, b), c)) if c >= 2 =>
          out += ((a, b)); n += 1
          words = words.toSeq.map { case (syms, cnt) =>
            mergeOnce(syms, a, b) -> cnt
          }.groupMapReduce(_._1)(_._2)(_ + _)
        case _ => done = true
      }
    }
    out.result()
  }

  /** The embedded public-text seed corpus and its trained merge table.
    * The specific merges are demo vocabulary; the LOOP is the real
    * algorithm and swaps tables freely (a production pipeline would
    * load its tokenizer's merges file here). */
  val bpeSeedCorpus: Seq[String] = Seq(
    "the quick brown fox jumps over the lazy dog",
    "to be or not to be that is the question",
    "all that glitters is not gold and all roads lead to rome",
    "in the beginning there was the word and the word was with the data",
    "she sells sea shells by the sea shore and the shells are sea shells",
    "it was the best of times, it was the worst of times.",
    "a journey of 1000 miles begins with a single step, then 42 more.",
    "ask not what your data can do for you; ask what you can do for your data.",
    "training data quality matters more than training data quantity.",
    "the rain in spain stays mainly in the plain.",
  )

  val bpeMerges: Seq[(String, String)] = trainBpeMerges(bpeSeedCorpus, 48)

  /** The US/RS symbol-string encoding of a document, before merges. */
  private def bpeSymbolString(text: Column): Column = {
    var t = lower(text)
    t = regexp_replace(t, "\\s+", RS)
    // each punctuation mark is its own word (and RS-separated)
    t = regexp_replace(t, "([^a-z0-9\u001e])", RS + "$1" + RS)
    // split letter<->digit transitions (two passes: insertions only
    // ever split, so every original adjacency survives to its pass)
    t = regexp_replace(t, "([a-z])([0-9])", "$1" + RS + "$2")
    t = regexp_replace(t, "([0-9])([a-z])", "$1" + RS + "$2")
    t = regexp_replace(t, "\u001e+", RS)
    t = regexp_replace(t, "^\u001e|\u001e$", "")
    // wrap every remaining char in US: the initial one-symbol-per-char
    // state of the BPE apply loop
    regexp_replace(t, "([^\u001e])", US + "$1" + US)
  }

  /** Apply the merge table in rank order (see block comment above).
    * Runs as the fused native kernel
    * ([[graft.functions.BpeEncodeExpr]]): one codepoint scan emits the
    * symbol string (replacing seven regexp passes) and the merge
    * replaces apply in the same loop — [[bpeMergedReference]] keeps
    * the original Column chain as the executable spec of the
    * semantics, and the DuckDB oracles still run the regex-chain
    * formulation, so engine parity re-proves the kernel every run. */
  def bpeMerged(text: Column, merges: Seq[(String, String)] = bpeMerges): Column =
    graft.functions.BpeEncodeExpr.bpeEncode(text, merges)

  /** The original Column-chain formulation of [[bpeMerged]] — the
    * executable reference BpeParitySpec fuzzes the kernel against.
    * Same contract, ~55 string passes per document; not used by any
    * registered query. */
  private[graft] def bpeMergedReference(text: Column,
      merges: Seq[(String, String)] = bpeMerges): Column =
    merges.foldLeft(bpeSymbolString(text)) { case (acc, (a, b)) =>
      call_function("replace", acc,
        lit(US + a + US + US + b + US), lit(US + a + b + US))
    }

  /** BPE tokens as an array of symbol strings (everything between US
    * pairs) — the actual tokenization, for vocabulary building and
    * frequency analysis; [[bpeTokenCount]] is its size. Word
    * boundaries (RS) disappear: like real BPE output, the token
    * stream is the concatenation of per-word symbol sequences. */
  def bpeTokens(text: Column, merges: Seq[(String, String)] = bpeMerges): Column =
    call_function("regexp_extract_all", bpeMerged(text, merges),
      lit("\u001f([^\u001f\u001e]*)\u001f"), lit(1))

  /** BPE token count: total symbols = US pairs / 2. */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)] = bpeMerges): Column = {
    val m = bpeMerged(text, merges)
    ((length(m) - length(call_function("replace", m, lit(US), lit("")))) / lit(2))
      .cast("long")
  }

  /** The DuckDB symbolizer mirror of [[bpeSymbolString]] (`expr` is
    * the input SQL expression for the text). */
  private def bpeSymbolSql(expr: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |regexp_replace(regexp_replace(regexp_replace(lower($expr),
       |  '\\s+', chr(30), 'g'),
       |  '([^a-z0-9\\x1e])', chr(30) || '\\1' || chr(30), 'g'),
       |  '([a-z])([0-9])', '\\1' || chr(30) || '\\2', 'g'),
       |  '([0-9])([a-z])', '\\1' || chr(30) || '\\2', 'g'),
       |  '\\x1e+', chr(30), 'g'),
       |  '^\\x1e|\\x1e$$', '', 'g'),
       |  '([^\\x1e])', chr(31) || '\\1' || chr(31), 'g')""".stripMargin

  /** The DuckDB mirror of [[bpeMerged]], generated from the same merge
    * table so both engines apply the identical tokenizer (`expr` is
    * the input SQL expression for the text). */
  def bpeMergedSql(expr: String, merges: Seq[(String, String)] = bpeMerges): String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    merges.foldLeft(bpeSymbolSql(expr)) { case (acc, (a, b)) =>
      s"replace($acc, chr(31)||${q(a)}||chr(31)||chr(31)||${q(b)}||chr(31), " +
        s"chr(31)||${q(a + b)}||chr(31))"
    }
  }

  /** Distributed BPE merge-table LEARNING — the training side of the
    * tokenizer whose apply side is [[bpeMerged]]: `nMerges` rounds of
    * (count adjacent symbol pairs across the whole corpus) -> (merge
    * the most frequent pair everywhere), ties broken by (pair)
    * lexicographic order so the learned table is deterministic.
    * Later rounds merge previously-merged symbols — the hierarchy
    * that makes BPE subwords real.
    *
    * Execution shape — the WORD-HISTOGRAM trainer (the classic
    * optimization, and what lets the vocabulary scale past demo size):
    * pairs never cross word boundaries, so after ONE corpus pass
    * builds the (distinct word, freq) histogram, every round runs on
    * the histogram alone — pair counts are per-word adjacent pairs
    * weighted by `freq` (bit-identical totals to scanning the
    * corpus), and the merge rewrites ONLY the histogram rows whose
    * word contains the winning pair. Zipf makes |distinct words|
    * orders of magnitude smaller than the corpus, so per-round cost
    * is vocabulary-scoped, not corpus-scoped: merges 9..64 cost about
    * what merges 1..8 cost at demo scale (see PERF.md). The histogram
    * re-materializes per round via localCheckpoint (same eager-rounds
    * pattern as the CC builds: without it round r would replay all
    * r-1 prior replaces). Driver state is O(nMerges); only each
    * round's single argmax row reaches the driver.
    *
    * Returns (rank, lhs, rhs, n) — feed `lhs -> rhs` pairs straight
    * into [[bpeMerged]]/[[bpeTokens]] to tokenize with the corpus's
    * own learned vocabulary. If the corpus exhausts (every word fully
    * merged to one symbol) before `nMerges` rounds, training stops
    * early and the table carries the merges actually learned.
    *
    * Count semantics: `n` counts ADJACENT occurrences, which overlap —
    * pair (x,x) appears twice in "xxx" — while the merge replaces
    * left-to-right non-overlapping, so `n` is an upper bound on the
    * replacements actually performed. For a pair with lhs != rhs the
    * bound is TIGHT (a two-symbol pattern can only self-overlap when
    * both symbols are equal), which BpeLearnSpec pins exactly; only a
    * self-pair (x,x) over-counts, by floor(run/2) per symbol run. The
    * DuckDB oracle's `list_zip` counts the same way, so cross-engine
    * parity is unaffected either way. Ties on `n` break on the UTF-8
    * BYTE order of (lhs, rhs) — `encode(_, 'UTF-8')` on the Spark
    * side, DuckDB's native memcmp collation on the oracle side — so a
    * count tie on supplementary-plane symbols (where UTF-16 code-unit
    * order diverges from byte order) still picks the same merge in
    * both engines.
    *
    * `batch` > 1 amortizes the per-round driver barrier (one argmax
    * job per merge, the cost wall at 32k vocabularies): each round
    * collects the head of the count table and greedily accepts up to
    * `batch` mutually-SAFE pairs, applied by one histogram rewrite.
    * Safety is the exact invalidation set of a merge, not blanket
    * symbol-disjointness: merging (a, b) only changes counts of pairs
    * whose SECOND symbol is `a` ((x,a) at "x a b" sites) or whose
    * FIRST symbol is `b` ((b,y) at "a b y" sites) — a later candidate
    * (c,d) stays exact iff d != a and c != b (plus no aliasing with
    * the concatenated "ab" text), and the same condition makes the
    * chained replace patterns unable to create or destroy each
    * other's match sites. The standard batched-BPE deviation remains:
    * a pair CREATED by an earlier merge in the batch could out-rank a
    * later batch member in the strict sequential order, so batch > 1
    * is the scale path while batch = 1 (the default, and the
    * registered oracle path) reproduces textbook BPE exactly. */
  def learnBpeMerges(df: org.apache.spark.sql.DataFrame, textCol: String,
      nMerges: Int, batch: Int = 1): org.apache.spark.sql.DataFrame =
    learnBpeMergesWithRounds(df, textCol, nMerges, batch)._1

  /** [[learnBpeMerges]] plus the number of driver-barrier rounds the
    * training actually ran — the quantity the batched mode exists to
    * shrink (BpeTrainCost measures it; sequential = one per merge). */
  def learnBpeMergesWithRounds(df: org.apache.spark.sql.DataFrame,
      textCol: String, nMerges: Int, batch: Int = 1)
      : (org.apache.spark.sql.DataFrame, Int) = {
    require(nMerges > 0 && nMerges <= 65536, "nMerges out of (0, 65536]")
    require(batch >= 1, "batch must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    // ONE corpus scan -> word histogram; every round after runs on it
    var cur = df.select(bpeSymbolString(col(textCol)).as("s"))
      .select(explode(split(col("s"), RS)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .localCheckpoint(true)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rounds = 0
    var exhausted = false
    while (learned.size < nMerges && !exhausted) {
      rounds += 1
      val pairs = cur
        .select(filter(split(col("w"), US), x => x =!= lit("")).as("syms"),
          col("freq"))
        .select(explode(zip_with(
          slice(col("syms"), lit(1), greatest(size(col("syms")) - 1, lit(0))),
          slice(col("syms"), lit(2), greatest(size(col("syms")) - 1, lit(0))),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"), col("freq"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
      val want = math.min(batch, nMerges - learned.size)
      // candidate pool: 8x the batch covers the symbol-conflict skips
      val top = pairs.orderBy(col("n").desc,
          encode(col("a"), "UTF-8").asc, encode(col("b"), "UTF-8").asc)
        .limit(want * 8).collect()
      if (top.isEmpty) {
        // every word is a single symbol — nothing left to merge. Real
        // trainers stop here; return the merges actually learned
        // rather than failing a too-ambitious nMerges.
        exhausted = true
      } else {
        // greedy acceptance in count order under the exact safety
        // condition (see docstring): candidate (c, d) is stale-free
        // against accepted (a, b) iff d != a and c != b; the alias
        // checks keep an existing symbol with the same text as a
        // freshly merged "ab" out of this batch's replace patterns.
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val seconds = scala.collection.mutable.Set.empty[String] // accepted b's
        val firsts = scala.collection.mutable.Set.empty[String] // accepted a's
        val aliases = scala.collection.mutable.Set.empty[String] // accepted a+b texts
        top.iterator.takeWhile(_ => accepted.size < want).foreach { row =>
          val (c, d, n) = (row.getString(0), row.getString(1), row.getLong(2))
          if (!firsts.contains(d) && !seconds.contains(c) &&
              !aliases.contains(c) && !aliases.contains(d)) {
            accepted += ((c, d, n))
            firsts += c; seconds += d; aliases += (c + d)
          }
        }
        accepted.foreach { case (a, b, n) =>
          learned += ((learned.size + 1, a, b, n))
        }
        if (learned.size < nMerges) {
          if (accepted.size == 1) {
            // rewrite ONLY the words containing the winning pair — for
            // a real corpus that is a small fraction of the vocabulary
            val (a, b, _) = accepted.head
            val pat = US + a + US + US + b + US
            cur = cur.withColumn("w",
                when(col("w").contains(pat),
                  call_function("replace", col("w"), lit(pat), lit(US + a + b + US)))
                .otherwise(col("w")))
              .localCheckpoint(true)
          } else {
            // one rewrite applies the whole batch: the patterns are
            // symbol-disjoint (and alias-free), so the chained replaces
            // cannot create or destroy each other's match sites. A
            // plain chain, not per-merge CASE guards — nesting
            // when(contains).otherwise doubles the expression tree per
            // level (2^batch codegen blowup)
            val w = accepted.foldLeft(col("w")) { case (c, (a, b, _)) =>
              call_function("replace", c,
                lit(US + a + US + US + b + US), lit(US + a + b + US))
            }
            cur = cur.withColumn("w", w).localCheckpoint(true)
          }
        }
      }
    }
    (learned.toSeq.toDF("rank", "lhs", "rhs", "n"), rounds)
  }

  /** The shared learning-loop CTE chain: c0 = symbolized docs (doc_id
    * carried), p_k/m_k = round-k pair counts + argmax, c_k = corpus
    * after merge k. `mergeLast` controls whether c_nMerges exists
    * (the learner never needs it; the learned TOKENIZER does). All
    * MATERIALIZED — inlining would replay the symbolize subtree
    * 2^rounds times. */
  private def bpeLearnCtes(nMerges: Int, mergeLast: Boolean): Seq[String] = {
    def pairCte(src: String, k: Int) =
      s"""p$k AS MATERIALIZED (SELECT p[1] AS a, p[2] AS b, count(*) AS n FROM (
         |  SELECT unnest(list_zip(list_slice(syms, 1, len(syms) - 1),
         |    list_slice(syms, 2, len(syms)))) AS p
         |  FROM (SELECT list_filter(string_split(w, chr(31)), x -> x != '') AS syms
         |        FROM (SELECT unnest(string_split(s, chr(30))) AS w FROM $src))
         | ) GROUP BY 1, 2),
         |m$k AS MATERIALIZED (SELECT a, b, n FROM p$k
         |  ORDER BY n DESC, a ASC, b ASC LIMIT 1)""".stripMargin
    def mergeCte(src: String, dst: String, k: Int) =
      s"""$dst AS MATERIALIZED (SELECT doc_id, replace(s,
         |  chr(31)||(SELECT a FROM m$k)||chr(31)||chr(31)||(SELECT b FROM m$k)||chr(31),
         |  chr(31)||(SELECT a FROM m$k)||(SELECT b FROM m$k)||chr(31)) AS s FROM $src)""".stripMargin
    Seq(s"c0 AS MATERIALIZED (SELECT doc_id, ${bpeSymbolSql("text")} AS s FROM documents)") ++
      (1 to nMerges).flatMap { k =>
        Seq(pairCte(s"c${k - 1}", k)) ++
          (if (k < nMerges || mergeLast) Seq(mergeCte(s"c${k - 1}", s"c$k", k)) else Nil)
      }
  }

  /** The DuckDB mirror of [[learnBpeMerges]]: the same fixed-round
    * learning loop; scalar subqueries carry each round's argmax pair
    * into the next round's replace. */
  def learnBpeMergesSql(nMerges: Int): String = {
    val sel = (1 to nMerges)
      .map(k => s"SELECT $k AS rank, a AS lhs, b AS rhs, CAST(n AS BIGINT) AS n FROM m$k")
      .mkString("\n UNION ALL ")
    "WITH " + bpeLearnCtes(nMerges, mergeLast = false).mkString(",\n") + "\n" + sel
  }

  /** Per-document token counts under the corpus's OWN learned
    * `nMerges`-round vocabulary: the learning chain's final corpus
    * state IS the tokenized corpus, so the count reads straight off
    * c_nMerges. Mirrors learnBpeMerges + bpeTokenCount(learned). */
  def learnedBpeTokenCountSql(nMerges: Int): String =
    "WITH " + bpeLearnCtes(nMerges, mergeLast = true).mkString(",\n") +
      s"\nSELECT doc_id, (len(s) - len(replace(s, chr(31), ''))) // 2 AS n_tokens FROM c$nMerges"

  /** The DuckDB mirror of [[bpeTokenCount]]. */
  def bpeTokenCountSql(expr: String, merges: Seq[(String, String)] = bpeMerges): String = {
    val merged = bpeMergedSql(expr, merges)
    s"(len($merged) - len(replace($merged, chr(31), ''))) // 2"
  }

  /** The DuckDB mirror of [[bpeTokens]] (a LIST expression). */
  def bpeTokensSql(expr: String, merges: Seq[(String, String)] = bpeMerges): String =
    s"regexp_extract_all(${bpeMergedSql(expr, merges)}, " +
      "'\\x1f([^\\x1f\\x1e]*)\\x1f', 1)"
}
