package graft.queries

import graft.operators.{Corpus, Dedup, RangeJoin, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Corpus-construction + range-join operators, each with a DuckDB
  * oracle. Sampling/packing are md5-bucket / prefix-sum deterministic
  * (identical membership and layout in any engine); the range join is
  * oracle-checked against DuckDB's native inequality join.
  */
object CorpusQueries {

  private val stopList = TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")

  /** Events with second-truncated timestamps (shared precision floor
    * between Spark micros and DuckDB nanos). */
  private def eventsSec(s: org.apache.spark.sql.SparkSession, d: String) =
    QueryDef.loadEvents(s, d).withColumn("ts", date_trunc("second", col("ts")))

  val all: Seq[QueryDef] = Seq(

    // Pure range join (no equi key): purchases inside the 10-minute
    // window after each error event, aggregated per incident. Spark's
    // planner alone would run this as a broadcast-nested-loop join;
    // RangeJoin bins the time axis so it becomes a hash equi-join on
    // the bin. DuckDB executes its native IEJoin as the oracle.
    QueryDef(
      "q_range_join",
      (s, d) => {
        val ev = eventsSec(s, d)
        val incidents = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("incident_id"), col("ts").as("its"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("ts").as("pts"), col("value"))
        val pairs = RangeJoin.pointInInterval(
          purchases, incidents, "pts", "its", lengthSec = 600, binSec = 600)
        val agg = pairs.groupBy(col("incident_id"))
          .agg(count(lit(1)).as("np"),
            sum(col("value").cast(DecimalType(12, 2))).as("sv"))
        incidents.select(col("incident_id"))
          .join(agg, Seq("incident_id"), "left")
          .select(col("incident_id"),
            coalesce(col("np"), lit(0L)).as("n_purchases"),
            coalesce(col("sv"), lit(0).cast(DecimalType(12, 2)))
              .cast(DoubleType).as("sum_value"))
      },
      Some("""WITH e AS (SELECT event_id AS incident_id,
             |  date_trunc('second', ts) AS ts
             |  FROM events WHERE event_type = 'error'),
             |p AS (SELECT date_trunc('second', ts) AS ts, value
             |  FROM events WHERE event_type = 'purchase')
             |SELECT e.incident_id,
             | CAST(count(p.ts) AS BIGINT) AS n_purchases,
             | CAST(coalesce(sum(CAST(p.value AS DECIMAL(12,2))),
             |   CAST(0 AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM e LEFT JOIN p
             | ON p.ts >= e.ts AND p.ts < e.ts + INTERVAL 600 SECOND
             |GROUP BY e.incident_id""".stripMargin),
    ),

    // Deterministic per-language sampling rates (domain mixing): the
    // md5 bucket makes membership a pure function of doc_id.
    QueryDef(
      "q_sample_stratified",
      (s, d) => Corpus.stratifiedSample(
        QueryDef.load(s, d, "documents"), "lang", "doc_id",
        rates = Map("en" -> 0.25, "de" -> 0.5, "es" -> 0.75, "fr" -> 1.0),
        defaultRate = 0.10)
        .select(col("doc_id"), col("lang")),
      Some("""SELECT doc_id, lang FROM (
             |  SELECT doc_id, lang,
             |    ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             |      % 10000 AS b
             |  FROM documents)
             |WHERE b < CASE lang WHEN 'en' THEN 2500 WHEN 'de' THEN 5000
             |  WHEN 'es' THEN 7500 WHEN 'fr' THEN 10000 ELSE 1000 END"""
        .stripMargin),
    ),

    // Exact-n deterministic uniform sample: the 100 docs with the
    // smallest seeded md5 draw — a distributed top-n
    // (TakeOrderedAndProject), not a global sort, and samples nest
    // across n (the scaling-law ladder property).
    QueryDef(
      "q_sample_exact_n",
      (s, d) => Corpus.sampleExactN(
        QueryDef.load(s, d, "documents"), "doc_id", n = 100)
        .select(col("doc_id"), col("lang")),
      Some("""SELECT doc_id, lang FROM documents
             |ORDER BY md5('exact:' || CAST(doc_id AS VARCHAR)), doc_id
             |LIMIT 100""".stripMargin),
    ),

    // Size-balanced shard assignment: global descending-size
    // round-robin over 8 shards (the LPT-style static balancer for
    // writing near-equal-mass training shards). The global order
    // rides GlobalRank's distributed rank — no single-task window.
    QueryDef(
      "q_corpus_shards",
      (s, d) => Corpus.shardAssign(
        QueryDef.load(s, d, "documents"), "doc_id", "n_chars", nShards = 8)
        .select(col("doc_id"), col("n_chars"), col("shard")),
      Some("""SELECT doc_id, n_chars,
             |  CAST((ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id ASC) - 1)
             |    % 8 AS INT) AS shard
             |FROM documents""".stripMargin),
    ),

    // Weighted sampling without replacement (A-Res), 20 docs per
    // language with inclusion probability proportional to a weight:
    // rank by -ln(u)/w over an md5 uniform. u is a dyadic double
    // (exact in both engines) and the key is rounded to 9 decimals so
    // libm ulp differences cannot flip ranks.
    QueryDef(
      "q_sample_weighted",
      (s, d) => Corpus.weightedSample(
        QueryDef.load(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            (col("doc_id") % 5 + lit(0.5)).as("wt")),
        "lang", "doc_id", "wt", k = 20)
        .select(col("doc_id"), col("lang"), col("wt"),
          col("sample_key"), col("sample_rank")),
      Some("""WITH w AS (SELECT doc_id, lang,
             |  CAST(doc_id % 5 + 0.5 AS DOUBLE) AS wt,
             |  (('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             |    + 1) / 4294967296.0 AS u
             |  FROM documents),
             |k AS (SELECT doc_id, lang, wt,
             |  round(-ln(u) / wt, 9) AS sample_key FROM w),
             |r AS (SELECT *, row_number() OVER (PARTITION BY lang
             |  ORDER BY sample_key, doc_id) AS sample_rank FROM k)
             |SELECT doc_id, lang, wt, sample_key, sample_rank
             |FROM r WHERE sample_rank <= 20""".stripMargin),
    ),

    // Fractional-epoch repetition (data-mixture weights): weight 2.3
    // -> 2 copies plus a 3rd with md5 probability 0.3; expected
    // multiplicity equals the weight, materialization is identical on
    // every run and engine. Scan-local generate, no shuffle.
    QueryDef(
      "q_corpus_mix",
      (s, d) => Corpus.epochRepeat(
        QueryDef.load(s, d, "documents")
          .select(col("doc_id"), ((col("doc_id") % 37) / 10.0).as("wt")),
        "doc_id", "wt")
        .select(col("doc_id"), col("wt"), col("n_reps"), col("epoch")),
      Some("""WITH w AS (SELECT doc_id, (doc_id % 37) / 10.0 AS wt,
             |  CAST(round((doc_id % 37) / 10.0 * 10000) AS BIGINT) AS wbp,
             |  (('0x' || substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             |    * 10000) >> 32 AS draw
             |  FROM documents),
             |r AS (SELECT doc_id, wt,
             |  wbp // 10000 + CASE WHEN draw < wbp % 10000 THEN 1 ELSE 0 END
             |    AS n_reps
             |  FROM w)
             |SELECT doc_id, wt, n_reps, unnest(range(1, n_reps + 1)) AS epoch
             |FROM r WHERE n_reps >= 1""".stripMargin),
    ),

    // Temperature-scaled domain mixing over the skewed language
    // histogram (T=2 halves the exponent: en's 44% share flattens
    // toward uniform, tail languages keep everything), half-size
    // budget. Per-language keep rates derive from nano-quantized
    // pow() weights so both engines normalize over identical
    // integers; membership is the md5 basis-point draw. One tiny
    // histogram shuffle + broadcast rates; the corpus filter is
    // scan-local.
    QueryDef(
      "q_corpus_mix_temperature",
      (s, d) => Corpus.temperatureMix(
        QueryDef.load(s, d, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id", temperature = 2.0, budgetFrac = 0.5)
        .select(col("doc_id"), col("lang"), col("rate_bp")),
      Some("""WITH c AS (SELECT lang, count(*) AS n
             |  FROM documents GROUP BY lang),
             |t AS (SELECT lang, n, sum(n) OVER () AS tot FROM c),
             |w AS (SELECT lang, n, tot,
             |  CAST(round(pow(CAST(n AS DOUBLE) / tot, 1 / 2.0) * 1e9) AS BIGINT) AS wq
             |  FROM t),
             |r AS (SELECT lang, n, tot, wq, sum(wq) OVER () AS wsum FROM w),
             |rb AS (SELECT lang, least(10000,
             |    CAST(round(CAST(wq AS DOUBLE) / wsum * tot * 0.5 / n * 10000) AS BIGINT))
             |  AS rate_bp FROM r)
             |SELECT d.doc_id, d.lang, rb.rate_bp
             |FROM documents d JOIN rb USING (lang)
             |WHERE ('0x' || substr(md5('tmix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
             |  < rate_bp""".stripMargin),
    ),

    // Bigram-LM perplexity scoring (CCNet-style quality filter): avg
    // negative log-prob per doc under the corpus's own add-one-
    // smoothed bigram model. Micro-nat quantization before the
    // per-doc sum keeps the aggregation exact-integer on both
    // engines.
    QueryDef(
      "q_lm_perplexity",
      (s, d) => TextAnalysis.bigramSurprise(
        QueryDef.load(s, d, "documents"), "text", "doc_id"),
      Some("""WITH w AS (SELECT doc_id,
             |  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
             |  FROM documents),
             |toks AS (SELECT doc_id, unnest(ws) AS term FROM w),
             |v AS (SELECT count(DISTINCT term) AS v FROM toks),
             |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
             |    i -> struct_pack(a := ws[i], b := ws[i+1]))) AS p
             |  FROM w WHERE len(ws) >= 2),
             |b AS (SELECT doc_id, p.a AS a, p.b AS b FROM bg),
             |cab AS (SELECT a, b, count(*) AS cab FROM b GROUP BY a, b),
             |ctx AS (SELECT a, count(*) AS ctx FROM b GROUP BY a),
             |scored AS (SELECT doc_id,
             |  CAST(round(-ln(CAST(cab + 1 AS DOUBLE) / (ctx + v)) * 1e6) AS BIGINT)
             |    AS micro
             |  FROM b JOIN cab USING (a, b) JOIN ctx USING (a), v)
             |SELECT doc_id, count(*) AS n_bigrams,
             | round(CAST(sum(micro) AS DOUBLE) / count(*) / 1000000.0, 6) AS nll
             |FROM scored GROUP BY doc_id""".stripMargin),
    ),

    // Concat-and-chunk sequence packing into 512-token training
    // sequences, 8 shards packed independently.
    QueryDef(
      "q_pack_chunks",
      (s, d) => Corpus.packChunks(
        QueryDef.load(s, d, "documents")
          .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "shard", "doc_id", "n_tokens", budget = 512),
      Some("""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
             |  greatest(len(string_split(text, ' ')), 1) AS n_tokens
             |  FROM documents),
             |c AS (SELECT doc_id, shard, n_tokens,
             |  coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
             |  FROM t)
             |SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
             | CAST(cum // 512 AS BIGINT) AS chunk_start,
             | CAST((cum + n_tokens - 1) // 512 AS BIGINT) AS chunk_end,
             | CAST(cum % 512 AS BIGINT) AS chunk_offset
             |FROM c""".stripMargin),
    ),

    // The same packing, budgeted by the REAL BPE tokenizer instead of
    // whitespace words — the whole point of carrying an actual merge
    // table: chunk boundaries land where a trained tokenizer's token
    // budget says they do, on both engines (the oracle embeds the
    // generated merge-chain SQL).
    QueryDef(
      "q_pack_chunks_bpe",
      (s, d) => Corpus.packChunks(
        QueryDef.load(s, d, "documents")
          .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
            TextAnalysis.bpeTokenCount(col("text")).as("n_tokens")),
        "shard", "doc_id", "n_tokens", budget = 512),
      Some(s"""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
              |  greatest(${TextAnalysis.bpeTokenCountSql("text")}, 1) AS n_tokens
              |  FROM documents),
              |c AS (SELECT doc_id, shard, n_tokens,
              |  coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
              |  FROM t)
              |SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
              | CAST(cum // 512 AS BIGINT) AS chunk_start,
              | CAST((cum + n_tokens - 1) // 512 AS BIGINT) AS chunk_end,
              | CAST(cum % 512 AS BIGINT) AS chunk_offset
              |FROM c""".stripMargin),
    ),

    // BPE merge-table LEARNING on the corpus itself — the training
    // side of the tokenizer the q_text_*_bpe queries apply: 8 rounds
    // of corpus-wide pair counting + argmax merge, driver-coordinated
    // like the CC builds (rounds execute at plan construction). The
    // oracle replays the identical loop as materialized CTEs; counts
    // are integers, ties lexicographic, so the learned table is exact
    // on both engines — later rounds merging earlier rounds' symbols
    // (hierarchical subwords) included.
    QueryDef(
      "q_bpe_learn",
      (s, d) => TextAnalysis.learnBpeMerges(
        QueryDef.load(s, d, "documents"), "text", nMerges = 8),
      Some(TextAnalysis.learnBpeMergesSql(8)),
    ),

    // Tokenize with the corpus's OWN learned vocabulary — the full
    // train->apply loop as one oracle-gated query: learn 8 merges
    // (plan-time rounds, as above), then count per-doc tokens under
    // that table. The oracle's final corpus state after its own 8th
    // merge IS the tokenized corpus, so engines agree exactly or not
    // at all — any drift in either the trainer or the applier breaks
    // the hash.
    QueryDef(
      "q_text_tokens_bpe_learned",
      (s, d) => {
        val docs = QueryDef.load(s, d, "documents")
        val merges = TextAnalysis.learnBpeMerges(docs, "text", nMerges = 8)
          .orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        docs.select(col("doc_id"),
          TextAnalysis.bpeTokenCount(col("text"), merges).as("n_tokens"))
      },
      Some(TextAnalysis.learnedBpeTokenCountSql(8)),
    ),

    // Stride windowing over the REAL BPE token stream: fixed 64-token
    // training sequences with 16 tokens of overlap — the split-long-docs
    // complement to q_pack_chunks_bpe's pack-short-docs. Window layout
    // is a pure integer function of the token count, identical on both
    // engines; chunk_text is the window's tokens rejoined (the token
    // stream is what a trainer consumes — original spacing is already
    // gone at tokenization).
    QueryDef(
      "q_chunk_overlap",
      (s, d) => Corpus.windowChunks(
        QueryDef.load(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.bpeTokens(col("text")).as("toks")),
        "doc_id", "toks", chunkTokens = 64, overlapTokens = 16),
      Some(s"""WITH t AS (SELECT doc_id,
              |  ${TextAnalysis.bpeTokensSql("text")} AS toks FROM documents),
              |n AS (SELECT doc_id, toks,
              |  greatest((greatest(len(toks) - 16, 0) + 47) // 48, 1) AS nc
              |  FROM t),
              |x AS (SELECT doc_id, toks, unnest(range(0, nc)) AS chunk_idx
              |  FROM n)
              |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
              | CAST(len(list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64))
              |   AS BIGINT) AS n_tokens,
              | coalesce(array_to_string(
              |   list_slice(toks, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ''),
              |   '') AS chunk_text
              |FROM x""".stripMargin),
    ),

    // PII scrub over the event props payload: email/IP/phone redaction
    // chain plus aggressive number scrubbing, with match counts. The
    // patterns live in the Java-regex ∩ RE2 subset so the exact same
    // pattern text runs on both engines.
    QueryDef(
      "q_pii_redact",
      (s, d) => QueryDef.loadEvents(s, d).select(
        col("event_id"),
        TextAnalysis.redactNumbers(
          TextAnalysis.redactPii(col("props"))).as("redacted"),
        TextAnalysis.matchCount(col("props"), TextAnalysis.NumberRe).as("n_nums"),
        TextAnalysis.matchCount(col("props"), TextAnalysis.EmailRe).as("n_emails")),
      // DuckDB single-quoted strings keep backslashes literal, so the
      // Scala pattern strings embed verbatim
      Some(s"""SELECT event_id,
              | regexp_replace(regexp_replace(regexp_replace(regexp_replace(
              |   props,
              |   '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
              |   '${TextAnalysis.Ipv4Re}', '<IP>', 'g'),
              |   '${TextAnalysis.PhoneRe}', '<PHONE>', 'g'),
              |   '${TextAnalysis.NumberRe}', '<NUM>', 'g') AS redacted,
              | len(regexp_extract_all(props, '${TextAnalysis.NumberRe}')) AS n_nums,
              | len(regexp_extract_all(props,
              |   '${TextAnalysis.EmailRe}')) AS n_emails
              |FROM events""".stripMargin),
    ),

    // Corpus-level boilerplate removal (C4/RefinedWeb cleaning):
    // segments occurring verbatim in >= 2 distinct docs are dropped
    // from every doc, which is reassembled in source order. Content-
    // defined segmentation (split on a literal common token) makes a
    // shared block produce identical segments at any offset; the
    // df-count branch shuffles only (id, 32-bit hash) pairs.
    QueryDef(
      "q_text_boilerplate",
      (s, d) => TextAnalysis.removeBoilerplate(
        QueryDef.load(s, d, "documents"), "text", "doc_id",
        delim = " the ", minDocs = 2, minLen = 20),
      Some(s"""WITH t AS (SELECT doc_id,
             |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
             |  FROM documents),
             |l0 AS (SELECT doc_id, string_split(t, ' the ') AS ls FROM t),
             |l AS (SELECT doc_id, pos, ls[pos] AS seg,
             |  ('0x' || substr(md5(ls[pos]), 1, 8))::BIGINT AS h
             |  FROM (SELECT doc_id, ls,
             |    unnest(range(1, len(ls) + 1)) AS pos FROM l0)),
             |bp AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS d
             |  FROM l WHERE len(seg) >= 20 GROUP BY h) WHERE d >= 2),
             |m AS (SELECT l.doc_id, l.pos, l.seg,
             |  CASE WHEN bp.h IS NULL THEN 0 ELSE 1 END AS f
             |  FROM l LEFT JOIN bp ON l.h = bp.h)
             |SELECT doc_id,
             |  coalesce(string_agg(CASE WHEN f = 0 THEN seg END,
             |    ' the ' ORDER BY pos), '') AS clean_text,
             |  CAST(count(*) AS BIGINT) AS n_segments,
             |  CAST(sum(f) AS BIGINT) AS n_removed
             |FROM m GROUP BY doc_id""".stripMargin),
    ),

    // HTML/markup stripping (crawled-corpus cleaning): the fixture has
    // no markup, so the query WRAPS each document in deterministic
    // HTML — script/style blocks whose content must vanish wholesale,
    // a comment, attributes, entities — and strips it back. Both
    // engines run the identical RE2-safe pattern chain (no backrefs,
    // no lookaround); scan-local regexp_replace, no shuffle.
    QueryDef(
      "q_text_strip_html",
      (s, d) => {
        val html = concat(
          lit("<html><head><style>body { color: red; }</style></head>" +
            "<body><h1>Doc "),
          col("doc_id").cast("string"),
          lit("</h1><!-- crawler: drop me --><p class=\"main\">"),
          col("text"),
          lit(" &amp; more &lt;tags&gt;</p>" +
            "<script>if (1 < 2) { track(); }</script></body></html>"))
        QueryDef.load(s, d, "documents").select(
          col("doc_id"),
          TextAnalysis.stripHtml(html).as("clean"))
      },
      Some("""WITH h AS (SELECT doc_id,
             |  '<html><head><style>body { color: red; }</style></head><body><h1>Doc '
             |  || CAST(doc_id AS VARCHAR)
             |  || '</h1><!-- crawler: drop me --><p class="main">' || text
             |  || ' &amp; more &lt;tags&gt;</p><script>if (1 < 2) { track(); }</script></body></html>'
             |  AS html FROM documents)
             |SELECT doc_id, trim(regexp_replace(
             |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             |  regexp_replace(regexp_replace(
             |    html,
             |    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
             |    '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
             |    '(?s)<!--.*?-->', ' ', 'g'),
             |    '<[^>]+>', ' ', 'g'),
             |    '&nbsp;', ' ', 'g'),
             |    '&lt;', '<', 'g'),
             |    '&gt;', '>', 'g'),
             |    '&quot;', '"', 'g'),
             |    '&#39;', CHR(39), 'g'),
             |    '&amp;', '&', 'g'),
             |  '\s+', ' ', 'g')) AS clean
             |FROM h""".stripMargin),
    ),

    // Per-source document cap (cluster-size capping): at most 10 docs
    // per source, drawn by deterministic hash — the post-dedup step
    // that stops any one domain/cluster from dominating the mix.
    QueryDef(
      "q_group_cap",
      (s, d) => Corpus.capPerGroup(
        QueryDef.load(s, d, "documents").select(col("doc_id"), col("source")),
        "source", "doc_id", k = 10)
        .select(col("doc_id"), col("source")),
      Some("""SELECT doc_id, source FROM (
             |  SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source
             |    ORDER BY ('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
             |      doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 10""".stripMargin),
    ),

    // Budgeted greedy selection: best docs by quality until an 8k
    // token budget is spent (binds mid-corpus at the driver's sf). Rank AND running cost ride GlobalRank's
    // distributed buckets — the naive form is a one-task global
    // cumsum window.
    QueryDef(
      "q_select_budget",
      (s, d) => {
        val base = QueryDef.load(s, d, "documents").select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("q"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
        Corpus.selectUnderBudget(base, "doc_id", "q", "n_toks",
            budget = 8000)
          .select(col("doc_id"), col("q"), col("n_toks"),
            col("running"), col("rank"))
      },
      Some(s"""WITH t AS (SELECT doc_id,
              |  round(least(1.0, n_words / 50.0) *
              |    (1.0 - stop_hits / CAST(n_words AS DOUBLE)), 6) AS q,
              |  CAST(n_words AS BIGINT) AS n_toks
              |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_words,
              |    len(list_filter(string_split(text, ' '),
              |        x -> x IN ($stopList))) AS stop_hits
              |    FROM documents)),
              |r AS (SELECT doc_id, q, n_toks,
              |  CAST(SUM(n_toks) OVER (ORDER BY q DESC, doc_id ASC
              |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running,
              |  ROW_NUMBER() OVER (ORDER BY q DESC, doc_id ASC) AS rank
              |  FROM t)
              |SELECT doc_id, q, n_toks, running, rank FROM r
              |WHERE running <= 8000""".stripMargin),
    ),

    // Snapshot drift monitor: smoothed per-language KL(A || B)
    // contributions between two corpus halves (the crawl-over-crawl
    // mix-shift check). Nano-nat integer contributions; totals fold
    // exactly.
    QueryDef(
      "q_corpus_drift",
      (s, d) => {
        val docs = QueryDef.load(s, d, "documents")
        graft.operators.Profile.distributionDrift(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "lang")
      },
      Some("""WITH a AS (SELECT lang, count(*) AS na FROM documents
             |  WHERE doc_id % 2 = 0 GROUP BY lang),
             |b AS (SELECT lang, count(*) AS nb FROM documents
             |  WHERE doc_id % 2 = 1 GROUP BY lang),
             |keys AS (SELECT lang FROM a UNION SELECT lang FROM b),
             |t AS (SELECT keys.lang, CAST(coalesce(na, 0) AS BIGINT) AS na,
             |    CAST(coalesce(nb, 0) AS BIGINT) AS nb
             |  FROM keys LEFT JOIN a USING (lang) LEFT JOIN b USING (lang)),
             |tot AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
             |  CAST(sum(nb) AS BIGINT) AS tb, count(*) AS kk FROM t)
             |SELECT lang, na, nb,
             |  round((na + 1.0) / (ta + kk), 6) AS p_a,
             |  round((nb + 1.0) / (tb + kk), 6) AS p_b,
             |  CAST(round(((na + 1.0) / (ta + kk))
             |    * ln(((na + 1.0) / (ta + kk)) / ((nb + 1.0) / (tb + kk)))
             |    * 1e9) AS BIGINT) AS kl_nano
             |FROM t, tot""".stripMargin),
    ),

    // Gopher-rules quality verdict (Rae et al. 2021): the
    // literature-standard rule battery, thresholds compared in exact
    // integer arithmetic so keep can never flip on a float edge.
    QueryDef(
      "q_quality_gopher",
      (s, d) => TextAnalysis.gopherQuality(
        QueryDef.load(s, d, "documents"), "text", "doc_id"),
      Some(s"""WITH sdocs AS (SELECT doc_id,
              |  string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws,
              |  string_split(text, chr(10)) AS ls,
              |  len(regexp_extract_all(text, '#|\\.\\.\\.')) AS symbols
              |  FROM documents),
              |t AS (SELECT doc_id,
              |  CAST(len(ws) AS BIGINT) AS n_words,
              |  CAST(list_sum(list_transform(ws, x -> len(x))) AS BIGINT) AS sum_wlen,
              |  CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha_words,
              |  CAST(len(list_filter(ws, x -> x IN ($stopList))) AS BIGINT) AS stop_hits,
              |  CAST(symbols AS BIGINT) AS symbols,
              |  CAST(len(ls) AS BIGINT) AS n_lines,
              |  CAST(len(list_filter(ls, x -> regexp_matches(trim(x), '^[-*•]'))) AS BIGINT) AS bullet_lines,
              |  CAST(len(list_filter(ls, x -> regexp_matches(x, '\\.\\.\\.$$'))) AS BIGINT) AS ellipsis_lines
              |  FROM sdocs)
              |SELECT doc_id, n_words,
              |  round(sum_wlen / n_words, 6) AS mean_wlen,
              |  round(symbols / n_words, 6) AS symbol_ratio,
              |  round(alpha_words / n_words, 6) AS alpha_ratio,
              |  stop_hits,
              |  (n_words >= 50 AND n_words <= 100000
              |   AND sum_wlen >= n_words * 3 AND sum_wlen <= n_words * 10
              |   AND symbols * 10 < n_words
              |   AND alpha_words * 5 >= n_words * 4 AND stop_hits >= 2
              |   AND bullet_lines * 10 <= n_lines * 9
              |   AND ellipsis_lines * 10 <= n_lines * 3) AS keep
              |FROM t""".stripMargin),
    ),

    // Quantile-gated quality filter: keep docs at or above the 25th
    // percentile of quality WITHIN their language (per-stratum gating —
    // a global cut would empty out low-scoring languages). percent_rank
    // over (q, doc_id) is deterministic and engine-portable.
    QueryDef(
      "q_quality_filter",
      (s, d) => {
        val base = QueryDef.load(s, d, "documents").select(
          col("doc_id"), col("lang"),
          TextAnalysis.qualityScore(col("text")).as("q"))
        val w = Window.partitionBy(col("lang")).orderBy(col("q").asc_nulls_last, col("doc_id"))
        base.withColumn("pr", percent_rank().over(w))
          .filter(col("pr") >= 0.25)
          .select(col("doc_id"), col("lang"), col("q"),
            round(col("pr"), 6).as("pr"))
      },
      Some(s"""WITH t AS (SELECT doc_id, lang,
              |  round(least(1.0, n_words / 50.0) *
              |    (1.0 - stop_hits / CAST(n_words AS DOUBLE)), 6) AS q
              |  FROM (SELECT doc_id, lang,
              |    len(string_split(text, ' ')) AS n_words,
              |    len(list_filter(string_split(text, ' '),
              |        x -> x IN ($stopList))) AS stop_hits
              |    FROM documents)),
              |r AS (SELECT doc_id, lang, q,
              |  percent_rank() OVER (PARTITION BY lang ORDER BY q NULLS LAST, doc_id) AS pr
              |  FROM t)
              |SELECT doc_id, lang, q, round(pr, 6) AS pr
              |FROM r WHERE pr >= 0.25""".stripMargin),
    ),

    // Corpus reporting: per-language doc/token/char totals, exact
    // average tokens-per-doc (one double division of exact BIGINTs),
    // and nearest-rank median doc length.
    QueryDef(
      "q_corpus_stats",
      (s, d) => {
        val base = QueryDef.load(s, d, "documents").select(col("lang"),
          col("doc_id"), TextAnalysis.tokenCount(col("text")).cast("long").as("nt"),
          length(col("text")).cast("long").as("nc"))
        val w = Window.partitionBy(col("lang")).orderBy(col("nt").asc_nulls_last, col("doc_id"))
        val wc = Window.partitionBy(col("lang"))
        base
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(wc))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nt")).as("total_tokens"),
            sum(col("nc")).as("total_chars"),
            round(sum(col("nt")).cast(DoubleType) / count(lit(1)), 6)
              .as("avg_tokens"),
            max(when(col("rn") === ceil(col("n") * 0.5), col("nt")))
              .as("median_tokens"))
      },
      Some("""WITH t AS (SELECT lang, doc_id,
             |  len(string_split(text, ' ')) AS nt, length(text) AS nc
             |  FROM documents),
             |r AS (SELECT lang, nt, nc,
             |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY nt NULLS LAST, doc_id) AS rn,
             |  count(*) OVER (PARTITION BY lang) AS n FROM t)
             |SELECT lang, count(*) AS n_docs,
             | CAST(sum(nt) AS BIGINT) AS total_tokens,
             | CAST(sum(nc) AS BIGINT) AS total_chars,
             | round(CAST(sum(nt) AS DOUBLE) / count(*), 6) AS avg_tokens,
             | CAST(max(CASE WHEN rn = ceil(n * 0.5) THEN nt END) AS BIGINT)
             |   AS median_tokens
             |FROM r GROUP BY lang""".stripMargin),
    ),

    // THE corpus-construction flagship: the full deterministic chain a
    // training-data build runs, composed from the individually-proven
    // operators — exact-dedup to canonical docs, drop eval-contaminated
    // docs, per-language quality gate, per-source cap, split assign.
    // Every stage is a pure function of the data (md5 buckets, shingle
    // hashes, integer ranks), so the final kept-set is reproducible
    // end to end and oracle-checkable as one composition.
    QueryDef(
      "q_corpus_pipeline",
      (s, d) => {
        val docs = QueryDef.load(s, d, "documents")
        val evalSet = docs.filter(col("doc_id") < 10)
        val corpus = docs.filter(col("doc_id") >= 10)
        val canon = Dedup.exactDedupGroups(corpus, "text", "doc_id")
          .select(col("canonical_id").as("doc_id"))
        val base = corpus.join(canon, "doc_id")
        val contam = Dedup.contaminatedDocs(corpus, evalSet, "text", "doc_id")
          .select(col("doc_id"))
        val clean = base.join(contam, Seq("doc_id"), "left_anti")
        val scored = clean.select(col("doc_id"), col("lang"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("q"))
        val w = Window.partitionBy(col("lang")).orderBy(col("q").asc_nulls_last, col("doc_id"))
        val kept = scored.withColumn("pr", percent_rank().over(w))
          .filter(col("pr") >= 0.10)
          .select(col("doc_id"), col("lang"), col("source"))
        Corpus.capPerGroup(kept, "source", "doc_id", k = 15)
          .select(col("doc_id"), col("lang"), col("source"),
            TextAnalysis.assignSplit(col("doc_id")).as("split"))
      },
      Some(s"""WITH fp AS (SELECT doc_id, lang, source, text,
              |  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
              |  FROM documents WHERE doc_id >= 10),
              |canon AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
              |base AS (SELECT fp.doc_id, fp.lang, fp.source, fp.text
              |  FROM fp JOIN canon USING (doc_id)),
              |w AS (SELECT doc_id,
              |  string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
              |  FROM documents),
              |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
              |  i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s FROM w),
              |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
              |hs AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT AS h FROM ex),
              |ev AS (SELECT DISTINCT h FROM hs WHERE doc_id < 10),
              |contam AS (SELECT DISTINCT hs.doc_id FROM hs JOIN ev USING (h)
              |  WHERE hs.doc_id >= 10),
              |clean AS (SELECT b.* FROM base b
              |  WHERE b.doc_id NOT IN (SELECT doc_id FROM contam)),
              |scored AS (SELECT doc_id, lang, source,
              |  round(least(1.0, n_words / 50.0) *
              |    (1.0 - stop_hits / CAST(n_words AS DOUBLE)), 6) AS q
              |  FROM (SELECT doc_id, lang, source,
              |    len(string_split(text, ' ')) AS n_words,
              |    len(list_filter(string_split(text, ' '),
              |        x -> x IN ($stopList))) AS stop_hits
              |    FROM clean)),
              |kept AS (SELECT doc_id, lang, source FROM (
              |  SELECT doc_id, lang, source,
              |    percent_rank() OVER (PARTITION BY lang ORDER BY q NULLS LAST, doc_id) AS pr
              |  FROM scored) WHERE pr >= 0.10),
              |capped AS (SELECT doc_id, lang, source FROM (
              |  SELECT doc_id, lang, source,
              |    ROW_NUMBER() OVER (PARTITION BY source
              |      ORDER BY ('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
              |        doc_id) AS rn
              |  FROM kept) WHERE rn <= 15)
              |SELECT doc_id, lang, source,
              | CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
              |      ELSE 'test' END AS split
              |FROM (SELECT doc_id, lang, source,
              |  ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
              |  FROM capped)""".stripMargin),
    ),

    // The NEAR-dup variant of the composed pipeline: stage 1 swaps the
    // exact-fingerprint canonical for MinHash-LSH clusters +
    // best-quality canonical selection (Dedup.canonicalPerCluster) —
    // boilerplate variants that exact dedup misses collapse to their
    // best-scoring member before decontamination/gating. Candidates on
    // the corpus subset equal the induced subgraph of the full
    // candidate set (signatures are per-doc), which is how the oracle
    // states it.
    QueryDef(
      "q_corpus_pipeline_neardup",
      (s, d) => {
        val docs = QueryDef.load(s, d, "documents")
        val evalSet = docs.filter(col("doc_id") < 10)
        val corpus = docs.filter(col("doc_id") >= 10)
        val labels = Dedup.dupClustersStar(
          Dedup.minHashCandidates(corpus, "text", "doc_id"), corpus, "doc_id")
        val scoredAll = corpus.select(col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("q"))
        val canon = Dedup.canonicalPerCluster(labels, scoredAll, "doc_id", "q")
          .filter(col("is_canonical") === 1)
          .select(col("doc_id"))
        val base = corpus.join(canon, Seq("doc_id"))
        val contam = Dedup.contaminatedDocs(corpus, evalSet, "text", "doc_id")
          .select(col("doc_id"))
        val clean = base.join(contam, Seq("doc_id"), "left_anti")
        val scored = clean.select(col("doc_id"), col("lang"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("q"))
        val w = Window.partitionBy(col("lang")).orderBy(col("q").asc_nulls_last, col("doc_id"))
        val kept = scored.withColumn("pr", percent_rank().over(w))
          .filter(col("pr") >= 0.10)
          .select(col("doc_id"), col("lang"), col("source"))
        Corpus.capPerGroup(kept, "source", "doc_id", k = 15)
          .select(col("doc_id"), col("lang"), col("source"),
            TextAnalysis.assignSplit(col("doc_id")).as("split"))
      },
      Some(s"""WITH RECURSIVE ${DataOpsQueries.duckMinhashCand},
              |edges AS (SELECT id1, id2 FROM cand WHERE id1 >= 10 AND id2 >= 10
              |  UNION ALL SELECT id2, id1 FROM cand WHERE id1 >= 10 AND id2 >= 10),
              |reach(id, r) AS (
              |  SELECT doc_id, doc_id FROM documents WHERE doc_id >= 10
              |  UNION
              |  SELECT e.id2, reach.r FROM reach JOIN edges e ON e.id1 = reach.id),
              |lab AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id),
              |scq AS (SELECT doc_id, round(least(1.0, n_words / 50.0) *
              |    (1.0 - stop_hits / CAST(n_words AS DOUBLE)), 6) AS q
              |  FROM (SELECT doc_id,
              |    len(string_split(text, ' ')) AS n_words,
              |    len(list_filter(string_split(text, ' '),
              |        x -> x IN ($stopList))) AS stop_hits
              |    FROM documents WHERE doc_id >= 10)),
              |canon AS (SELECT doc_id FROM (
              |  SELECT l.doc_id, first_value(l.doc_id) OVER
              |    (PARTITION BY l.cluster ORDER BY s.q DESC, l.doc_id) AS cid
              |  FROM lab l JOIN scq s USING (doc_id)) t WHERE doc_id = cid),
              |ev AS (SELECT DISTINCT h FROM hs WHERE doc_id < 10),
              |contam AS (SELECT DISTINCT hs.doc_id FROM hs JOIN ev USING (h)
              |  WHERE hs.doc_id >= 10),
              |clean AS (SELECT d.doc_id, d.lang, d.source, d.text
              |  FROM documents d JOIN canon USING (doc_id)
              |  WHERE d.doc_id NOT IN (SELECT doc_id FROM contam)),
              |scored AS (SELECT doc_id, lang, source,
              |  round(least(1.0, n_words / 50.0) *
              |    (1.0 - stop_hits / CAST(n_words AS DOUBLE)), 6) AS q
              |  FROM (SELECT doc_id, lang, source,
              |    len(string_split(text, ' ')) AS n_words,
              |    len(list_filter(string_split(text, ' '),
              |        x -> x IN ($stopList))) AS stop_hits
              |    FROM clean)),
              |kept AS (SELECT doc_id, lang, source FROM (
              |  SELECT doc_id, lang, source,
              |    percent_rank() OVER (PARTITION BY lang ORDER BY q NULLS LAST, doc_id) AS pr
              |  FROM scored) WHERE pr >= 0.10),
              |capped AS (SELECT doc_id, lang, source FROM (
              |  SELECT doc_id, lang, source,
              |    ROW_NUMBER() OVER (PARTITION BY source
              |      ORDER BY ('0x' || substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
              |        doc_id) AS rn
              |  FROM kept) WHERE rn <= 15)
              |SELECT doc_id, lang, source,
              | CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
              |      ELSE 'test' END AS split
              |FROM (SELECT doc_id, lang, source,
              |  ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
              |  FROM capped)""".stripMargin),
    ),

    // Unigram-LM surprise (perplexity-filter stand-in): per-token
    // -ln p(term) under the corpus unigram model, quantized to integer
    // micro-nats so the per-doc aggregation is order-independent.
    QueryDef(
      "q_text_unigram",
      (s, d) => TextAnalysis.unigramSurprise(
        QueryDef.load(s, d, "documents"), "text", "doc_id"),
      Some("""WITH w AS (SELECT doc_id,
             |  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
             |  FROM documents),
             |toks AS (SELECT doc_id, unnest(ws) AS term FROM w),
             |tc AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
             |tot AS (SELECT count(*) AS n FROM toks),
             |scored AS (SELECT t.doc_id,
             |  CAST(round(-ln(CAST(tc.cnt AS DOUBLE) / n) * 1000000) AS BIGINT) AS micro
             |  FROM toks t JOIN tc USING (term), tot)
             |SELECT doc_id, count(*) AS n_toks,
             | round(CAST(sum(micro) AS DOUBLE) / count(*) / 1000000.0, 6)
             |   AS avg_surprise
             |FROM scored GROUP BY doc_id""".stripMargin),
    ),

    // Corpus-level n-gram statistics: top-5 bigrams per language by
    // frequency. Two shuffles (lang+bigram count, then per-lang top-k
    // via WindowGroupLimit-pushed rank).
    QueryDef(
      "q_ngram_top",
      (s, d) => {
        // Fan.out tried here and REVERTED (tools/FanCompare@3a89fdd, sf0.1, 4
        // rotated rounds): 0.82 -> 0.90 med — the (lang,bigram)
        // partial count collapses the exploded stream well enough
        // that the text shuffle costs more than the parallelized
        // tokenize+transform saves.
        val ws = QueryDef.load(s, d, "documents")
          .select(col("lang"), Dedup.words(col("text")).as("__ws"))
          .filter(size(col("__ws")) >= 2)
        val bigrams = ws.select(col("lang"),
          explode(transform(sequence(lit(0), size(col("__ws")) - 2),
            i => concat_ws(" ", element_at(col("__ws"), i + 1),
              element_at(col("__ws"), i + 2)))).as("bigram"))
        val counts = bigrams.groupBy(col("lang"), col("bigram"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("cnt").desc, col("bigram").asc)
        counts.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
      },
      Some("""WITH w AS (SELECT lang,
             |  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
             |  FROM documents),
             |b AS (SELECT lang, unnest(list_transform(range(1, len(ws)),
             |    i -> ws[i] || ' ' || ws[i+1])) AS bigram
             |  FROM w WHERE len(ws) >= 2),
             |c AS (SELECT lang, bigram, count(*) AS cnt FROM b GROUP BY 1, 2),
             |r AS (SELECT lang, bigram, cnt,
             |  ROW_NUMBER() OVER (PARTITION BY lang
             |    ORDER BY cnt DESC, bigram ASC) AS rank FROM c)
             |SELECT lang, bigram, cnt, rank FROM r WHERE rank <= 5"""
        .stripMargin),
    ),
  )
}
