package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedup, HeurFuzz, Multimodal, Quota, Similarity, Sketches, TextAnalysis}

/** Registry pillar: text analysis: lang-id, quality, tokens, TF-IDF, BPE, BM25/PMI,
  * decontamination, budgets/mixing. Split from SparkEntry.scala
  * (round 8); query semantics and oracle SQL unchanged.
  */
trait TextRegistry extends RegistryBase {

  /** q184's scoring + bucketing pipeline: per-doc integer LM-rarity
    * score (mean inverse conditional bigram probability, pure BIGINT)
    * bucketed against its OWN language's tercile cutoffs — the cutoffs
    * come from a per-lang histogram cumsum, never a global doc sort.
    * Returns (doc_id, lang, rarity, bucket); shared by q184 (the report)
    * and q199 (the curriculum export).
    */
  private def lmQualityFrame(s: SparkSession, dir: String): DataFrame = {
    val toks = spread(s, rd(s, dir, "documents"))
      .select(col("doc_id"), col("lang"),
        TextFunctions.whitespaceTokens(lower(col("text"))).as("toks"))
      .localCheckpoint(false) // feeds the bigram AND unigram branches
    val bi = toks.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uni = toks.select(explode(col("toks")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val big = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val scored = bi.join(big, Seq("w1", "w2")).join(uni, Seq("w1"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr("c1 div c12")).as("rsum"))
      .withColumn("rarity", expr("(rsum * 1000) div n_bigrams"))
      .localCheckpoint(false) // feeds the histogram AND the bucket join
    val cum = scored.groupBy("lang", "rarity").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy("lang").orderBy("rarity")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val cuts = scored.groupBy("lang").agg(count(lit(1)).as("n"))
      .select(col("lang"), col("n"), explode(array(lit(1L), lit(2L))).as("b"))
      .withColumn("target", expr("(b * n + 2) div 3"))
      .join(cum, Seq("lang"))
      .filter(col("cum") >= col("target"))
      .groupBy("lang", "b").agg(min(col("rarity")).as("cut"))
      .groupBy("lang").agg(
        max(when(col("b") === 1, col("cut"))).as("c1v"),
        max(when(col("b") === 2, col("cut"))).as("c2v"))
    scored.join(broadcast(cuts), Seq("lang"))
      .withColumn("bucket",
        when(col("rarity") <= col("c1v"), lit("head"))
          .when(col("rarity") <= col("c2v"), lit("middle"))
          .otherwise(lit("tail")))
      .select("doc_id", "lang", "rarity", "bucket")
  }

  /** The oracle twin of lmQualityFrame: q184's scoring + per-lang
    * tercile bucketing, terminal CTE
    * `bucketed(doc_id, lang, rarity, bucket)`. Shared by q184 and q199.
    */
  protected lazy val lmBucketCtes: String =
    s"""t AS (SELECT doc_id, lang, $tokensLowerSql AS toks FROM documents WHERE trim(text) <> ''),
       |bb AS (SELECT doc_id, lang,
       |         unnest(list_transform(range(1, len(toks)),
       |           i -> {'w1': toks[i::INT], 'w2': toks[(i::INT)+1]})) AS b
       |       FROM t WHERE len(toks) >= 2),
       |bi AS (SELECT doc_id, lang, b.w1 AS w1, b.w2 AS w2 FROM bb),
       |c1 AS (SELECT w1, count(*) AS c1 FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY w1),
       |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
       |sc AS (SELECT doc_id, lang, count(*) AS n_bigrams,
       |         sum(c1.c1 // c12.c12)::BIGINT AS rsum
       |       FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
       |       GROUP BY doc_id, lang),
       |s2 AS (SELECT doc_id, lang, ((rsum * 1000) // n_bigrams)::BIGINT AS rarity FROM sc),
       |h AS (SELECT lang, rarity, count(*) AS cnt FROM s2 GROUP BY 1, 2),
       |c AS (SELECT lang, rarity,
       |        sum(cnt) OVER (PARTITION BY lang ORDER BY rarity) AS cum FROM h),
       |nn AS (SELECT lang, count(*) AS n FROM s2 GROUP BY 1),
       |tg AS (SELECT lang, n, b, (b * n + 2) // 3 AS target
       |       FROM (SELECT unnest([1, 2]::BIGINT[]) AS b), nn),
       |ct AS (SELECT tg.lang, tg.b, min(c.rarity) AS cut
       |       FROM tg JOIN c ON c.lang = tg.lang AND c.cum >= tg.target
       |       GROUP BY 1, 2),
       |cuts AS (SELECT lang, max(CASE WHEN b = 1 THEN cut END) AS c1v,
       |                max(CASE WHEN b = 2 THEN cut END) AS c2v FROM ct GROUP BY lang),
       |bucketed AS (SELECT s2.doc_id, s2.lang, s2.rarity,
       |       CASE WHEN rarity <= c1v THEN 'head'
       |            WHEN rarity <= c2v THEN 'middle' ELSE 'tail' END AS bucket
       |FROM s2 JOIN cuts ON cuts.lang = s2.lang)""".stripMargin

  /** Shared CTE chain for the q165/q167 trained language-ID oracles:
    * multiplicity-preserving char trigrams (docShinglesSql minus the
    * list_distinct; position i valid while i + 2 <= strlen), per-language
    * top-64 profiles (count desc, trigram asc), integer profile-hit
    * scores, (score desc, lang asc) argmax, alphabetical fallback.
    * Terminal CTE: `pred(doc_id, lang, pred_lang, best_score)`.
    */
  protected lazy val langIdTrigramCtes: String = {
    val tri3 = "list_transform(range(1, greatest(strlen(lower(text)) - 1, 1)), " +
      "i -> substr(lower(text), i::INT, 3))"
    s"""tri AS (SELECT doc_id, lang, unnest($tri3) AS g FROM documents),
       |cnt AS (SELECT lang AS plang, g, count(*) AS c FROM tri GROUP BY 1, 2),
       |prof AS (SELECT plang, g FROM (
       |  SELECT plang, g, row_number() OVER (PARTITION BY plang ORDER BY c DESC, g ASC) AS rn
       |  FROM cnt) WHERE rn <= 64),
       |sc AS (SELECT t.doc_id, p.plang, count(*)::BIGINT AS score
       |       FROM tri t JOIN prof p USING (g) GROUP BY 1, 2),
       |best AS (SELECT doc_id, plang, score FROM (
       |  SELECT doc_id, plang, score,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang ASC) AS rn
       |  FROM sc) WHERE rn = 1),
       |pred AS (
       |  SELECT d.doc_id, d.lang,
       |         coalesce(b.plang, (SELECT min(lang) FROM documents)) AS pred_lang,
       |         coalesce(b.score, 0)::BIGINT AS best_score
       |  FROM documents d LEFT JOIN best b USING (doc_id))""".stripMargin
  }

  /** q137's BM25 top-k frame (q_id, doc_id, score, rk), shared by the
    * plain top-k surface (q137) and the retrieve-then-rerank composite
    * (q177). Queries are the doc_id % Bm25QueryMod == 0 documents;
    * scoring is exact-integer micro-point BM25 (see q137's comment).
    */
  /** Shared BM25 top-k stage. `selective = true` applies the q159 df
    * stop cut on the tiny (query term, df) frame BEFORE the postings
    * join (terms with df·Bm25DfStopMult >= n_docs carry near-zero idf
    * weight but the entire join blowup; each query always keeps its
    * Bm25KeepRarest most selective terms so no query goes dark) — the
    * 100 TB configuration the retrieval composites (q177/q180) run on.
    * q137 keeps `selective = false` as the documented all-term baseline.
    */
  private def bm25TopkFrame(s: SparkSession, dir: String, selective: Boolean = false): DataFrame = {
    val toks = spread(s, rd(s, dir, "documents"))
      .select(col("doc_id"),
        explode(TextFunctions.whitespaceTokens(lower(col("text")))).as("term"))
      .localCheckpoint(false) // feeds postings, doc lengths, AND the query side
    val corpus = toks.filter(col("doc_id") % Bm25QueryMod =!= 0)
    val dl = corpus.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .localCheckpoint(false) // feeds the 1-row corpus stats AND the scoring join
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
    val postings = corpus.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(false) // feeds document frequencies AND the scoring join
    val dfT = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val qterms = toks.filter(col("doc_id") % Bm25QueryMod === 0)
      .select(col("doc_id").as("q_id"), col("term")).distinct()
    val qAll = dfT.join(broadcast(qterms), Seq("term"))
    val qsel =
      if (!selective) qAll.select("term", "q_id", "df")
      else qAll
        .crossJoin(broadcast(stats.select(col("n_docs"))))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("df"), col("term"))).cast("long"))
        .filter(col("rnk") <= Bm25KeepRarest ||
          col("df") * Bm25DfStopMult < col("n_docs"))
        .select("term", "q_id", "df")
    val scored = postings.join(broadcast(qsel), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib", expr(Bm25ContribSql).cast("long"))
      .groupBy("q_id", "doc_id").agg(sum(col("contrib")).as("score"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id")))
        .cast("long"))
      .filter(col("rk") <= Bm25TopK)
  }

  protected def textQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // pillar text analysis: sliding-window token CHUNKING — the RAG /
    // context-window prep step: 32-token chunks every 24 tokens (8-token
    // overlap so no boundary-straddling span is lost), short docs emit
    // one chunk so every doc_id survives. A pure narrow projection — no
    // shuffle at any scale; `stride` is the output-volume knob.
    "q172_chunk_overlap" -> ((s, dir) =>
      TextAnalysis.chunkTokens(spread(s, rd(s, dir, "documents")),
          "doc_id", "text", chunkSize = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx")),

    // pillar text analysis: argmax language classifier over stopword lists
    "q44_lang_id" -> ((s, dir) =>
      spread(s, rd(s, dir, "documents"))
        .select(
          col("doc_id"), col("lang"),
          TextAnalysis.predictedLang(col("text")).as("pred_lang"),
          TextAnalysis.bestLangScore(col("text")).as("best_score"))
        .orderBy("doc_id")),

    // pillar text analysis: TRAINED language-ID — char-trigram profiles
    // learned from the corpus's own labels (q44's fixed stopword lists
    // replaced by a data-derived model; the q144 broadcast-model shape),
    // integer profile-hit scoring, deterministic argmax. On this
    // synthetic corpus the label is independent of the text (all langs
    // share one vocabulary), so pred_lang measures the MACHINERY, not
    // corpus agreement — TextAnalysisSpec proves full-agreement
    // discrimination on a fixture whose languages have disjoint
    // character distributions.
    "q165_langid_trigram" -> ((s, dir) =>
      TextAnalysis.langIdTrigram(spread(s, rd(s, dir, "documents")),
          "doc_id", "text", "lang", topM = 64)
        .orderBy("doc_id")),

    // pillar text analysis: LANGUAGE-ID CONFUSION MATRIX — the quality
    // surface over q165: per (label, prediction) cell, document count
    // and the label's agreement fraction — what a pipeline owner reads
    // before trusting a derived lang column for q75/q92-style sampling.
    // One 25-cell aggregate over the q165 frame; at 100 TB the matrix
    // is langs^2 rows regardless of corpus size.
    "q167_langid_confusion" -> ((s, dir) => {
      val pred = TextAnalysis.langIdTrigram(spread(s, rd(s, dir, "documents")),
        "doc_id", "text", "lang", topM = 64)
      val w = Window.partitionBy("lang")
      pred.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n_docs"))
        .withColumn("lang_total", sum(col("n_docs")).over(w))
        .withColumn("frac", col("n_docs").cast("double") / col("lang_total"))
        .select("lang", "pred_lang", "n_docs", "lang_total", "frac")
        .orderBy("lang", "pred_lang")
    }),

    // pillar text analysis: language-ID stopword heuristic
    "q36_lang_stopword_ratio" -> ((s, dir) =>
      spread(s, rd(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), TextAnalysis.stopwordRatio(col("text")).as("en_score"))
        .orderBy("doc_id")),

    // pillar text analysis: quality metrics
    "q37_quality_metrics" -> ((s, dir) =>
      spread(s, rd(s, dir, "documents"))
        .select(
          col("doc_id"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.meanTokenLength(col("text")).as("mean_tok_len"),
          TextAnalysis.punctRatio(col("text")).as("punct_ratio")
        )
        .orderBy("doc_id")),

    // pillar text analysis: document fingerprint (k-min shingle hashes)
    "q38_fingerprint" -> ((s, dir) =>
      spread(s, rd(s, dir, "documents"))
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text"), 4, 8).as("fp"))
        .orderBy("doc_id")),

    // pillar text analysis: token counting (whitespace + BPE-ish regex)
    "q39_token_counts" -> ((s, dir) =>
      rd(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
          TextAnalysis.wordPieceCount(col("text")).as("n_word_pieces")
        )
        .orderBy("doc_id")),

    // pillar text analysis: C4-style quality filter — the keep/drop
    // decision a training-data pipeline applies; thresholds shared with
    // the generated oracle SQL so they cannot drift
    "q55_quality_filter" -> ((s, dir) =>
      spread(s, rd(s, dir, "documents"))
        .select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.meanTokenLength(col("text")).as("mean_tok_len"),
          TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
          TextAnalysis.stopwordRatio(col("text")).as("en_score"))
        .withColumn("keep",
          col("n_tokens") >= QfMinTokens &&
            col("mean_tok_len") >= QfMinMeanTokLen && col("mean_tok_len") <= QfMaxMeanTokLen &&
            col("punct_ratio") <= QfMaxPunctRatio &&
            col("en_score") >= QfMinStopwordRatio)
        .orderBy("doc_id")),

    // pillar text analysis: corpus-level top-50 token bigrams — the
    // word-count shape (explode -> hash agg -> TakeOrdered top-k).
    // The regex tokenization lands in its OWN projection: `toks` is
    // referenced four times downstream, and CollapseProject would not
    // inline a non-cheap alias — this pins the split to one evaluation
    // per document instead of four.
    "q56_top_ngrams" -> ((s, dir) =>
      spread(s, rd(s, dir, "documents"))
        .select(TextFunctions.whitespaceTokens(lower(col("text"))).as("toks"))
        .select(explode(when(size(col("toks")) >= 2,
          transform(sequence(lit(1), size(col("toks")) - 1),
            i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("ng"))
        .groupBy("ng")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("ng").asc)
        .limit(50)),

    // relational/pipeline: per-source corpus stats (partition-style audit
    // a data pipeline runs before training)
    "q57_source_stats" -> ((s, dir) =>
      rd(s, dir, "documents")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(octet_length(col("text")).cast("long")).as("sum_bytes"))
        .withColumn("avg_bytes", col("sum_bytes").cast("double") / col("n_docs"))
        .orderBy("source")),

    // pillar text analysis: per-document top-5 TF-IDF terms. The idf
    // surrogate tf*N/df is a single integer-exact multiply + one IEEE
    // divide, so ranks (and scores) match DuckDB bit-for-bit — a log()
    // idf would hinge on libm ulp agreement across engines.
    "q58_tfidf_top_terms" -> ((s, dir) => {
      val docs = spread(s, rd(s, dir, "documents"))
      // corpus size joins in as a broadcast 1-row aggregate (q74/q97
      // pattern) — building this frame triggers ZERO jobs, unlike a
      // driver-side count() at plan-build time
      val nRow = rd(s, dir, "documents").agg(count(lit(1)).as("n_corpus"))
      val toks = docs.select(
        col("doc_id"),
        explode(TextFunctions.whitespaceTokens(lower(col("text")))).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
      tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(nRow))
        .withColumn("score", col("tf").cast("double") * col("n_corpus") / col("df"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("doc_id", "term", "tf", "df", "score", "rank")
        .orderBy("doc_id", "rank")
    }),

    // pillar text analysis: narrow token cleanup — drop single-char
    // tokens, re-join; pure codegen'd projection (no shuffle)
    "q73_text_normalize" -> ((s, dir) =>
      spread(s, rd(s, dir, "documents"))
        .select(
          col("doc_id"),
          array_join(filter(split(col("text"), " "), t => length(t) > 1), " ").as("clean"),
          size(filter(split(col("text"), " "), t => length(t) <= 1)).cast("long").as("n_dropped"))
        .orderBy("doc_id")),

    // pillar text analysis: corpus-adaptive boilerplate removal — tokens
    // whose document frequency exceeds 78% of the corpus are stripped
    // from every document. The common-token set is produced
    // distributively (df hash-agg vs a broadcast 1-row total; integer
    // cross-multiplication, no float threshold) and applied via a
    // broadcast LEFT ANTI join — no collect, no cartesian; order is
    // restored from explode positions.
    "q74_boilerplate_strip" -> ((s, dir) => {
      val docs = spread(s, rd(s, dir, "documents")).select("doc_id", "text")
      val toks = docs.select(
        col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val dfreq = toks.select("doc_id", "tok").distinct()
        .groupBy("tok").agg(count(lit(1)).as("df"))
      val total = docs.agg(count(lit(1)).as("n_docs"))
      val common = dfreq.crossJoin(broadcast(total))
        .filter(col("df") * 100 > col("n_docs") * BoilerplateDfPct)
        .select(col("tok").as("ctok"))
      // `common` is derived FROM `toks`, so the anti join is a self-join:
      // alias both sides or col("tok") can resolve into the right-hand
      // lineage and make the condition trivially true (dropping every row)
      val cleaned = toks.alias("t")
        .join(broadcast(common.alias("c")), col("t.tok") === col("c.ctok"), "left_anti")
        .groupBy("doc_id")
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x("tok")),
          " ").as("clean"))
      docs.select("doc_id")
        .join(cleaned, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("clean"), lit("")).as("clean"))
        .orderBy("doc_id")
    }),

    // pipeline: benchmark decontamination — drop every training doc that
    // shares ANY 8-gram shingle with the (deterministic) held-out set:
    // explode-distinct shingle hashes on both sides, equi-join to find
    // contaminated ids, LEFT ANTI join to keep the clean remainder. Pure
    // hash equi-joins — the benchmark side is tiny and broadcast; no
    // similarity scan ever touches the full corpus pairwise.
    "q85_decontaminate" -> ((s, dir) => {
      val docs = spread(s, rd(s, dir, "documents"))
      val shingles = docs.select(
        col("doc_id"),
        explode(Dedup.hashedShingles(col("text"), 8)).as("h"))
      val bench = shingles.filter(col("doc_id") % 50 === 0)
        .select(col("h").as("bh")).distinct()
      val contaminated = shingles
        .join(broadcast(bench), col("h") === col("bh"))
        .select("doc_id").distinct()
      docs
        .join(contaminated.withColumnRenamed("doc_id", "cid"),
          col("doc_id") === col("cid"), "left_anti")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // pillar text-analysis: Gopher-style repetition filters — duplicate
    // word fraction + top-bigram dominance per doc (catches degenerate
    // repeated-phrase text that token-level quality metrics miss)
    "q87_repetition_signals" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(
          spread(s, rd(s, dir, "documents")), "doc_id", "text")
        .orderBy("doc_id")),

    // pipeline: per-language token-budget sampling — data-mixing step
    // that takes the highest-value docs (longest first) per language
    // until each language's token budget is exhausted; running-sum
    // window per lang partition, no global state
    "q92_token_budget" -> ((s, dir) => {
      val toks = TextFunctions.whitespaceTokens(lower(col("text")))
      val t = spread(s, rd(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          size(toks).cast("long").as("n_tokens"))
      // running-budget cutoff via Quota.weightedBudget, NOT a per-lang
      // running-sum window (one task per language at scale). n_chars
      // itself is the order-preserving bucket: distinct lengths spread
      // the window into (lang, n_chars) partitions, and length tiers
      // past the budget are dropped before any per-row work.
      Quota.weightedBudget(t, "lang",
          bucket = col("n_chars"), bucketAsc = false,
          ordCols = Seq(col("n_chars").desc, col("doc_id").asc),
          weightCol = "n_tokens", budget = TokenBudgetPerLang,
          cumCol = "cum_tokens")
        .select("doc_id", "lang", "n_tokens", "cum_tokens")
        .orderBy("doc_id")
    }),

    // pipeline: PII redaction — emails and phone-shaped digit runs are
    // replaced with type tokens and counted (the scrub step every
    // training-data pipeline runs before text ships). The testdata text
    // carries no PII, so the gate INJECTS deterministic synthetic PII
    // (doc_id-derived email + phone) before redacting — proving the
    // patterns fire, not just that clean text passes through. Pure
    // codegen'd projection; patterns are RE2/Java-compatible so the
    // oracle runs the identical regexes.
    "q106_pii_redact" -> ((s, dir) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
      val dirty = concat(
        col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or +1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      spread(s, rd(s, dir, "documents"))
        .select(col("doc_id"), dirty.as("dirty"))
        .select(
          col("doc_id"),
          regexp_replace(regexp_replace(col("dirty"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>").as("clean"),
          regexp_count(col("dirty"), lit(emailRe)).cast("long").as("n_emails"),
          regexp_count(col("dirty"), lit(phoneRe)).cast("long").as("n_phones"))
        .orderBy("doc_id")
    }),

    // pillar text analysis: rare-token score — per doc, the fraction of
    // token occurrences whose corpus-wide frequency is <= RareMaxFreq,
    // plus the mean corpus frequency of its tokens (a cheap exact stand-in
    // for LM perplexity: high rare-ratio = OOV-heavy/noisy, high
    // mean-freq = boilerplate). Integer sums + one IEEE divide, so the
    // doubles are oracle-exact. Two map-side-combined shuffles.
    "q111_rare_token_score" -> ((s, dir) => {
      val toks = spread(s, rd(s, dir, "documents"))
        .select(col("doc_id"),
          explode(TextFunctions.whitespaceTokens(lower(col("text")))).as("term"))
        .localCheckpoint(false) // feeds the corpus count AND the re-join
      val cnts = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      toks.join(cnts, Seq("term"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_tokens"),
          sum(when(col("cnt") <= RareMaxFreq, 1L).otherwise(0L)).as("n_rare"),
          sum(col("cnt")).as("sum_freq"))
        .withColumn("rare_ratio", col("n_rare").cast("double") / col("n_tokens"))
        .withColumn("mean_freq", col("sum_freq").cast("double") / col("n_tokens"))
        .orderBy("doc_id")
    }),

    // pipeline: temperature-based source mixing (tau = 0.5 domain
    // reweighting, the LLM data-mixing move): per-source quota =
    // min(n, floor(sqrt(n) * MixSqrtScale)) — sqrt is IEEE
    // correctly-rounded in both engines, so quotas are exact — with a
    // content-stable md5 order picking WHICH rows fill the quota
    // (reproducible under re-sharding; the q75 trick). One broadcast of
    // the 1-row-per-source quota table; ranking windows are per-source.
    "q112_source_mix_sample" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val quotas = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
        .withColumn("quota",
          least(col("n_src"), floor(sqrt(col("n_src").cast("double")) * MixSqrtScale).cast("long")))
        .select("source", "quota")
      // per-source ranking via Quota.rankedQuota, NOT a
      // Window.partitionBy("source") — with a handful of sources that
      // window drags each source's full corpus through ONE task. The
      // md5 order key's first hex byte is the order-preserving bucket
      // (256-way parallel), and exhausted buckets never rank at all.
      val ord = md5(concat(lit("mix-"), col("doc_id")))
      Quota.rankedQuota(
          docs.select(col("doc_id"), col("source"), ord.as("ord")),
          "source",
          bucket = conv(substring(col("ord"), 1, 2), 16, 10).cast("long"),
          bucketAsc = true,
          ordCols = Seq(col("ord").asc, col("doc_id").asc),
          quotas = quotas)
        .select("source", "doc_id", "rk")
        .orderBy("source", "rk")
    }),

    // THE composite: the full training-data prep chain as ONE declarative
    // plan — quality gate (q55 predicate) -> exact-dedup keep-one
    // (md5 window, q91 shape) -> decontamination vs the held-out slice
    // (q85 shingle anti-join) -> per-language token budget (q92 window).
    // What a real user runs nightly; composing the stages costs no
    // driver round-trips (one job end to end), every intermediate stays
    // distributed, and each stage's operator is independently gated by
    // its own query.
    "q113_prep_pipeline" -> ((s, dir) => {
      val docs = spread(s, rd(s, dir, "documents"))
      val kept = docs.select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.meanTokenLength(col("text")).as("mtl"),
          TextAnalysis.punctRatio(col("text")).as("pr"),
          TextAnalysis.stopwordRatio(col("text")).as("es"))
        .filter(col("n_tokens") >= QfMinTokens &&
          col("mtl") >= QfMinMeanTokLen && col("mtl") <= QfMaxMeanTokLen &&
          col("pr") <= QfMaxPunctRatio && col("es") >= QfMinStopwordRatio)
      val dd = kept
        .withColumn("rn", row_number().over(
          Window.partitionBy(md5(col("text"))).orderBy(col("doc_id").asc)))
        .filter(col("rn") === 1)
      // contamination = sharing a VERBATIM DecontamSpanN-char span with
      // the held-out slice (q85's shape at 8 chars prunes this
      // low-vocabulary corpus to zero; 20-char spans are the realistic
      // long-verbatim-leak criterion and keep the pipeline non-trivial)
      val shingles = docs.select(col("doc_id"),
        explode(Dedup.hashedShingles(col("text"), DecontamSpanN)).as("h"))
        .localCheckpoint(false) // span hashing feeds the bench AND contamination-probe branches
      val bench = shingles.filter(col("doc_id") % 50 === 0)
        .select(col("h").as("bh")).distinct()
      val contaminated = shingles.join(broadcast(bench), col("h") === col("bh"))
        .select(col("doc_id").as("cid")).distinct()
      val clean = dd.join(contaminated, col("doc_id") === col("cid"), "left_anti")
      // final stage shares q92's scalable budget cutoff (bucketed by
      // n_chars) instead of a one-task-per-lang running-sum window
      Quota.weightedBudget(clean, "lang",
          bucket = col("n_chars"), bucketAsc = false,
          ordCols = Seq(col("n_chars").desc, col("doc_id").asc),
          weightCol = "n_tokens", budget = TokenBudgetPerLang,
          cumCol = "cum_tokens")
        .select("doc_id", "lang", "n_tokens", "cum_tokens")
        .orderBy("doc_id")
    }),

    // pillar text analysis: bigram-LM quality scoring (the KenLM-style
    // perplexity filter, exactly): train conditional bigram counts on
    // the corpus itself, then score each doc by its rare-bigram count
    // and minimum conditional probability. Everything oracle-exact
    // without libm: rarity tests cross-multiply in integers
    // (100*c12 < c1 <=> P < 0.01), and min() over exact IEEE divides is
    // order-independent — no float SUM ever happens.
    "q114_bigram_lm_score" -> ((s, dir) => {
      val toks = spread(s, rd(s, dir, "documents"))
        .select(col("doc_id"), TextFunctions.whitespaceTokens(lower(col("text"))).as("toks"))
        .localCheckpoint(false) // tokenization feeds both the bigram and unigram branches
      val bi = toks.filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val uni = toks.select(explode(col("toks")).as("w1"))
        .groupBy("w1").agg(count(lit(1)).as("c1"))
      val big = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      bi.join(big, Seq("w1", "w2")).join(uni, Seq("w1"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_bigrams"),
          sum(when(col("c12") * 100 < col("c1"), 1L).otherwise(0L)).as("n_rare"),
          min(col("c12").cast("double") / col("c1")).as("min_prob"))
        .orderBy("doc_id")
    }),

    // pillar text analysis: PER-LANGUAGE QUALITY TERCILES — the CCNet
    // head/middle/tail split (Wenzek et al., LREC'20): score each doc by
    // its LM quality signal, then bucket against ITS OWN LANGUAGE's
    // tercile cutoffs, because a single global threshold over-prunes
    // whichever language the LM models worst. Score = mean INVERSE
    // conditional bigram probability, integer-floored per bigram
    // (sum(c1 div c12), scaled per-bigram ×1000; lower = better) — a
    // perplexity proxy that stays pure BIGINT (a float surprisal SUM
    // would be order-dependent) yet has enough spread to cut real
    // terciles where q114's boolean rarity rate ties at 0 corpus-wide.
    // Cutoffs come from a per-lang HISTOGRAM cumsum (bounded by distinct
    // scores, <= 1e6 rows per lang at ANY corpus size — never a global
    // sort of docs), targets are pure-integer ceil((b*n)/3) = (b*n+2)
    // div 3, and the langs×2 cutoff table broadcasts back onto docs.
    "q184_lm_quality_buckets" -> ((s, dir) =>
      lmQualityFrame(s, dir)
        .select("doc_id", "lang", "rarity", "bucket")
        .orderBy("doc_id")),

    // pipeline: CURRICULUM EXPORT — the training-order composite: q184's
    // per-lang quality tercile + q161's content-stable shard assignment
    // + a tier-major stable order WITHIN each shard (head -> middle ->
    // tail, md5-shuffled inside each tier). A trainer reading shards in
    // pos_in_shard order gets easy-to-hard curriculum with deterministic
    // shuffling and NO global sort anywhere: the only new window is
    // per-shard (corpus/ShardCount rows), the tier table broadcasts, and
    // the md5 rank is the q161 trick — reproducible under any
    // partitioning/retry schedule.
    "q199_curriculum_export" -> ((s, dir) => {
      val h = org.apache.spark.sql.graft.Md5Long60
        .column(concat(lit("shard-"), col("doc_id")))
      val tierOrd = when(col("bucket") === "head", lit(0L))
        .when(col("bucket") === "middle", lit(1L)).otherwise(lit(2L))
      lmQualityFrame(s, dir)
        .withColumn("h", h)
        .withColumn("shard", (col("h") % ShardCount).cast("long"))
        .withColumn("pos_in_shard", row_number().over(
            Window.partitionBy("shard").orderBy(tierOrd.asc, col("h").asc, col("doc_id").asc))
          .cast("long"))
        .select("doc_id", "lang", "bucket", "shard", "pos_in_shard")
        .orderBy("shard", "pos_in_shard")
    }),

    // pipeline: DATA CARD — the per-source dataset report a training run
    // is signed off against, as ONE declarative plan: volume (docs,
    // tokens), redundancy (exact-dup copies: docs minus distinct text
    // hashes), quality mix (q184's per-lang tercile counts via the
    // shared lmQualityFrame; docs under 2 tokens carry no tier), and
    // leakage (docs sharing >= 1 span with the q119 benchmark slice).
    // Every branch is a per-source aggregate — the joins at the end are
    // |sources|-row frames; the span probe rides the q119/q136 broadcast
    // shape, so nothing here adds a corpus-sized shuffle beyond what the
    // component operators already pay.
    "q200_data_card" -> ((s, dir) => {
      val docs = spread(s, rd(s, dir, "documents"))
        .localCheckpoint(false) // feeds base stats, the tier join, and the span scan
      val base = docs.select(col("source"),
          size(TextFunctions.whitespaceTokens(col("text"))).cast("long").as("n_tok"),
          md5(col("text")).as("th"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          (count(lit(1)) - countDistinct(col("th"))).as("n_dup_docs"))
      val tiers = lmQualityFrame(s, dir)
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .groupBy("source")
        .agg(
          sum(when(col("bucket") === "head", 1L).otherwise(0L)).as("n_head"),
          sum(when(col("bucket") === "middle", 1L).otherwise(0L)).as("n_middle"),
          sum(when(col("bucket") === "tail", 1L).otherwise(0L)).as("n_tail"))
      val spans = docs.select(col("doc_id"), col("source"),
          explode(Dedup.hashedShingles(col("text"), DecontamSpanN)).as("h"))
        .localCheckpoint(false) // the span hashing feeds the bench AND probe branches
      val bench = spans.filter(col("doc_id") % ContamBenchMod === 0)
        .select(col("h").as("bh")).distinct()
      val contaminated = spans.filter(col("doc_id") % ContamBenchMod =!= 0)
        .join(broadcast(bench), col("h") === col("bh"))
        .select("doc_id", "source").distinct()
        .groupBy("source").agg(count(lit(1)).as("n_contaminated"))
      base.join(tiers, Seq("source"), "left")
        .join(contaminated, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"), col("n_dup_docs"),
          coalesce(col("n_head"), lit(0L)).as("n_head"),
          coalesce(col("n_middle"), lit(0L)).as("n_middle"),
          coalesce(col("n_tail"), lit(0L)).as("n_tail"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
        .orderBy("source")
    }),

    // pillar text analysis: GRADED benchmark contamination — q85/q113
    // decide a boolean (any shared span); real decontamination triages by
    // the overlap FRACTION (n-gram overlap ratio, the GPT-3/PaLM
    // contamination metric). Per non-benchmark doc: distinct
    // DecontamSpanN-char spans, how many appear anywhere in the benchmark
    // slice, and the ratio. Benchmark span set rides a broadcast (it is
    // the small side by construction); spans travel as 60-bit md5 longs.
    "q119_contamination_overlap" -> ((s, dir) => {
      val docs = spread(s, rd(s, dir, "documents"))
      val spans = docs.select(col("doc_id"),
        explode(Dedup.hashedShingles(col("text"), DecontamSpanN)).as("h"))
        .localCheckpoint(false) // the md5 span hashing feeds the bench AND probe branches
      val bench = spans.filter(col("doc_id") % ContamBenchMod === 0)
        .select(col("h").as("bh")).distinct()
      spans.filter(col("doc_id") % ContamBenchMod =!= 0)
        .join(broadcast(bench), col("h") === col("bh"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_spans"),
          sum(when(col("bh").isNotNull, 1L).otherwise(0L)).as("n_hit"))
        .withColumn("overlap_ratio", col("n_hit").cast("double") / col("n_spans"))
        .orderBy("doc_id")
    }),

    // pillar text analysis: BPE TOKENIZER TRAINING (Sennrich ACL'16) —
    // the iterated argmax pair-merge over the corpus word-frequency
    // table, the algorithm behind every production subword vocabulary.
    // Both engines' `replace` is left-to-right non-overlapping — exactly
    // BPE's greedy merge application — and U+001F sentinels make a merge
    // unable to match across symbol boundaries, so three full merge
    // steps are oracle-exact. Output: (step, left, right, pair_count).
    "q127_bpe_train_merges" -> ((s, dir) =>
      TextAnalysis.bpeTopMerges(spread(s, rd(s, dir, "documents")), "text", steps = BpeSteps)
        .orderBy("step")),

    // pipeline: BPE ENCODE — the serve half of q127: the trained vocab's
    // final segmentation (vocab-sized, broadcast) joins against the
    // corpus token stream to BPE-encode every document; per doc the word
    // and subword-piece counts plus the fertility (pieces per word, the
    // number a tokenizer team actually monitors). The corpus is touched
    // once; all merge logic stays on the vocab table.
    "q134_bpe_encode" -> ((s, dir) => {
      val docs = spread(s, rd(s, dir, "documents"))
      val vocab = TextAnalysis.bpeSegmentedVocab(docs, "text", steps = BpeSteps)
        .select("word", "n_pieces")
      docs.select(col("doc_id"),
          explode(TextFunctions.whitespaceTokens(lower(col("text")))).as("word"))
        .join(broadcast(vocab), Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum(col("n_pieces")).as("n_pieces"))
        .withColumn("pieces_per_word",
          col("n_pieces").cast("double") / col("n_words"))
        .orderBy("doc_id")
    }),

    // pipeline: SEQUENCE PACKING — the last step before a GPT-style
    // dataloader: lay all documents out in a deterministic global order
    // (doc_id) and cut the token stream into fixed-length training
    // sequences. Per doc: its exclusive global token offset, the first
    // and last sequence it lands in, and how many sequences it crosses.
    // The global prefix sum comes from Quota.globalCumSum (bucketed —
    // the corpus never serializes through a partitionless window; the
    // only serial stage is the ~256-row per-bucket cumulative, with the
    // bucket width riding a broadcast 1-row aggregate so it stays ~256
    // buckets at ANY corpus size).
    "q128_sequence_packing" -> ((s, dir) => {
      val t = spread(s, rd(s, dir, "documents"))
        .select(col("doc_id"),
          size(TextFunctions.whitespaceTokens(lower(col("text")))).cast("long").as("n_tokens"))
      val nRow = t.agg(count(lit(1)).as("n"))
        .select(greatest(lit(1L), expr("n div 256")).as("bw"))
      val cum = Quota.globalCumSum(
          t.crossJoin(broadcast(nRow)),
          bucket = expr("doc_id div bw"),
          ordCols = Seq(col("doc_id").asc),
          weightCol = "n_tokens", cumCol = "cum_tokens")
        .withColumn("offset", col("cum_tokens") - col("n_tokens"))
      cum
        .withColumn("first_seq", expr(s"offset div $PackSeqLen"))
        .withColumn("last_seq",
          expr(s"(offset + greatest(n_tokens, 1L) - 1L) div $PackSeqLen"))
        .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
        .select("doc_id", "n_tokens", "offset", "first_seq", "last_seq", "n_seqs")
        .orderBy("doc_id")
    }),

    // pipeline: TOKENIZE -> PACK -> SHARD, the training-prep tail as ONE
    // declarative plan (the q113 composite pattern): q134's BPE encode
    // (vocab-sized broadcast join, corpus touched once) feeds q128's
    // bucketed global prefix sum — over BPE PIECE counts now, the number
    // a dataloader actually packs — and each document's first training
    // sequence gets q161's content-stable md5 shard. No intermediate
    // materialization: Catalyst plans the three stages as one job chain,
    // so the corpus token stream is never written out between "steps".
    // Output per (tokenizable) doc: encode stats, packed range, shard.
    "q166_tokenize_pack_shard" -> ((s, dir) => {
      val docs = spread(s, rd(s, dir, "documents"))
      val vocab = TextAnalysis.bpeSegmentedVocab(docs, "text", steps = BpeSteps)
        .select("word", "n_pieces")
      val enc = docs.select(col("doc_id"),
          explode(TextFunctions.whitespaceTokens(lower(col("text")))).as("word"))
        .join(broadcast(vocab), Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum(col("n_pieces")).as("n_tok"))
      val nRow = enc.agg(count(lit(1)).as("n"))
        .select(greatest(lit(1L), expr("n div 256")).as("bw"))
      val cum = Quota.globalCumSum(
          enc.crossJoin(broadcast(nRow)),
          bucket = expr("doc_id div bw"),
          ordCols = Seq(col("doc_id").asc),
          weightCol = "n_tok", cumCol = "cum_tok")
        .withColumn("offset", col("cum_tok") - col("n_tok"))
      cum
        .withColumn("first_seq", expr(s"offset div $PackSeqLen"))
        .withColumn("last_seq",
          expr(s"(offset + greatest(n_tok, 1L) - 1L) div $PackSeqLen"))
        .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
        .withColumn("shard",
          (org.apache.spark.sql.graft.Md5Long60
            .column(concat(lit("shard-"), col("first_seq"))) % ShardCount).cast("long"))
        .select("doc_id", "n_words", "n_tok", "offset",
          "first_seq", "last_seq", "n_seqs", "shard")
        .orderBy("doc_id")
    }),

    // pipeline: temperature-based LANGUAGE UPSAMPLING with epochs — the
    // other half of data mixing (q112 downsamples big sources; training
    // mixes also REPEAT low-resource languages for multiple epochs, the
    // alpha-smoothed multinomial of multilingual-LM training; lang is the
    // grouping because the testdata sources are uniform). Per lang:
    // integer weight w = floor(sqrt(n)*1000); target rows =
    // ceil(N * w / sum_w) computed as (N div S)*w + ((N mod S)*w + S-1)
    // div S — pure int64 (no float sum ever; the two-step split keeps
    // every intermediate under 2^63 even at ~1e10 docs); epochs 1..f-1
    // replicate every row (a narrow explode, no shuffle); the final
    // partial epoch takes the target remainder in content-stable md5
    // order through Quota.rankedQuota (bucketed — never a one-task-per-
    // source window). Output (source, doc_id, epoch).
    "q125_lang_upsample_epochs" -> ((s, dir) => {
      val docs = rd(s, dir, "documents")
      val perSrc = docs.groupBy("lang").agg(count(lit(1)).as("n_src"))
        .withColumn("w", floor(sqrt(col("n_src").cast("double")) * 1000).cast("long"))
      val tot = perSrc.agg(sum("n_src").as("n_tot"), sum("w").as("sum_w"))
      val plan = perSrc.crossJoin(broadcast(tot))
        .withColumn("target",
          expr("(n_tot div sum_w) * w + ((n_tot % sum_w) * w + sum_w - 1) div sum_w"))
        .withColumn("f", expr("(target + n_src - 1) div n_src"))
        .withColumn("quota", col("target") - (col("f") - 1) * col("n_src"))
        .select("lang", "f", "quota")
      val ids = docs.select("doc_id", "lang")
      val fullEpochs = ids.join(broadcast(plan), Seq("lang"))
        .filter(col("f") >= 2)
        .select(col("lang"), col("doc_id"),
          explode(sequence(lit(1L), col("f") - 1)).as("epoch"))
      val ord = md5(concat(lit("mix-"), col("doc_id")))
      val partial = Quota.rankedQuota(
          ids.withColumn("ord", ord),
          "lang",
          bucket = conv(substring(col("ord"), 1, 2), 16, 10).cast("long"),
          bucketAsc = true,
          ordCols = Seq(col("ord").asc, col("doc_id").asc),
          quotas = plan.select("lang", "quota"))
        .join(broadcast(plan), Seq("lang"))
        .select(col("lang"), col("doc_id"), col("f").as("epoch"))
      fullEpochs.union(partial).orderBy("lang", "epoch", "doc_id")
    }),

    // pillar pipeline: BLOOM-FILTER decontamination prefilter AUDIT — at
    // 100 TB the exact benchmark span-hash set costs ~8 bytes/span to
    // broadcast; a Bloom filter is ~40x smaller for the same prefilter
    // job, at the price of false positives that would drop clean
    // documents. This builds the bloom (3 probes of 16 bits sliced from
    // the 60-bit md5 span key, OR-folded into 32-bit words by ONE
    // map-side-combined bit_or shuffle — 2048 words total), runs every
    // corpus span through it, and AUDITS bloom positives against the
    // exact set: n_false_pos / fp_rate is the measured basis for sizing
    // m before swapping the prefilter in. All integer bit ops — exact.
    "q136_bloom_decontaminate" -> ((s, dir) => {
      val docs = spread(s, rd(s, dir, "documents"))
      val spans = docs.select(col("doc_id"),
        explode(Dedup.hashedShingles(col("text"), DecontamSpanN)).as("h"))
        .localCheckpoint(false) // md5 hashing feeds the bench AND probe branches
      val bench = spans.filter(col("doc_id") % ContamBenchMod === 0)
        .select("h").distinct()
        .localCheckpoint(false) // feeds the bloom build AND the exact audit
      def probes = explode(array(Seq(0, 16, 32).map(b =>
        shiftright(col("h"), b).bitwiseAND(lit(65535L))): _*))
      val bloom = bench.select(probes.as("p"))
        .groupBy(shiftright(col("p"), 5).as("word"))
        .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))")).as("bits"))
      val member = spans.filter(col("doc_id") % ContamBenchMod =!= 0)
        .select(col("doc_id"), col("h"), probes.as("p"))
        .join(broadcast(bloom), shiftright(col("p"), 5) === col("word"), "left")
        .groupBy("doc_id", "h")
        .agg((sum(when(col("bits").isNotNull &&
            (col("bits").bitwiseAND(
              expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))")) =!= 0L),
            1L).otherwise(0L)) === 3L).as("bloom_pos"))
      member.join(broadcast(bench.select(col("h").as("bh"))),
          col("h") === col("bh"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_spans"),
          sum(when(col("bloom_pos"), 1L).otherwise(0L)).as("n_bloom_pos"),
          sum(when(col("bh").isNotNull, 1L).otherwise(0L)).as("n_hit"))
        .withColumn("n_false_pos", col("n_bloom_pos") - col("n_hit"))
        .withColumn("fp_rate",
          expr("CAST(n_false_pos AS DOUBLE) / nullif(n_spans - n_hit, 0)"))
        .orderBy("doc_id")
    }),

    // pillar text analysis: BM25 top-k retrieval — the inverted-index
    // ranked search a curation team runs against the corpus ("find the
    // documents most like this probe"). Postings (doc, term, tf) shuffle
    // once BY TERM — the inverted-index shape — and the tiny query-term
    // side broadcasts onto them; per-term contributions are quantized to
    // integer micro-points (floor(1e6 * idf * tf_saturation), every
    // input an exact integer, shared expression text with the oracle) so
    // the per-(query, doc) sum is order-independent and oracle-exact.
    // Top-k per query is a rank-bounded window (WindowGroupLimit).
    "q137_bm25_topk" -> ((s, dir) => {
      bm25TopkFrame(s, dir).orderBy("q_id", "rk")
    }),

    // pillar text analysis: RETRIEVE-THEN-RERANK — the standard two-stage
    // retrieval shape: cheap candidate generation (q159's SELECTIVE BM25
    // top-10 over the inverted index — the df stop cut bounds the
    // candidate join at any corpus size; all-term q137 measured exponent
    // 1.17 at Zipf 10x through this composite) followed by an expensive
    // exact scorer (the codegen'd partial_ratio bitap, cutoff 50) over
    // ONLY the candidates, re-ranked by (fuzzy score, bm25, doc_id). At
    // 100 TB the expensive scorer touches topK x n_queries rows
    // regardless of corpus size — the entire point of staging retrieval.
    "q177_retrieve_rerank" -> ((s, dir) => {
      val docs = spread(s, rd(s, dir, "documents"))
      val cand = bm25TopkFrame(s, dir, selective = true).select(
        col("q_id"), col("doc_id"), col("score").as("bm25"))
      val needles = docs.filter(col("doc_id") % Bm25QueryMod === 0)
        .select(col("doc_id").as("q_id"), substring(col("text"), 1, 48).as("needle"))
      cand
        .join(broadcast(needles), Seq("q_id"))
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .withColumn("pr",
          org.apache.spark.sql.graft.GraftFunctions.partialRatioCutoff(col("text"), col("needle"), 50)
            .cast("long"))
        .withColumn("rrank", row_number().over(
          Window.partitionBy("q_id")
            .orderBy(col("pr").desc, col("bm25").desc, col("doc_id")))
          .cast("long"))
        .filter(col("rrank") <= 5)
        .select("q_id", "doc_id", "bm25", "pr", "rrank")
        .orderBy("q_id", "rrank")
    }),

    // pillar text x similarity: HYBRID RETRIEVAL — BM25 top-10 (q159's
    // SELECTIVE candidate stage — the df stop cut bounds the text leg's
    // postings join at any corpus size) fused with IVF vector top-10
    // (q43's machinery, shared trained quantizer) by reciprocal-rank
    // fusion. RRF scores are SCALED-INTEGER 1e9 div (60 + rank) so the
    // fusion sum is exact and order-independent (a double 1/(60+rk) sum
    // would hash-drift under AQE re-ordering). Each side's list is top-k
    // bounded, so the fusion join touches <= 2 * k * n_queries rows at
    // any corpus size.
    "q180_hybrid_rrf" -> ((s, dir) => {
      val text = bm25TopkFrame(s, dir, selective = true)
        .select(col("q_id"), col("doc_id"), col("rk").as("rk_t"))
      val e = rd(s, dir, "embeddings")
      val cents = trainedArtifact(s, dir, "cent8") {
        val (tr, init) = trainSample8(s, e)
        Similarity.trainCentroids(tr, "vec_id", "embedding", init, KmeansIters)
      }
      val vec = Similarity.ivfTopKOnIndex(
          e.filter(col("vec_id") % Bm25QueryMod === 0),
          Similarity.ivfIndex(spread(s, e), cents, "vec_id", "embedding"), cents,
          "vec_id", "embedding", k = 10, nprobe = 2)
        .select(col("q_id"), col("r_id").as("doc_id"), col("rank").as("rk_v"))
      text.join(vec, Seq("q_id", "doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(expr("1000000000L div (60 + rk_t)"), lit(0L))
            + coalesce(expr("1000000000L div (60 + rk_v)"), lit(0L)))
        .withColumn("rank", row_number().over(
          Window.partitionBy("q_id").orderBy(col("rrf").desc, col("doc_id")))
          .cast("long"))
        .filter(col("rank") <= 5)
        .select("q_id", "doc_id", "rrf", "rank")
        .orderBy("q_id", "rank")
    }),

    // pillar text analysis: SELECTIVE-TERM BM25 — q137 with the df stop
    // cut every term-at-a-time engine ships: a stop term's postings list
    // IS the corpus, so joining it makes per-query cost corpus-linear
    // regardless of banding (q137's measured flat-vocab superlinearity).
    // A query term reaches the postings join only if df < corpus/5 OR it
    // is one of the query's 4 rarest terms (never-empty results even on
    // the all-stop-terms synthetic vocab). The gate runs on the TINY
    // (query term x df) frame — a window over at most a few hundred
    // rows — before anything touches the postings table, so candidate
    // volume is bounded by the rare tail, not the head.
    "q159_bm25_selective" -> ((s, dir) =>
      bm25TopkFrame(s, dir, selective = true).orderBy("q_id", "rk")),

    // pillar text analysis: PMI collocations (phrase mining) — top
    // adjacent-token pairs by pointwise mutual information, the classic
    // "merge these into one token / glossary term" signal. Bigram and
    // unigram counts are two map-side-combined shuffles off one
    // tokenization; the PMI ratio (c_xy * N) / (c_x * c_y) is computed
    // from exact BIGINT products (< 2^53, so the int->double conversion
    // is lossless) with ONE double division, quantized to integer
    // micro-points via the oracle-shared expression text.
    "q139_pmi_collocations" -> ((s, dir) => {
      val tk = spread(s, rd(s, dir, "documents"))
        .select(TextFunctions.whitespaceTokens(lower(col("text"))).as("tk"))
        .filter(size(col("tk")) >= 2)
        .localCheckpoint(false) // one tokenization feeds bigram AND unigram counts
      val pairs = tk.select(explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(a.as("t1"), b.as("t2")))).as("p"))
        .select(col("p.t1").as("t1"), col("p.t2").as("t2"))
        .groupBy("t1", "t2").agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= PmiMinCount)
      val uni = tk.select(explode(col("tk")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("c"))
        .localCheckpoint(false) // joined twice (t1 side and t2 side)
      val totals = uni.agg(sum(col("c")).as("n_tok"))
      pairs
        .join(uni.select(col("term").as("t1"), col("c").as("cx")), Seq("t1"))
        .join(uni.select(col("term").as("t2"), col("c").as("cy")), Seq("t2"))
        .crossJoin(broadcast(totals))
        .withColumn("pmi_q", expr(PmiScoreSql).cast("long"))
        .select("t1", "t2", "c_xy", "pmi_q")
        .orderBy(col("pmi_q").desc, col("t1"), col("t2"))
        .limit(PmiTopK)
    }),

    // pillar text analysis: TRIGRAM-INDEXED literal search — "grep
    // 100 TB without scanning every document": a distinct (doc, trigram)
    // posting table is built ONCE (the amortized index); each query
    // pattern broadcasts its own trigram set onto it, a candidate is any
    // doc matching ALL of the pattern's trigrams (count == ng — the
    // posting-intersection superset guarantee), and the exact
    // `contains` verify then touches ONLY candidate documents. The
    // oracle is the brute-force scan the index exists to avoid.
    "q142_trigram_search" -> ((s, dir) => {
      import s.implicits._
      val docs = spread(s, rd(s, dir, "documents"))
        .localCheckpoint(false) // feeds the posting build AND the verify join
      val pats = TrigramPatterns.toDF("pattern")
      val postings = docs.select(col("doc_id"),
        explode(array_distinct(TextFunctions.charShingles(lower(col("text")), 3))).as("g"))
      val pg = pats.select(col("pattern"),
          array_distinct(TextFunctions.charShingles(col("pattern"), 3)).as("gs"))
        .select(col("pattern"), size(col("gs")).as("ng"), explode(col("gs")).as("g"))
      val cand = postings.join(broadcast(pg), Seq("g"))
        .groupBy("pattern", "ng", "doc_id")
        .agg(count(lit(1)).as("matched"))
        .filter(col("matched") === col("ng"))
      cand.join(docs, Seq("doc_id"))
        .filter(expr("contains(lower(text), pattern)"))
        .select("pattern", "doc_id")
        .orderBy("pattern", "doc_id")
    }),

    // pillar text analysis: SOURCE-DISTRIBUTION DRIFT — per-source
    // chi-square-style divergence of the token distribution from the
    // corpus marginal (the data-mixing diagnostic: which source's
    // language is unlike the rest — run per crawl snapshot, alarms on
    // drift). Per observed (source, term): obs vs exp = tt*st/T, the
    // (obs*T - tt*st)^2 / (tt*st*T) component quantized to integer
    // micro-points via oracle-shared expression text (the BIGINT
    // products are exact; the square and ONE division are the only
    // double ops, identically ordered in both engines), so the
    // per-source sum is order-independent. Two map-side-combined
    // shuffles + broadcasts of the tiny per-source/1-row frames.
    "q144_source_drift" -> ((s, dir) => {
      val toks = spread(s, rd(s, dir, "documents"))
        .select(col("source"),
          explode(TextFunctions.whitespaceTokens(lower(col("text")))).as("term"))
        .localCheckpoint(false) // feeds per-pair, per-term, per-source counts
      val obs = toks.groupBy("source", "term").agg(count(lit(1)).as("obs"))
      val tt = toks.groupBy("term").agg(count(lit(1)).as("tt"))
      val st = toks.groupBy("source").agg(count(lit(1)).as("st"))
      val tot = toks.agg(count(lit(1)).as("tot"))
      obs.join(tt, Seq("term"))
        .join(broadcast(st), Seq("source"))
        .crossJoin(broadcast(tot))
        .withColumn("contrib", expr(ChiSqSql).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_terms"), sum(col("contrib")).as("drift_q"))
        .orderBy("source")
    }),

    // pipeline: DATA-QUALITY EXPECTATION GATE (the dbt-test / Great-
    // Expectations shape): a battery of assertions over the warehouse
    // tables, one row per check with its violation count — what a
    // nightly pipeline runs before promoting a snapshot. Each check is
    // one aggregate or one anti-join; nothing corpus-wide beyond the
    // scans, and the FK check's build side is the dimension (broadcast).
    "q151_quality_checks" -> ((s, dir) => {
      val orders = rd(s, dir, "orders")
      val customer = rd(s, dir, "customer")
      val lineitem = rd(s, dir, "lineitem")
      def check(name: String, violations: DataFrame): DataFrame =
        violations.select(lit(name).as("check_name"),
          col("violations").cast("long").as("violations"),
          (col("violations") === 0L).as("passed"))
      check("orders_pk_unique",
          orders.agg((count(lit(1)) - countDistinct(col("o_orderkey"))).as("violations")))
        .unionAll(check("orders_custkey_not_null",
          orders.agg(sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("violations"))))
        .unionAll(check("orders_fk_customer",
          orders.join(broadcast(customer.select(col("c_custkey"))),
              col("o_custkey") === col("c_custkey"), "left_anti")
            .agg(count(lit(1)).as("violations"))))
        .unionAll(check("orders_totalprice_positive",
          orders.agg(sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("violations"))))
        .unionAll(check("orders_status_accepted",
          orders.agg(sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
            .otherwise(0L)).as("violations"))))
        .unionAll(check("lineitem_qty_range",
          lineitem.agg(sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
            .otherwise(0L)).as("violations"))))
        .unionAll(check("lineitem_fk_orders",
          lineitem.join(orders.select(col("o_orderkey")),
              col("l_orderkey") === col("o_orderkey"), "left_anti")
            .agg(count(lit(1)).as("violations"))))
        .unionAll(check("lineitem_discount_range",
          lineitem.agg(sum(when(col("l_discount") < 0 || col("l_discount") > 0.5, 1L)
            .otherwise(0L)).as("violations"))))
        .orderBy("check_name")
    }),

    // pillar text analysis: POSITIONAL PHRASE SEARCH — the word-level
    // positional-index twin of q142's trigram search: postings carry
    // (doc, term, position); each phrase term joins with its offset and
    // a phrase occurrence is an anchor (pos - off) where ALL offsets
    // matched (count == phrase length) — the classic phrase-query
    // position-list intersection, one broadcast of the tiny phrase-term
    // side, no contains() scan anywhere.
    "q152_phrase_search" -> ((s, dir) => {
      import s.implicits._
      val docs = spread(s, rd(s, dir, "documents"))
      val pats = TrigramPatterns.toDF("phrase")
      val post = docs.select(col("doc_id"),
        posexplode(TextFunctions.whitespaceTokens(lower(col("text")))).as(Seq("pos", "term")))
      val pterms = pats.select(col("phrase"),
        posexplode(TextFunctions.whitespaceTokens(col("phrase"))).as(Seq("off", "term")))
      val nterms = pats.select(col("phrase"),
        size(TextFunctions.whitespaceTokens(col("phrase"))).as("nt"))
      post.join(broadcast(pterms), Seq("term"))
        .groupBy(col("phrase"), col("doc_id"), (col("pos") - col("off")).as("anchor"))
        .agg(countDistinct(col("off")).as("nmatch"))
        .join(broadcast(nterms), Seq("phrase"))
        .filter(col("nmatch") === col("nt"))
        .groupBy("phrase", "doc_id").agg(count(lit(1)).as("n_occurrences"))
        .orderBy("phrase", "doc_id")
    }),

    // pillar text analysis: PROXIMITY SEARCH — all of a pattern's terms
    // within a K-token window, ANY order: the retrieval operator between
    // q142's whole-document AND-match and q152's exact-phrase adjacency.
    // A window covering all terms has a minimal form starting at a term
    // occurrence, so "qualifying anchors" (term positions whose
    // [pos, pos+K) span holds every distinct pattern term) is a
    // well-defined occurrence count both engines compute identically.
    // The anchor x occurrence pairing is the q49 BANDED range join
    // (pos div K added to the equi-key, anchors probe buckets {b, b+1},
    // exact window predicate refines after): pairs per anchor are
    // bounded by two buckets' occupancy (<= 2K rows), NOT the per-doc
    // occurrence list — a head-term-dense 100k-token document would pay
    // n_occ^2 on a bare (phrase, doc) key. Pattern terms broadcast (the
    // q152 posting machinery).
    "q160_proximity_search" -> ((s, dir) =>
      graft.operators.TextAnalysis.proximitySearch(
          spread(s, rd(s, dir, "documents")), "doc_id", "text",
          TrigramPatterns, ProximityWindowK)
        .orderBy("phrase", "doc_id")),

    // pillar text analysis: QUALITY-RETENTION CURVE — the threshold-sweep
    // report behind every "where do we set the quality cutoff" decision:
    // for each source and each coarse tier of the q184 LM rarity score
    // (lower = better), how many docs and tokens survive a "keep rarity
    // <= tier" filter, as counts and exact ppm fractions. q184 PICKS
    // per-language cutoffs; this exposes the whole curve so a token
    // budget can be traded against quality per source. Same scale shape
    // as q184: one doc-level aggregate, then all curve math on the tiny
    // (source x tier) histogram (cumsum window over <= rarity_range/W
    // rows per source — never a per-doc window), totals broadcast back.
    // Token counts ride free: whitespace bigrams per doc = tokens - 1.
    "q187_quality_retention" -> ((s, dir) => {
      val toks = spread(s, rd(s, dir, "documents"))
        .select(col("doc_id"), col("source"),
          TextFunctions.whitespaceTokens(lower(col("text"))).as("toks"))
        .localCheckpoint(false) // feeds the bigram AND unigram branches
      val bi = toks.filter(size(col("toks")) >= 2)
        .select(col("doc_id"), col("source"),
          explode(transform(sequence(lit(1), size(col("toks")) - 1),
            i => struct(element_at(col("toks"), i).as("w1"),
              element_at(col("toks"), i + 1).as("w2")))).as("b"))
        .select(col("doc_id"), col("source"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      // q184's exact corpus counts (all tokens, all docs) so the rarity
      // score here IS the q184 score, just curve-swept instead of cut
      val uni = toks.select(explode(col("toks")).as("w1"))
        .groupBy("w1").agg(count(lit(1)).as("c1"))
      val big = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val scored = bi.join(big, Seq("w1", "w2")).join(uni, Seq("w1"))
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_bigrams"), sum(expr("c1 div c12")).as("rsum"))
        .withColumn("rarity", expr("(rsum * 1000) div n_bigrams"))
      val hist = scored
        .withColumn("tier", expr(s"rarity div $RetentionBucketW"))
        .groupBy("source", "tier")
        .agg(count(lit(1)).as("docs_in"), sum(col("n_bigrams") + 1).as("toks_in"))
        .localCheckpoint(false) // tiny; feeds the cumsum AND the totals
      val cum = hist
        .withColumn("docs_kept", sum("docs_in").over(
          Window.partitionBy("source").orderBy("tier")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("toks_kept", sum("toks_in").over(
          Window.partitionBy("source").orderBy("tier")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = hist.groupBy("source")
        .agg(sum("docs_in").as("docs_total"), sum("toks_in").as("toks_total"))
      cum.join(broadcast(tot), Seq("source"))
        .select(col("source"),
          expr(s"tier * $RetentionBucketW + ${RetentionBucketW - 1}").as("rarity_le"),
          col("docs_kept"), col("toks_kept"),
          expr("(docs_kept * 1000000) div docs_total").as("docs_ppm"),
          expr("(toks_kept * 1000000) div toks_total").as("toks_ppm"))
        .orderBy("source", "rarity_le")
    }),

    // pillar text analysis: PACKING-EFFICIENCY SWEEP — the context-length
    // capacity audit: for each candidate sequence length, what the corpus
    // costs under stream packing (q128's concatenated layout: sequences =
    // ceil(total/L), plus how many docs straddle a boundary) vs pad-to-L
    // batching (per-doc ceil, plus the padding waste in tokens and exact
    // ppm). One q128-shaped global prefix sum — the offsets are
    // L-INDEPENDENT, so all four configs derive arithmetically from the
    // same cumsum pass (explode over lengths, map-side-combined agg to 4
    // rows); no per-config corpus re-scan.
    "q189_packing_sweep" -> ((s, dir) => {
      val t = spread(s, rd(s, dir, "documents"))
        .select(col("doc_id"),
          size(TextFunctions.whitespaceTokens(lower(col("text")))).cast("long").as("n_tokens"))
      val nRow = t.agg(count(lit(1)).as("n"))
        .select(greatest(lit(1L), expr("n div 256")).as("bw"))
      val cum = Quota.globalCumSum(
          t.crossJoin(broadcast(nRow)),
          bucket = expr("doc_id div bw"),
          ordCols = Seq(col("doc_id").asc),
          weightCol = "n_tokens", cumCol = "cum_tokens")
        .withColumn("offset", col("cum_tokens") - col("n_tokens"))
      cum.select(col("offset"), col("n_tokens"),
          explode(array(PackSweepLens.map(lit(_)): _*)).as("seq_len"))
        .groupBy("seq_len")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          sum(when(
            expr("(offset + greatest(n_tokens, 1L) - 1L) div seq_len")
              > expr("offset div seq_len"), 1L).otherwise(0L)).as("docs_split"),
          sum(expr("(n_tokens + seq_len - 1L) div seq_len")).as("pad_seqs"))
        .withColumn("packed_seqs", expr("(total_tokens + seq_len - 1L) div seq_len"))
        .withColumn("pad_waste_tokens", expr("pad_seqs * seq_len - total_tokens"))
        .withColumn("pad_waste_ppm",
          expr("(pad_waste_tokens * 1000000) div (pad_seqs * seq_len)"))
        .select("seq_len", "n_docs", "total_tokens", "packed_seqs",
          "docs_split", "pad_seqs", "pad_waste_tokens", "pad_waste_ppm")
        .orderBy("seq_len")
    })
  )

  protected def textOracle: Map[String, String] = Map(
    // same chunk grid: n_chunks = ceil((ntok - C)/S) + 1 (min 1), chunk i
    // covers tokens [i*S, i*S + C); DuckDB list slicing is 1-based
    // end-inclusive
    "q172_chunk_overlap" ->
      s"""WITH t AS (SELECT doc_id,
         |  CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE $tokensSql END AS toks
         |  FROM documents),
         |n AS (SELECT doc_id, toks, len(toks)::BIGINT AS ntok FROM t),
         |c AS (SELECT doc_id, toks, ntok,
         |        CASE WHEN ntok <= 32 THEN 1 ELSE (ntok - 32 + 23) // 24 + 1 END AS n_chunks
         |      FROM n),
         |e AS (SELECT doc_id, toks, ntok, unnest(range(0, n_chunks)) AS chunk_idx FROM c)
         |SELECT doc_id, chunk_idx,
         |       (chunk_idx * 24)::BIGINT AS start_tok,
         |       least(ntok - chunk_idx * 24, 32)::BIGINT AS n_tokens,
         |       array_to_string(toks[(chunk_idx * 24 + 1)::INT:(chunk_idx * 24 + 32)::INT], ' ') AS chunk_text
         |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,

    "q44_lang_id" -> {
      val scoreCols = TextAnalysis.LangStopwords.map { case (l, words) =>
        val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
        s"""CASE WHEN len(toks) = 0 THEN 0.0
           |       ELSE len(list_filter(toks, t -> list_contains($list, t)))::DOUBLE / len(toks) END AS s_$l"""
          .stripMargin
      }.mkString(",\n  ")
      val langs = TextAnalysis.LangStopwords.map(_._1)
      // reverse-order strict-greater chain == Spark's nested whens:
      // later language wins only if strictly above the max of all earlier
      val predCases = langs.tail.reverse.map { l =>
        val earlier = langs.takeWhile(_ != l).map(e => s"s_$e")
        val m = if (earlier.length == 1) earlier.head else s"greatest(${earlier.mkString(", ")})"
        s"WHEN s_$l > $m THEN '$l'"
      }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang, $tokensLowerSql AS toks FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  $scoreCols
         |  FROM t)
         |SELECT doc_id, lang,
         |       CASE $predCases ELSE '${langs.head}' END AS pred_lang,
         |       greatest(${langs.map(l => s"s_$l").mkString(", ")}) AS best_score
         |FROM sc ORDER BY doc_id""".stripMargin
    },

    "q165_langid_trigram" ->
      s"""WITH $langIdTrigramCtes
         |SELECT doc_id, lang, pred_lang, best_score
         |FROM pred ORDER BY doc_id""".stripMargin,

    "q167_langid_confusion" ->
      s"""WITH $langIdTrigramCtes,
         |cm AS (SELECT lang, pred_lang, count(*)::BIGINT AS n_docs
         |       FROM pred GROUP BY 1, 2)
         |SELECT lang, pred_lang, n_docs,
         |       CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
         |       n_docs::DOUBLE / sum(n_docs) OVER (PARTITION BY lang) AS frac
         |FROM cm ORDER BY lang, pred_lang""".stripMargin,

    "q36_lang_stopword_ratio" -> {
      val sw = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""SELECT doc_id, lang,
         |  CASE WHEN len($tokensLowerSql) = 0 THEN 0.0
         |       ELSE len(list_filter($tokensLowerSql, t -> list_contains($sw, t)))::DOUBLE
         |            / len($tokensLowerSql) END AS en_score
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "q37_quality_metrics" ->
      s"""SELECT doc_id,
         |  strlen(text) AS n_bytes,
         |  CASE WHEN trim(text) = '' THEN 0 ELSE len($tokensSql) END AS n_tokens,
         |  CASE WHEN trim(text) = '' THEN 0.0
         |       ELSE list_sum(list_transform($tokensSql, t -> strlen(t)))::DOUBLE / len($tokensSql) END AS mean_tok_len,
         |  CASE WHEN strlen(text) = 0 THEN 0.0
         |       ELSE len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]'))::DOUBLE / strlen(text) END AS punct_ratio
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q38_fingerprint" ->
      s"""SELECT doc_id,
         |  CASE WHEN len(${docShinglesSql(4)}) = 0 THEN NULL
         |       ELSE array_to_string(list_sort(list_transform(${docShinglesSql(4)}, g -> md5(g)))[1:8], ',') END AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q39_token_counts" ->
      s"""SELECT doc_id,
         |  CASE WHEN trim(text) = '' THEN 0 ELSE len($tokensSql) END AS n_ws_tokens,
         |  CASE WHEN strlen(text) = 0 THEN 0
         |       ELSE len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) END AS n_word_pieces
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q55_quality_filter" -> {
      val sw = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH m AS (SELECT doc_id,
         |  CASE WHEN trim(text) = '' THEN 0 ELSE len($tokensSql) END AS n_tokens,
         |  CASE WHEN trim(text) = '' THEN 0.0
         |       ELSE list_sum(list_transform($tokensSql, t -> strlen(t)))::DOUBLE / len($tokensSql) END AS mean_tok_len,
         |  CASE WHEN strlen(text) = 0 THEN 0.0
         |       ELSE len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]'))::DOUBLE / strlen(text) END AS punct_ratio,
         |  CASE WHEN len($tokensLowerSql) = 0 THEN 0.0
         |       ELSE len(list_filter($tokensLowerSql, t -> list_contains($sw, t)))::DOUBLE
         |            / len($tokensLowerSql) END AS en_score
         |  FROM documents)
         |SELECT doc_id, n_tokens, mean_tok_len, punct_ratio, en_score,
         |       (n_tokens >= $QfMinTokens AND mean_tok_len >= $QfMinMeanTokLen AND mean_tok_len <= $QfMaxMeanTokLen
         |        AND punct_ratio <= $QfMaxPunctRatio AND en_score >= $QfMinStopwordRatio) AS keep
         |FROM m ORDER BY doc_id""".stripMargin
    },

    "q56_top_ngrams" ->
      s"""WITH t AS (SELECT $tokensLowerSql AS toks FROM documents WHERE trim(text) <> ''),
         |b AS (SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i::INT] || ' ' || toks[(i::INT)+1])) AS ng FROM t)
         |SELECT ng, count(*) AS cnt FROM b GROUP BY ng ORDER BY cnt DESC, ng ASC LIMIT 50""".stripMargin,

    "q57_source_stats" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
        |       sum(strlen(text))::BIGINT AS sum_bytes,
        |       (sum(strlen(text))::BIGINT)::DOUBLE / count(*) AS avg_bytes
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q58_tfidf_top_terms" ->
      s"""WITH t AS (SELECT doc_id, unnest($tokensLowerSql) AS term FROM documents WHERE trim(text) <> ''),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         |         (tf.tf * (SELECT count(*) FROM documents))::DOUBLE / dfq.df AS score
         |       FROM tf JOIN dfq USING (term)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank FROM sc)
         |SELECT doc_id, term, tf, df, score, rank FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "q106_pii_redact" ->
      """WITH d AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@example.com or +1-555-'
        |       || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean,
        |  len(regexp_extract_all(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(dirty, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}'))::BIGINT AS n_phones
        |FROM d ORDER BY doc_id""".stripMargin,

    "q111_rare_token_score" ->
      s"""WITH t AS (SELECT doc_id, unnest($tokensLowerSql) AS term FROM documents),
         |c AS (SELECT term, count(*) AS cnt FROM t GROUP BY term)
         |SELECT doc_id,
         |       count(*)::BIGINT AS n_tokens,
         |       sum(CASE WHEN cnt <= $RareMaxFreq THEN 1 ELSE 0 END)::BIGINT AS n_rare,
         |       sum(cnt)::BIGINT AS sum_freq,
         |       (sum(CASE WHEN cnt <= $RareMaxFreq THEN 1 ELSE 0 END)::BIGINT)::DOUBLE
         |         / count(*) AS rare_ratio,
         |       (sum(cnt)::BIGINT)::DOUBLE / count(*) AS mean_freq
         |FROM t JOIN c USING (term) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q112_source_mix_sample" ->
      s"""WITH q AS (
         |  SELECT source,
         |         least(count(*), floor(sqrt(count(*)::DOUBLE) * $MixSqrtScale)::BIGINT) AS quota
         |  FROM documents GROUP BY source),
         |r AS (
         |  SELECT source, doc_id,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY md5('mix-' || doc_id), doc_id) AS rk
         |  FROM documents)
         |SELECT r.source, doc_id, rk::BIGINT AS rk
         |FROM r JOIN q USING (source) WHERE rk <= quota ORDER BY source, rk""".stripMargin,

    "q113_prep_pipeline" -> {
      val sw = TextAnalysis.EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH m AS (SELECT doc_id,
         |  CASE WHEN trim(text) = '' THEN 0 ELSE len($tokensSql) END AS n_tokens,
         |  CASE WHEN trim(text) = '' THEN 0.0
         |       ELSE list_sum(list_transform($tokensSql, t -> strlen(t)))::DOUBLE / len($tokensSql) END AS mean_tok_len,
         |  CASE WHEN strlen(text) = 0 THEN 0.0
         |       ELSE len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]'))::DOUBLE / strlen(text) END AS punct_ratio,
         |  CASE WHEN len($tokensLowerSql) = 0 THEN 0.0
         |       ELSE len(list_filter($tokensLowerSql, t -> list_contains($sw, t)))::DOUBLE
         |            / len($tokensLowerSql) END AS en_score
         |  FROM documents),
         |kept AS (SELECT doc_id, n_tokens FROM m
         |  WHERE n_tokens >= $QfMinTokens AND mean_tok_len >= $QfMinMeanTokLen
         |    AND mean_tok_len <= $QfMaxMeanTokLen AND punct_ratio <= $QfMaxPunctRatio
         |    AND en_score >= $QfMinStopwordRatio),
         |dd AS (SELECT doc_id, n_tokens FROM (
         |  SELECT k.doc_id, k.n_tokens,
         |         row_number() OVER (PARTITION BY md5(d.text) ORDER BY k.doc_id) AS rn
         |  FROM kept k JOIN documents d USING (doc_id)) WHERE rn = 1),
         |sh AS (SELECT doc_id,
         |  unnest(list_distinct(list_transform(${docShinglesSql(DecontamSpanN)},
         |    g -> ('0x' || substr(md5(g), 1, 15))::BIGINT))) AS h
         |  FROM documents),
         |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0),
         |contaminated AS (SELECT DISTINCT doc_id FROM sh JOIN bench USING (h)),
         |clean AS (SELECT doc_id, n_tokens FROM dd
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |c AS (SELECT d.doc_id, d.lang, cl.n_tokens,
         |        (sum(cl.n_tokens) OVER (PARTITION BY d.lang ORDER BY d.n_chars DESC, d.doc_id ASC
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_tokens
         |      FROM clean cl JOIN documents d USING (doc_id))
         |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= $TokenBudgetPerLang ORDER BY doc_id""".stripMargin
    },

    "q114_bigram_lm_score" ->
      s"""WITH t AS (SELECT doc_id, $tokensLowerSql AS toks FROM documents WHERE trim(text) <> ''),
         |bb AS (SELECT doc_id,
         |         unnest(list_transform(range(1, len(toks)),
         |           i -> {'w1': toks[i::INT], 'w2': toks[(i::INT)+1]})) AS b
         |       FROM t WHERE len(toks) >= 2),
         |bi AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bb),
         |c1 AS (SELECT w1, count(*) AS c1 FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY w1),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2)
         |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         |       sum(CASE WHEN c12.c12 * 100 < c1.c1 THEN 1 ELSE 0 END)::BIGINT AS n_rare,
         |       min(c12.c12::DOUBLE / c1.c1) AS min_prob
         |FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q114's scoring CTEs + per-lang tercile cutoffs; every windowed sum
    // and the ppm division cast back to BIGINT (DuckDB sums widen)
    "q184_lm_quality_buckets" ->
      s"""WITH $lmBucketCtes
         |SELECT doc_id, lang, rarity, bucket FROM bucketed ORDER BY doc_id""".stripMargin,

    // q184's bucket CTEs + per-source aggregates for volume, exact-dup
    // redundancy, tier mix, and the q119-shaped span leakage count
    "q200_data_card" ->
      s"""WITH $lmBucketCtes,
         |base AS (SELECT source, count(*)::BIGINT AS n_docs,
         |           sum(CASE WHEN trim(text) = '' THEN 0 ELSE len($tokensSql) END)::BIGINT AS n_tokens,
         |           (count(*) - count(DISTINCT md5(text)))::BIGINT AS n_dup_docs
         |         FROM documents GROUP BY source),
         |tiers AS (SELECT d.source,
         |            sum(CASE WHEN bucket = 'head' THEN 1 ELSE 0 END)::BIGINT AS n_head,
         |            sum(CASE WHEN bucket = 'middle' THEN 1 ELSE 0 END)::BIGINT AS n_middle,
         |            sum(CASE WHEN bucket = 'tail' THEN 1 ELSE 0 END)::BIGINT AS n_tail
         |          FROM bucketed JOIN documents d USING (doc_id) GROUP BY d.source),
         |sh AS (SELECT doc_id,
         |         unnest(list_distinct(list_transform(${docShinglesSql(DecontamSpanN)},
         |           g -> ('0x' || substr(md5(g), 1, 15))::BIGINT))) AS h
         |       FROM documents),
         |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % $ContamBenchMod = 0),
         |cont AS (SELECT d.source, count(DISTINCT s.doc_id)::BIGINT AS n_contaminated
         |         FROM sh s JOIN bench USING (h) JOIN documents d USING (doc_id)
         |         WHERE s.doc_id % $ContamBenchMod <> 0 GROUP BY d.source)
         |SELECT b.source, b.n_docs, b.n_tokens, b.n_dup_docs,
         |       coalesce(t.n_head, 0)::BIGINT AS n_head,
         |       coalesce(t.n_middle, 0)::BIGINT AS n_middle,
         |       coalesce(t.n_tail, 0)::BIGINT AS n_tail,
         |       coalesce(c.n_contaminated, 0)::BIGINT AS n_contaminated
         |FROM base b LEFT JOIN tiers t USING (source) LEFT JOIN cont c USING (source)
         |ORDER BY b.source""".stripMargin,

    // q184's bucket CTEs + the q161 md5 shard/rank arithmetic, tier-major
    // within each shard
    "q199_curriculum_export" ->
      s"""WITH $lmBucketCtes,
         |sh AS (SELECT bucketed.*,
         |         ('0x' || substr(md5('shard-' || doc_id), 1, 15))::BIGINT AS hk
         |       FROM bucketed)
         |SELECT doc_id, lang, bucket, (hk % $ShardCount)::BIGINT AS shard,
         |       row_number() OVER (PARTITION BY hk % $ShardCount ORDER BY
         |         CASE bucket WHEN 'head' THEN 0 WHEN 'middle' THEN 1 ELSE 2 END,
         |         hk, doc_id) AS pos_in_shard
         |FROM sh ORDER BY shard, pos_in_shard""".stripMargin,

    // q184's scoring CTEs verbatim (keyed by source), then the curve:
    // per-tier histogram -> cumulative kept counts -> exact ppm
    "q187_quality_retention" ->
      s"""WITH t AS (SELECT doc_id, source, $tokensLowerSql AS toks FROM documents WHERE trim(text) <> ''),
         |bb AS (SELECT doc_id, source,
         |         unnest(list_transform(range(1, len(toks)),
         |           i -> {'w1': toks[i::INT], 'w2': toks[(i::INT)+1]})) AS b
         |       FROM t WHERE len(toks) >= 2),
         |bi AS (SELECT doc_id, source, b.w1 AS w1, b.w2 AS w2 FROM bb),
         |c1 AS (SELECT w1, count(*) AS c1 FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY w1),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
         |sc AS (SELECT doc_id, source, count(*) AS n_bigrams,
         |         sum(c1.c1 // c12.c12)::BIGINT AS rsum
         |       FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
         |       GROUP BY doc_id, source),
         |s2 AS (SELECT doc_id, source, ((rsum * 1000) // n_bigrams)::BIGINT AS rarity,
         |         n_bigrams FROM sc),
         |h AS (SELECT source, rarity // $RetentionBucketW AS tier,
         |        count(*)::BIGINT AS docs_in, sum(n_bigrams + 1)::BIGINT AS toks_in
         |      FROM s2 GROUP BY 1, 2),
         |c AS (SELECT source, tier,
         |        CAST(sum(docs_in) OVER (PARTITION BY source ORDER BY tier) AS BIGINT) AS docs_kept,
         |        CAST(sum(toks_in) OVER (PARTITION BY source ORDER BY tier) AS BIGINT) AS toks_kept
         |      FROM h),
         |tt AS (SELECT source, sum(docs_in)::BIGINT AS docs_total,
         |         sum(toks_in)::BIGINT AS toks_total FROM h GROUP BY 1)
         |SELECT c.source, (tier * $RetentionBucketW + ${RetentionBucketW - 1})::BIGINT AS rarity_le,
         |       docs_kept, toks_kept,
         |       ((docs_kept * 1000000) // docs_total)::BIGINT AS docs_ppm,
         |       ((toks_kept * 1000000) // toks_total)::BIGINT AS toks_ppm
         |FROM c JOIN tt USING (source) ORDER BY c.source, rarity_le""".stripMargin,

    // q128's offset CTE verbatim, then per-length arithmetic: packed
    // sequences from the global total, pad-to-L sequences per doc
    "q189_packing_sweep" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         CASE WHEN trim(text) = '' THEN 0
         |              ELSE len($tokensLowerSql) END::BIGINT AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |         CAST(sum(n_tokens) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS "offset"
         |  FROM t),
         |x AS (SELECT c.*, l.seq_len FROM c,
         |        (SELECT unnest([${PackSweepLens.mkString(", ")}]::BIGINT[]) AS seq_len) l),
         |g AS (SELECT seq_len, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
         |        sum(CASE WHEN ("offset" + greatest(n_tokens, 1) - 1) // seq_len
         |                      > "offset" // seq_len THEN 1 ELSE 0 END)::BIGINT AS docs_split,
         |        sum((n_tokens + seq_len - 1) // seq_len)::BIGINT AS pad_seqs
         |      FROM x GROUP BY 1)
         |SELECT seq_len, n_docs, total_tokens,
         |       ((total_tokens + seq_len - 1) // seq_len)::BIGINT AS packed_seqs,
         |       docs_split, pad_seqs,
         |       (pad_seqs * seq_len - total_tokens)::BIGINT AS pad_waste_tokens,
         |       ((pad_seqs * seq_len - total_tokens) * 1000000 // (pad_seqs * seq_len))::BIGINT AS pad_waste_ppm
         |FROM g ORDER BY seq_len""".stripMargin,

    "q151_quality_checks" ->
      """WITH checks AS (
        |  SELECT 'orders_pk_unique' AS check_name,
        |         (count(*) - count(DISTINCT o_orderkey))::BIGINT AS violations FROM orders
        |  UNION ALL SELECT 'orders_custkey_not_null',
        |         sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT FROM orders
        |  UNION ALL SELECT 'orders_fk_customer',
        |         (SELECT count(*) FROM orders o LEFT JOIN customer c
        |            ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)::BIGINT
        |  UNION ALL SELECT 'orders_totalprice_positive',
        |         sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)::BIGINT FROM orders
        |  UNION ALL SELECT 'orders_status_accepted',
        |         sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END)::BIGINT FROM orders
        |  UNION ALL SELECT 'lineitem_qty_range',
        |         sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)::BIGINT FROM lineitem
        |  UNION ALL SELECT 'lineitem_fk_orders',
        |         (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |            ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)::BIGINT
        |  UNION ALL SELECT 'lineitem_discount_range',
        |         sum(CASE WHEN l_discount < 0 OR l_discount > 0.5 THEN 1 ELSE 0 END)::BIGINT FROM lineitem)
        |SELECT check_name, violations, violations = 0 AS passed
        |FROM checks ORDER BY check_name""".stripMargin,

    "q119_contamination_overlap" -> contaminationOracle,

    "q127_bpe_train_merges" ->
      s"""WITH bw AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest($tokensLowerSql) AS word FROM documents)
         |  GROUP BY word),
         |bs0 AS (
         |  SELECT word, freq,
         |         array_to_string(list_transform(regexp_extract_all(word, '.'),
         |           c -> chr(31) || c || chr(31)), ' ') AS seq
         |  FROM bw),
         |${bpeCtesSql(BpeSteps)}
         |SELECT * FROM (
         |${(1 to BpeSteps).map(t =>
             s"""  SELECT CAST($t AS BIGINT) AS step, replace(a, chr(31), '') AS "left",
                |         replace(b, chr(31), '') AS "right", pair_count FROM bb$t""".stripMargin)
             .mkString("\n  UNION ALL\n")}
         |)
         |ORDER BY step""".stripMargin,

    // the encode half re-derives the same merge chain, then reads the
    // per-word piece count off the FINAL segmentation state
    "q134_bpe_encode" ->
      s"""WITH bw AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest($tokensLowerSql) AS word FROM documents)
         |  GROUP BY word),
         |bs0 AS (
         |  SELECT word, freq,
         |         array_to_string(list_transform(regexp_extract_all(word, '.'),
         |           c -> chr(31) || c || chr(31)), ' ') AS seq
         |  FROM bw),
         |${bpeCtesSql(BpeSteps)},
         |vocab AS (
         |  SELECT word, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_pieces
         |  FROM bs$BpeSteps),
         |toks AS (SELECT doc_id, unnest($tokensLowerSql) AS word FROM documents)
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(v.n_pieces) AS BIGINT) AS n_pieces,
         |       CAST(sum(v.n_pieces) AS BIGINT)::DOUBLE / count(*) AS pieces_per_word
         |FROM toks t JOIN vocab v USING (word)
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,

    "q128_sequence_packing" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         CASE WHEN trim(text) = '' THEN 0
         |              ELSE len($tokensLowerSql) END::BIGINT AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |         CAST(sum(n_tokens) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tokens AS "offset"
         |  FROM t)
         |SELECT doc_id, n_tokens, "offset",
         |       "offset" // $PackSeqLen AS first_seq,
         |       ("offset" + greatest(n_tokens, 1) - 1) // $PackSeqLen AS last_seq,
         |       ("offset" + greatest(n_tokens, 1) - 1) // $PackSeqLen - "offset" // $PackSeqLen + 1 AS n_seqs
         |FROM c ORDER BY doc_id""".stripMargin,

    // the chained-CTE mirror of the one-plan composite: q134's vocab
    // CTEs -> per-doc encode -> q128's running-sum packing over piece
    // counts -> q161's md5 shard of the first sequence
    "q166_tokenize_pack_shard" ->
      s"""WITH bw AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest($tokensLowerSql) AS word FROM documents)
         |  GROUP BY word),
         |bs0 AS (
         |  SELECT word, freq,
         |         array_to_string(list_transform(regexp_extract_all(word, '.'),
         |           c -> chr(31) || c || chr(31)), ' ') AS seq
         |  FROM bw),
         |${bpeCtesSql(BpeSteps)},
         |vocab AS (
         |  SELECT word, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_pieces
         |  FROM bs$BpeSteps),
         |toks AS (SELECT doc_id, unnest($tokensLowerSql) AS word FROM documents),
         |enc AS (
         |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |         CAST(sum(v.n_pieces) AS BIGINT) AS n_tok
         |  FROM toks t JOIN vocab v USING (word) GROUP BY t.doc_id),
         |c AS (
         |  SELECT doc_id, n_words, n_tok,
         |         CAST(sum(n_tok) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_tok AS "offset"
         |  FROM enc)
         |SELECT doc_id, n_words, n_tok, "offset",
         |       "offset" // $PackSeqLen AS first_seq,
         |       ("offset" + greatest(n_tok, 1) - 1) // $PackSeqLen AS last_seq,
         |       ("offset" + greatest(n_tok, 1) - 1) // $PackSeqLen - "offset" // $PackSeqLen + 1 AS n_seqs,
         |       (('0x' || substr(md5('shard-' || ("offset" // $PackSeqLen)), 1, 15))::BIGINT % $ShardCount)::BIGINT AS shard
         |FROM c ORDER BY doc_id""".stripMargin,

    "q125_lang_upsample_epochs" ->
      """WITH s AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, n, CAST(floor(sqrt(n::DOUBLE) * 1000) AS BIGINT) AS w FROM s),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot, CAST(sum(w) AS BIGINT) AS sum_w FROM w),
        |plan AS (
        |  SELECT lang, n, w,
        |         (n_tot // sum_w) * w + ((n_tot % sum_w) * w + sum_w - 1) // sum_w AS target
        |  FROM w, t),
        |plan2 AS (SELECT *, (target + n - 1) // n AS f,
        |                 target - ((target + n - 1) // n - 1) * n AS quota
        |          FROM plan),
        |fulle AS (
        |  SELECT d.lang, d.doc_id, unnest(range(1, p.f)) AS epoch
        |  FROM documents d JOIN plan2 p USING (lang) WHERE p.f >= 2),
        |ranked AS (
        |  SELECT d.lang, d.doc_id,
        |         row_number() OVER (PARTITION BY d.lang
        |                            ORDER BY md5('mix-' || d.doc_id), d.doc_id) AS rk
        |  FROM documents d),
        |partial AS (
        |  SELECT r.lang, r.doc_id, p.f AS epoch
        |  FROM ranked r JOIN plan2 p USING (lang) WHERE r.rk <= p.quota)
        |SELECT lang, doc_id, epoch
        |FROM (SELECT * FROM fulle UNION ALL SELECT * FROM partial)
        |ORDER BY lang, epoch, doc_id""".stripMargin,

    "q73_text_normalize" ->
      """SELECT doc_id,
        |       array_to_string(list_filter(string_split(text, ' '), t -> strlen(t) > 1), ' ') AS clean,
        |       len(list_filter(string_split(text, ' '), t -> strlen(t) <= 1))::BIGINT AS n_dropped
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q74_boilerplate_strip" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |tok AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM d),
         |dfreq AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
         |tot AS (SELECT count(*) AS n_docs FROM d),
         |common AS (SELECT coalesce(list(tok), []) AS cl FROM dfreq, tot WHERE df * 100 > n_docs * $BoilerplateDfPct)
         |SELECT doc_id,
         |       coalesce(array_to_string(list_filter(toks, t -> NOT list_contains(cl, t)), ' '), '') AS clean
         |FROM d, common ORDER BY doc_id""".stripMargin,

    "q92_token_budget" ->
      s"""WITH t AS (SELECT doc_id, lang, n_chars,
         |  len(CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE $tokensLowerSql END)::BIGINT AS n_tokens
         |  FROM documents),
         |c AS (SELECT *, (sum(n_tokens) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_tokens
         |      FROM t)
         |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= $TokenBudgetPerLang ORDER BY doc_id""".stripMargin,

    "q87_repetition_signals" ->
      s"""WITH d AS (SELECT doc_id,
         |  CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE $tokensLowerSql END AS toks
         |  FROM documents),
         |s AS (SELECT doc_id, len(toks)::BIGINT AS n_words,
         |             len(list_distinct(toks))::BIGINT AS n_distinct FROM d),
         |b AS (SELECT doc_id,
         |  unnest(list_transform(range(1, len(toks)), i -> toks[i::INT] || ' ' || toks[(i::INT)+1])) AS ng
         |  FROM d),
         |c AS (SELECT doc_id, ng, count(*) AS cnt FROM b GROUP BY doc_id, ng),
         |r AS (SELECT doc_id, ng, cnt,
         |        row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, ng ASC) AS rn FROM c)
         |SELECT s.doc_id, s.n_words,
         |       CASE WHEN s.n_words = 0 THEN 0.0
         |            ELSE (s.n_words - s.n_distinct)::DOUBLE / s.n_words END AS dup_word_frac,
         |       coalesce(r.ng, '') AS top_bigram,
         |       CASE WHEN s.n_words < 2 THEN 0.0
         |            ELSE r.cnt::DOUBLE / (s.n_words - 1) END AS top_bigram_frac
         |FROM s LEFT JOIN (SELECT * FROM r WHERE rn = 1) r USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q85_decontaminate" ->
      s"""WITH sh AS (SELECT doc_id,
         |  unnest(list_distinct(list_transform(${docShinglesSql(8)},
         |    g -> ('0x' || substr(md5(g), 1, 15))::BIGINT))) AS h
         |  FROM documents),
         |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0),
         |contaminated AS (SELECT DISTINCT doc_id FROM sh JOIN bench USING (h))
         |SELECT d.doc_id, d.source FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)
         |ORDER BY d.doc_id""".stripMargin,

    // bloom build + probe re-derived with the same integer bit ops: 3
    // 16-bit probes sliced from the 60-bit md5 span key, 32-bit words
    "q136_bloom_decontaminate" ->
      s"""WITH sh AS (SELECT doc_id,
         |  unnest(list_distinct(list_transform(${docShinglesSql(DecontamSpanN)},
         |    g -> ('0x' || substr(md5(g), 1, 15))::BIGINT))) AS h
         |  FROM documents),
         |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % $ContamBenchMod = 0),
         |bp AS (SELECT unnest([h & 65535, (h >> 16) & 65535, (h >> 32) & 65535]) AS p FROM bench),
         |bloom AS (SELECT p >> 5 AS word, bit_or(1::BIGINT << ((p & 31)::INT)) AS bits
         |          FROM bp GROUP BY 1),
         |cp AS (SELECT doc_id, h,
         |         unnest([h & 65535, (h >> 16) & 65535, (h >> 32) & 65535]) AS p
         |       FROM sh WHERE doc_id % $ContamBenchMod <> 0),
         |m AS (SELECT doc_id, h,
         |        (sum(CASE WHEN bits IS NOT NULL
         |                   AND (bits & (1::BIGINT << ((p & 31)::INT))) <> 0
         |             THEN 1 ELSE 0 END) = 3) AS bloom_pos
         |      FROM cp LEFT JOIN bloom ON (p >> 5) = word GROUP BY doc_id, h),
         |a AS (SELECT m.doc_id, count(*) AS n_spans,
         |        sum(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS n_bloom_pos,
         |        sum(CASE WHEN b.h IS NULL THEN 0 ELSE 1 END) AS n_hit
         |      FROM m LEFT JOIN bench b ON b.h = m.h GROUP BY m.doc_id)
         |SELECT doc_id, n_spans::BIGINT AS n_spans, n_bloom_pos::BIGINT AS n_bloom_pos,
         |       n_hit::BIGINT AS n_hit, (n_bloom_pos - n_hit)::BIGINT AS n_false_pos,
         |       (n_bloom_pos - n_hit)::DOUBLE / nullif(n_spans - n_hit, 0) AS fp_rate
         |FROM a ORDER BY doc_id""".stripMargin,

    // same contribution expression text as the Spark side (Bm25ContribSql)
    "q137_bm25_topk" ->
      s"""WITH t AS (SELECT doc_id, unnest($tokensLowerSql) AS term FROM documents),
         |c AS (SELECT doc_id, term FROM t WHERE doc_id % $Bm25QueryMod <> 0),
         |d AS (SELECT doc_id, count(*) AS dl FROM c GROUP BY doc_id),
         |st AS (SELECT count(*) AS n_docs, sum(dl)::BIGINT AS tot FROM d),
         |p AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term),
         |f AS (SELECT term, count(*) AS df FROM p GROUP BY term),
         |q AS (SELECT DISTINCT doc_id AS q_id, term FROM t WHERE doc_id % $Bm25QueryMod = 0),
         |sc AS (SELECT q_id, p.doc_id,
         |         sum(($Bm25ContribSql)::BIGINT)::BIGINT AS score
         |       FROM p JOIN q USING (term) JOIN f USING (term)
         |            JOIN d ON d.doc_id = p.doc_id CROSS JOIN st
         |       GROUP BY 1, 2),
         |r AS (SELECT q_id, doc_id, score,
         |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rk
         |      FROM sc)
         |SELECT q_id, doc_id, score, rk::BIGINT AS rk FROM r
         |WHERE rk <= $Bm25TopK ORDER BY q_id, rk""".stripMargin,

    // q137's CTE chain -> candidates, then the exact partial_ratio bitap
    // (scorerCtes) over only the candidates, re-ranked
    "q177_retrieve_rerank" ->
      s"""WITH t AS (SELECT doc_id, unnest($tokensLowerSql) AS term FROM documents),
         |c AS (SELECT doc_id, term FROM t WHERE doc_id % $Bm25QueryMod <> 0),
         |d AS (SELECT doc_id, count(*) AS dl FROM c GROUP BY doc_id),
         |st AS (SELECT count(*) AS n_docs, sum(dl)::BIGINT AS tot FROM d),
         |p AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term),
         |f AS (SELECT term, count(*) AS df FROM p GROUP BY term),
         |q AS (SELECT DISTINCT doc_id AS q_id, term FROM t WHERE doc_id % $Bm25QueryMod = 0),
         |qk AS (SELECT term, q_id, df FROM (
         |         SELECT f.term, q.q_id, f.df, st.n_docs,
         |                row_number() OVER (PARTITION BY q_id ORDER BY df, term) AS rnk
         |         FROM f JOIN q USING (term) CROSS JOIN st)
         |       WHERE rnk <= $Bm25KeepRarest OR df * $Bm25DfStopMult < n_docs),
         |sc AS (SELECT q_id, p.doc_id,
         |         sum(($Bm25ContribSql)::BIGINT)::BIGINT AS score
         |       FROM p JOIN qk USING (term)
         |            JOIN d ON d.doc_id = p.doc_id CROSS JOIN st
         |       GROUP BY 1, 2),
         |r AS (SELECT q_id, doc_id, score,
         |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rk
         |      FROM sc),
         |topk AS (SELECT q_id, doc_id, score AS bm25 FROM r WHERE rk <= $Bm25TopK),
         |nd AS (SELECT doc_id AS q_id, substr(text, 1, 48) AS needle
         |       FROM documents WHERE doc_id % $Bm25QueryMod = 0),
         |named AS (SELECT tk.q_id, tk.doc_id, tk.bm25, dd.text, n.needle
         |          FROM topk tk JOIN nd n USING (q_id)
         |               JOIN documents dd ON dd.doc_id = tk.doc_id),
         |${scorerCtes("named", "text", "needle", 50)},
         |rr AS (SELECT q_id, doc_id, bm25, score AS pr,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY score DESC, bm25 DESC, doc_id) AS rrank
         |       FROM scored)
         |SELECT q_id, doc_id, bm25, pr, rrank::BIGINT AS rrank FROM rr
         |WHERE rrank <= 5 ORDER BY q_id, rrank""".stripMargin,

    // b-prefixed q137 chain + the q43 IVF chain (query mod = Bm25QueryMod,
    // k=10) + exact-integer RRF fusion
    "q180_hybrid_rrf" ->
      s"""WITH bt AS (SELECT doc_id, unnest($tokensLowerSql) AS term FROM documents),
         |bc AS (SELECT doc_id, term FROM bt WHERE doc_id % $Bm25QueryMod <> 0),
         |bd AS (SELECT doc_id, count(*) AS dl FROM bc GROUP BY doc_id),
         |bst AS (SELECT count(*) AS n_docs, sum(dl)::BIGINT AS tot FROM bd),
         |bp AS (SELECT doc_id, term, count(*) AS tf FROM bc GROUP BY doc_id, term),
         |bf AS (SELECT term, count(*) AS df FROM bp GROUP BY term),
         |bq AS (SELECT DISTINCT doc_id AS q_id, term FROM bt WHERE doc_id % $Bm25QueryMod = 0),
         |bqk AS (SELECT term, q_id, df FROM (
         |          SELECT bf.term, bq.q_id, bf.df, bst.n_docs,
         |                 row_number() OVER (PARTITION BY q_id ORDER BY df, term) AS rnk
         |          FROM bf JOIN bq USING (term) CROSS JOIN bst)
         |        WHERE rnk <= $Bm25KeepRarest OR df * $Bm25DfStopMult < n_docs),
         |bsc AS (SELECT q_id, bp.doc_id,
         |          sum(($Bm25ContribSql)::BIGINT)::BIGINT AS score
         |        FROM bp JOIN bqk USING (term)
         |             JOIN bd ON bd.doc_id = bp.doc_id CROSS JOIN bst
         |        GROUP BY 1, 2),
         |btop AS (SELECT q_id, doc_id, rk AS rk_t FROM (
         |  SELECT q_id, doc_id,
         |         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rk
         |  FROM bsc) WHERE rk <= $Bm25TopK),
         |v AS (SELECT vec_id,
         |        list_transform(embedding, x -> floor(x::DOUBLE * 1000)::BIGINT) AS qv,
         |        list_transform(embedding, x -> x::DOUBLE) AS dv
         |      FROM embeddings),
         |${trainSampleCtesSql("v")},
         |${lloydCtesSql("tv", "kinit", 64, KmeansIters, Seq.empty, "cents0")},
         |score AS (
         |  SELECT v.vec_id AS id, cents0.centroid_id,
         |         CAST(list_sum(list_transform(range(1, 65), i -> v.qv[i::INT] * cents0.cv[i::INT])) AS BIGINT) AS sc
         |  FROM v CROSS JOIN cents0),
         |assign AS (
         |  SELECT id AS r_id, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY sc DESC, centroid_id ASC) AS rk FROM score)
         |  WHERE rk = 1),
         |probes AS (
         |  SELECT id AS q_id, centroid_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY sc DESC, centroid_id ASC) AS rk
         |    FROM score WHERE id % $Bm25QueryMod = 0)
         |  WHERE rk <= 2),
         |n AS (SELECT vec_id, dv, sqrt(list_sum(list_transform(dv, x -> x * x))) AS nrm FROM v),
         |cand AS (SELECT q_id, r_id FROM probes JOIN assign USING (centroid_id) WHERE q_id <> r_id),
         |ref AS (
         |  SELECT cand.q_id, cand.r_id,
         |         list_sum(list_transform(range(1, 65), i -> qn.dv[i::INT] * rn.dv[i::INT])) / (qn.nrm * rn.nrm) AS cos_sim
         |  FROM cand JOIN n qn ON qn.vec_id = cand.q_id JOIN n rn ON rn.vec_id = cand.r_id),
         |vtop AS (SELECT q_id, r_id AS doc_id, rank AS rk_v FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, r_id ASC) AS rank FROM ref)
         |  WHERE rank <= 10),
         |fus AS (
         |  SELECT coalesce(b.q_id, w.q_id) AS q_id,
         |         coalesce(b.doc_id, w.doc_id) AS doc_id,
         |         coalesce(1000000000 // (60 + b.rk_t), 0)
         |           + coalesce(1000000000 // (60 + w.rk_v), 0) AS rrf
         |  FROM btop b FULL OUTER JOIN vtop w
         |    ON b.q_id = w.q_id AND b.doc_id = w.doc_id),
         |rr AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rank FROM fus)
         |SELECT q_id, doc_id, rrf::BIGINT AS rrf, rank::BIGINT AS rank FROM rr
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // q137's CTE chain with the selective-term gate applied on the tiny
    // (query term x df) frame before the postings join
    "q159_bm25_selective" ->
      s"""WITH t AS (SELECT doc_id, unnest($tokensLowerSql) AS term FROM documents),
         |c AS (SELECT doc_id, term FROM t WHERE doc_id % $Bm25QueryMod <> 0),
         |d AS (SELECT doc_id, count(*) AS dl FROM c GROUP BY doc_id),
         |st AS (SELECT count(*) AS n_docs, sum(dl)::BIGINT AS tot FROM d),
         |p AS (SELECT doc_id, term, count(*) AS tf FROM c GROUP BY doc_id, term),
         |f AS (SELECT term, count(*) AS df FROM p GROUP BY term),
         |q AS (SELECT DISTINCT doc_id AS q_id, term FROM t WHERE doc_id % $Bm25QueryMod = 0),
         |qk AS (SELECT term, q_id, df FROM (
         |         SELECT f.term, q.q_id, f.df, st.n_docs,
         |                row_number() OVER (PARTITION BY q_id ORDER BY df, term) AS rnk
         |         FROM f JOIN q USING (term) CROSS JOIN st)
         |       WHERE rnk <= $Bm25KeepRarest OR df * $Bm25DfStopMult < n_docs),
         |sc AS (SELECT q_id, p.doc_id,
         |         sum(($Bm25ContribSql)::BIGINT)::BIGINT AS score
         |       FROM p JOIN qk USING (term)
         |            JOIN d ON d.doc_id = p.doc_id CROSS JOIN st
         |       GROUP BY 1, 2),
         |r AS (SELECT q_id, doc_id, score,
         |        row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rk
         |      FROM sc)
         |SELECT q_id, doc_id, score, rk::BIGINT AS rk FROM r
         |WHERE rk <= $Bm25TopK ORDER BY q_id, rk""".stripMargin,

    // q152's posting CTEs; qualifying anchors via the same bounded
    // range self-join over per-(phrase, doc) occurrences
    "q160_proximity_search" -> {
      val vals = TrigramPatterns.map(p => s"('${p}')").mkString(", ")
      s"""WITH p AS (SELECT * FROM (VALUES $vals) v(phrase)),
         |pt AS (SELECT DISTINCT phrase,
         |         unnest(string_split_regex(trim(phrase), '\\s+')) AS term FROM p),
         |nt AS (SELECT phrase, count(DISTINCT term) AS nt FROM pt GROUP BY 1),
         |post AS (SELECT doc_id, unnest(tk) AS term, unnest(range(0, len(tk))) AS pos
         |         FROM (SELECT doc_id, $tokensLowerSql AS tk FROM documents)),
         |occ AS (SELECT pt.phrase, post.doc_id, post.pos, post.term
         |        FROM post JOIN pt USING (term)),
         |m AS (SELECT a.phrase, a.doc_id, a.pos AS anchor, b.term
         |      FROM occ a JOIN occ b ON a.phrase = b.phrase AND a.doc_id = b.doc_id
         |       AND b.pos >= a.pos AND b.pos < a.pos + $ProximityWindowK),
         |q AS (SELECT phrase, doc_id, anchor, count(DISTINCT term) AS nm
         |      FROM m GROUP BY 1, 2, 3)
         |SELECT q.phrase, q.doc_id, count(*)::BIGINT AS n_windows
         |FROM q JOIN nt USING (phrase) WHERE nm = nt
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    // same quantized component expression text (ChiSqSql) on exact counts
    "q144_source_drift" ->
      s"""WITH t AS (SELECT source, unnest($tokensLowerSql) AS term FROM documents),
         |o AS (SELECT source, term, count(*) AS obs FROM t GROUP BY 1, 2),
         |tc AS (SELECT term, count(*) AS tt FROM t GROUP BY 1),
         |sc AS (SELECT source, count(*) AS st FROM t GROUP BY 1),
         |n AS (SELECT count(*) AS tot FROM t),
         |z AS (SELECT o.source, ($ChiSqSql)::BIGINT AS contrib
         |      FROM o JOIN tc USING (term) JOIN sc USING (source) CROSS JOIN n)
         |SELECT source, count(*)::BIGINT AS n_terms, sum(contrib)::BIGINT AS drift_q
         |FROM z GROUP BY source ORDER BY source""".stripMargin,

    // lockstep unnest zips (token, 0-based position); anchors re-derived
    // with the same pos - off arithmetic
    "q152_phrase_search" -> {
      val vals = TrigramPatterns.map(p => s"('${p}')").mkString(", ")
      s"""WITH p AS (SELECT * FROM (VALUES $vals) v(phrase)),
         |pt AS (SELECT phrase, unnest(tk) AS term, unnest(range(0, len(tk))) AS "off"
         |       FROM (SELECT phrase, string_split_regex(trim(phrase), '\\s+') AS tk FROM p)),
         |nt AS (SELECT phrase,
         |         len(string_split_regex(trim(phrase), '\\s+'))::BIGINT AS nt FROM p),
         |post AS (SELECT doc_id, unnest(tk) AS term, unnest(range(0, len(tk))) AS pos
         |         FROM (SELECT doc_id, $tokensLowerSql AS tk FROM documents)),
         |hit AS (SELECT pt.phrase, post.doc_id, post.pos - pt."off" AS anchor,
         |          count(DISTINCT pt."off") AS nmatch
         |        FROM post JOIN pt USING (term) GROUP BY 1, 2, 3)
         |SELECT h.phrase, h.doc_id, count(*)::BIGINT AS n_occurrences
         |FROM hit h JOIN nt USING (phrase) WHERE h.nmatch = nt.nt
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    // the brute-force scan the trigram index avoids — exact by definition
    "q142_trigram_search" -> {
      val vals = TrigramPatterns.map(p => s"('${p}')").mkString(", ")
      s"""SELECT p.pattern, d.doc_id
         |FROM documents d CROSS JOIN (VALUES $vals) p(pattern)
         |WHERE contains(lower(d.text), p.pattern)
         |ORDER BY p.pattern, d.doc_id""".stripMargin
    },

    // lockstep unnest zips the two shifted slices into adjacent pairs;
    // same quantized-ratio expression text as the Spark side (PmiScoreSql)
    "q139_pmi_collocations" ->
      s"""WITH t AS (SELECT $tokensLowerSql AS tk FROM documents),
         |f AS (SELECT tk FROM t WHERE len(tk) >= 2),
         |bg AS (SELECT unnest(tk[1:len(tk)-1]) AS t1, unnest(tk[2:len(tk)]) AS t2 FROM f),
         |pr AS (SELECT t1, t2, count(*) AS c_xy FROM bg GROUP BY 1, 2
         |       HAVING count(*) >= $PmiMinCount),
         |u AS (SELECT unnest(tk) AS term FROM f),
         |uc AS (SELECT term, count(*) AS c FROM u GROUP BY term),
         |n AS (SELECT count(*) AS n_tok FROM u),
         |z AS (SELECT pr.t1, pr.t2, pr.c_xy, a.c AS cx, b.c AS cy, n.n_tok
         |      FROM pr JOIN uc a ON a.term = pr.t1 JOIN uc b ON b.term = pr.t2 CROSS JOIN n)
         |SELECT t1, t2, c_xy::BIGINT AS c_xy, ($PmiScoreSql)::BIGINT AS pmi_q
         |FROM z ORDER BY pmi_q DESC, t1, t2 LIMIT $PmiTopK""".stripMargin
  )
}
