package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Text-analysis operators for LLM training-data pipelines (north-star
  * extension, BASELINE.json): tokenization, quality scoring, language ID,
  * fingerprinting. Everything is built from codegen'd built-ins (split /
  * transform / aggregate / xxhash64) — no UDFs — so a 100 TB corpus pass is
  * one whole-stage-codegen'd scan per operator.
  */
object TextOps {

  /** Whitespace tokens of trimmed, lowercased text. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Token count (whitespace tokenizer). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Text canonicalization: strip C0/DEL control characters (keeping tab,
    * LF, CR — whitespace structure survives) then Unicode NFC — so
    * byte-level dedup, fingerprints, and tokenizer vocabularies see ONE
    * spelling of composed vs decomposed accents and no stray terminal
    * garbage. A single codegen'd projection (native NfcNormalize
    * expression; the already-NFC fast path — all of ASCII — allocates
    * nothing), legal mid-stream. */
  def normalizeText(text: Column): Column =
    graft.functions.NormalizeExpressions.nfc_normalize(
      regexp_replace(text, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""))

  /** BPE-ish subword proxy: word-chunks + digits + punctuation as separate
    * tokens (a deterministic regex stand-in for a real BPE vocab). */
  def bpeishCount(text: Column): Column =
    size(filter(split(text, "(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
      t => length(trim(t)) > 0))

  /** Word n-gram (shingle) array with a join character. */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** Quality-score features: doc length, punctuation ratio, stopword ratio,
    * mean word length — the standard cheap quality heuristics. */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "this", "that")

  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?'\"()-]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  def stopwordRatio(toks: Column): Column = {
    val sw = array(stopwords.map(lit): _*)
    size(filter(toks, t => array_contains(sw, t))).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  def meanWordLen(toks: Column): Column =
    aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast("double") /
      greatest(size(toks), lit(1)).cast("double")

  /** Composite quality score in [0,1]: long-enough, low punctuation, sane
    * stopword density, plausible word length.
    *
    * Rounding is `floor(q·10⁶ + 0.5)/10⁶` — NOT `round(q, 6)`: Spark
    * rounds through an exact BigDecimal while DuckDB rounds doubles as
    * floor(x·10⁶ + 0.5) in floating point, and values one ulp below a
    * .5·10⁻⁶ boundary round differently (hit at sf0.1, doc 1432). The
    * explicit floor formula is the same IEEE op sequence in both engines,
    * so the oracle matches at every SF. */
  def qualityScore(text: Column): Column =
    graft.query.Functions.stableRound(
      graft.functions.TextHashExpressions.quality_raw(text, stopwords), 6)

  /** The original Column spelling of the 4-term mean — kept as the
    * REFERENCE IMPLEMENTATION the native [[graft.functions.QualityRaw]]
    * expression is pinned bit-identical against (TextOpsSpec). The HOF
    * chain re-splits the text once per feature and runs interpreted
    * (lambdas break whole-stage codegen) — measured 10× slower on the
    * quality-percentile path at sf1 — so production goes native. */
  private[graft] def qualityScoreColumnar(text: Column): Column = {
    val toks = tokens(text)
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val swr = stopwordRatio(toks)
    val swScore = lit(1.0) - least(abs(swr - 0.4) * 2.0, lit(1.0))
    val mwl = meanWordLen(toks)
    val wlScore = lit(1.0) - least(abs(mwl - 5.0) / 5.0, lit(1.0))
    graft.query.Functions.stableRound(
      (lenScore + punctScore + swScore + wlScore) / 4.0, 6)
  }

  /** Language ID via stopword-hit heuristic over small per-language stopword
    * lists (n-gram/dictionary heuristic; deterministic, no model). */
  val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del", "las", "por"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "une", "du"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "den", "mit", "ist", "des"),
    "zh" -> Seq("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"))

  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scored = langStopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val sw = array(words.map(lit): _*)
      struct(size(filter(toks, t => array_contains(sw, t))).as("hits"),
             lit(lang).as("lang"))
    }
    // max by (hits, lang) — deterministic tie-break on lang name
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** 60-bit content fingerprint (md5 prefix of normalized text, as an
    * integer) and a win(k)-style robust fingerprint: min md5-prefix hash
    * over word shingles — stable under small edits at the shingle
    * granularity. The md5 spelling — not xxhash64 — is exact arithmetic a
    * DuckDB oracle computes verbatim (('0x'||substring(md5(s),1,15))::
    * BIGINT), which is what lets `text_analysis` hash-match instead of
    * falling back to a rows-only check. Both are codegen'd builtins. */
  def fingerprint(text: Column): Column =
    conv(substring(md5(trim(lower(text))), 1, 15), 16, 10).cast("long")

  def robustFingerprint(text: Column, shingleN: Int = 3): Column =
    array_min(transform(
      graft.functions.TextHashExpressions.word_shingles(tokens(text), shingleN),
      s => conv(substring(md5(s), 1, 15), 16, 10).cast("long")))

  /** Gopher-style repetition signals per document — the standard cheap
    * filters for machine-generated/boilerplate text (Rae et al. 2021,
    * "Scaling Language Models", table A1): low distinct-token ratio, one
    * dominant bigram, or a large duplicated-trigram mass all flag a doc
    * whose content loops.
    *
    * Output per doc: `n_tokens`, `distinct_token_ratio` (|vocab|/|tokens|),
    * `top_bigram_frac` (occurrences of the most frequent bigram / all
    * bigram occurrences), `dup_trigram_frac` (occurrences of trigrams seen
    * ≥2× / all trigram occurrences). Fractions are null when the doc is too
    * short to have such n-grams.
    *
    * Scale shape: the signals are per-document, so they are computed
    * per-document — one native expression
    * ([[graft.functions.RepetitionStats]]) holds the n-gram count maps in
    * a single pass per row, and the corpus-level plan is a pure scan:
    * NO explode, NO shuffle, nothing leaves the executor but four numbers
    * per doc. (A relational explode-grams spelling shuffles every n-gram
    * occurrence, and any lambda spelling re-evaluates the tokenizer per
    * element — the nested-HOF trap: 30× slower at sf0.1.) */
  def repetitionSignals(docs: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        graft.functions.TextHashExpressions
          .repetition_stats(tokens(col(textCol))).as("__s"))
      .select(col("doc_id"), col("__s.n_tokens").as("n_tokens"),
        col("__s.distinct_token_ratio").as("distinct_token_ratio"),
        col("__s.top_bigram_frac").as("top_bigram_frac"),
        col("__s.dup_trigram_frac").as("dup_trigram_frac"))

  // ------------------------------------------------------- SparkEntry queries

  /** token counts per document (oracle: regexp split in DuckDB). */
  def tokenCountQuery(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))

  /** BPE-ish subword counts, DuckDB-oracled: the lookaround split counts
    * (alnum runs) + (non-alnum non-space chars), which RE2 — no
    * lookarounds — replays as two regexp_extract_all counts. */
  def tokenCountBpeQuery(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), bpeishCount(col("text")).as("n_bpeish"))

  /** Normalization gate (oracled): the fixture text is ASCII, so the gate
    * PLANTS the interesting cases on every row — a decomposed "e" +
    * COMBINING ACUTE (composes to é under NFC, −1 codepoint) and a BEL
    * control char (stripped, −1) — and reports codepoint lengths before
    * and after; DuckDB replants the identical codepoints and replays with
    * its native nfc_normalize. */
  def normalizeQuery(s: SparkSession, d: String): DataFrame = {
    val planted = concat(col("text"), lit(" cafe\u0301\u0007"))
    Tables.documents(s, d).select(col("doc_id"),
      length(planted).as("n_raw"),
      length(normalizeText(planted)).as("n_norm"))
  }

  /** per-language corpus stats. */
  def textStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  /** quality + language-ID panel, DuckDB-oracled: every heuristic
    * (length/punct/stopword/word-length scores, stopword-hit langID with
    * the (hits, lang) tie-break) is deterministic relational algebra, so
    * the oracle replays it exactly — unlike the xxhash fingerprint, which
    * stays in the rows-only `text_analysis` panel. */
  def textQualityQuery(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        qualityScore(col("text")).as("quality"),
        langId(col("text")).as("lang_pred"))

  /** Top distinguishing terms per document: highest term frequency,
    * rarest-first (document frequency ascending) then term name as exact
    * tie-breaks — a TF-IDF-shaped ranking on INTEGER keys only, so the
    * result is engine-exact (a float idf would rank differently whenever
    * ln() differs by an ulp between engines). Stopwords are excluded (the
    * shared [[stopwords]] list) or every doc's top term would be "the".
    *
    * Scale shape: explode → (doc, term) tf aggregate once (cached — it
    * feeds both df and the rank), term-keyed df aggregate whose result is
    * VOCABULARY-sized (sublinear in the corpus, Heaps' law) — then a
    * per-doc window rank partitioned by doc_id, never a global sort.
    *
    * The df side is broadcast ONLY while the corpus is small enough that
    * the vocabulary is safely executor-resident (Catalyst's input-size
    * estimate vs `maxBroadcastCorpusBytes`): Heaps' law is sublinear, not
    * bounded — a 100 TB web corpus runs to 1e8–1e9 unique tokens (URLs,
    * hashes, typos), where an unconditional broadcast hint is a
    * driver/executor OOM. Above the threshold the join falls back to the
    * term-keyed shuffle, whose cost scales with the data instead of
    * betting the driver on it (ADVICE r8). */
  def topTerms(docs: DataFrame, textCol: String = "text",
               idCol: String = "doc_id", k: Int = 3,
               maxBroadcastCorpusBytes: Long = 4L << 30): DataFrame = {
    val sw = array(stopwords.map(lit): _*)
    // explode-width law at ADAPTIVE width (r16): tokenize+explode is the
    // heavy per-doc work and fed the tf aggregate's map side at
    // SCAN-SPLIT width (sf10 solo probe: 37.9 s wall / cpu/wall 2.5 on 32
    // threads — split-bound). The byte-capped spread widens real corpora
    // (sf10 solo 37.9 → 20.0 s at flat cpu) while a fixture-sized input
    // spreads to a few fat tasks (sf0.1 slightly BETTER; the FIXED-width
    // spelling of this same spread measured cpu 4.6 → 23.4 s at sf0.1
    // and was rejected — the adaptive width is what makes it a win).
    val terms = Strata.spreadById(docs.select(col(idCol).as("doc_id"),
        col(textCol)), "doc_id")
      .select(col("doc_id"), explode(tokens(col(textCol))).as("term"))
      .filter(!array_contains(sw, col("term")))
    val tf = graft.core.CacheRegistry.persisted(
      terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val corpusBytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val dfSide =
      if (corpusBytes <= maxBroadcastCorpusBytes) broadcast(dfreq) else dfreq
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfSide, "term")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "term", "tf", "df", "rank")
  }

  /** repetition-signal panel, DuckDB-oracled (pure counting — exact). */
  def textRepetitionQuery(s: SparkSession, d: String): DataFrame =
    repetitionSignals(Tables.documents(s, d))

  /** top-3 distinguishing terms per doc, DuckDB-oracled (integer ranks). */
  def textTopTermsQuery(s: SparkSession, d: String): DataFrame =
    topTerms(Tables.documents(s, d))

  /** quality + language-ID + fingerprint panel (rows-only check: the exact
    * heuristics are engine-specific; ScalaTest pins their behavior). */
  /** PII patterns shared by the scrubber and its oracle: (name, regex,
    * replacement). Deliberately restricted to the Java-regex ∩ RE2 dialect
    * (no alternation, no backreferences, no lookaround) so the SAME
    * pattern string runs identically under Spark's codegen'd
    * `regexp_replace` and DuckDB — leftmost-greedy matches agree when the
    * pattern has a single deterministic shape. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip",    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\b\\d{3}[- ]\\d{3}[- ]\\d{4}\\b",                "<PHONE>"))

  /** PII scrubbing — the redaction pass every public-web training corpus
    * runs (emails, IPs, phone-shaped digit runs → typed placeholder
    * tokens). Adds `n_<class>` match counts (on the ORIGINAL text, per
    * pattern) and `text_clean` (patterns replaced in [[piiPatterns]]
    * order: emails first so an address whose domain is dotted-decimal is
    * redacted as an email, not an IP).
    *
    * Scale shape: stateless per-row regex projection — shuffle-free,
    * whole-stage codegen'd, and legal unchanged mid-stream (a topology
    * map stage), unlike anything aggregating. */
  def scrubPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val counted = piiPatterns.foldLeft(docs) { case (df, (name, pat, _)) =>
      df.withColumn(s"n_${name}s",
        size(regexp_extract_all(col(textCol), lit(pat), lit(0))).cast("long"))
    }
    counted.withColumn("text_clean",
      piiPatterns.foldLeft(col(textCol)) { case (c, (_, pat, repl)) =>
        regexp_replace(c, pat, repl)
      })
  }

  /** SparkEntry query (oracled): fixture text carries no PII, so the gate
    * PLANTS deterministic addresses/hosts/numbers on a doc_id grid before
    * scrubbing — every pattern class is exercised, and DuckDB replants and
    * rescrubs identically (shared dialect-safe patterns). */
  def scrubPiiQuery(s: SparkSession, d: String): DataFrame = {
    val planted = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" from host 192.168.1.77")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" call 555-867-5309 now")).otherwise(lit("")))
        .as("text"))
    scrubPii(planted).select("doc_id", "n_emails", "n_ips", "n_phones", "text_clean")
  }

  def textAnalysisQuery(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        qualityScore(col("text")).as("quality"),
        langId(col("text")).as("lang_pred"),
        fingerprint(col("text")).as("fp"))

  /** SparkEntry query (oracled): both fingerprints side by side — the
    * exact content hash (flips on any edit) and the robust min-shingle
    * hash (stable until an edit touches the minimizing shingle); docs
    * sharing `fp_robust` but not `fp` are near-dup candidates, the
    * winnowing-style cheap pre-filter. */
  def fingerprintQuery(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        fingerprint(col("text")).as("fp"),
        robustFingerprint(col("text")).as("fp_robust"))

  /** Boilerplate-line removal (the CCNet/RefinedWeb recipe): drop every
    * line that appears verbatim in ≥ `minDf` distinct documents — cookie
    * banners, newsletter footers, copyright lines — and reassemble each
    * document from its surviving lines in original order. A document whose
    * EVERY line is boilerplate disappears from the output (nothing left to
    * train on), which is the intended pipeline semantics.
    *
    * Scale shape: line df is a two-phase aggregate (map-side partials, so
    * a million-doc footer costs one partial row per task, not a reducer
    * pile-up); the hot-line set is boilerplate-vocabulary-sized, so the
    * anti-join broadcasts under AQE when it is actually small; reassembly
    * is ONE shuffle on doc_id with an order-stable array_sort on the
    * collected (pos, line) structs — collect_list alone is
    * partition-order-dependent and would be nondeterministic. */
  def removeBoilerplate(docs: DataFrame, minDf: Long = 10,
                        textCol: String = "text"): DataFrame = {
    val lines = docs.select(col("doc_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    // whitespace-only lines are never "boilerplate" (they carry no content
    // to over-represent) — and dropping them would reflow real paragraphs
    val hot = lines.filter(trim(col("line")) =!= "")
      .groupBy("line").agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf).select("line")
    lines.join(hot, Seq("line"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), "\n").as("text_clean"))
  }

  /** Count-min-sketch frequency probe over the token stream: build ONE
    * fixed-size depth×width sketch of every token occurrence
    * ([[graft.functions.CmsSketch]] — partial-aggregating, so each map task
    * ships a 16 KB matrix instead of its token counts), then estimate the
    * frequency of each candidate term with codegen'd `element_at` lookups
    * against the broadcast sketch. The 100 TB hot-term shape: an exact
    * vocabulary count shuffles |vocab| rows per map task; the sketch crosses
    * the shuffle at a constant size no matter how large the corpus, and the
    * probe side is a shuffle-free map over arbitrarily many candidates.
    * Estimates are one-sided (≥ true count, collision inflation bounded by
    * the width) — SketchSpec pins both bounds; the whole thing replays
    * cell-for-cell in DuckDB. */
  def cmsTermFrequencies(docs: DataFrame, probeTerms: Seq[String],
                         depth: Int = 4, width: Int = 512,
                         textCol: String = "text"): DataFrame = {
    import graft.functions.SketchExpressions.{cms_sketch, cmsEstimate}
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs
      .select(explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val sketch = toks.agg(cms_sketch(col("token"), depth, width).as("sk"))
    probeTerms.toDF("term")
      .crossJoin(broadcast(sketch)) // one 16 KB row → map-side probe
      .select(col("term"), cmsEstimate(col("sk"), col("term"), depth, width).as("est_tf"))
  }

  /** SparkEntry query (oracled): CMS estimates for a probe panel spanning
    * hot fixture terms, a mid-frequency one, and two absent ones (absent
    * terms read pure collision mass — deterministic, so oracled too). */
  def heavyHittersQuery(s: SparkSession, d: String): DataFrame =
    cmsTermFrequencies(Tables.documents(s, d),
      Seq("join", "hash", "row", "customer", "vector", "zzznope", "qux"))

  /** BM25 ranked retrieval (Robertson & Spärck Jones; the Okapi BM25
    * formula): score every document against a bag-of-terms query and return
    * the top k. The retrieval workhorse of a training-data pipeline —
    * contamination search ("which crawl docs score high against this eval
    * question"), targeted corpus probes, quality-slice pulls.
    *
    * Scale shape — NO corpus-sized shuffle: per-doc length and per-term
    * term frequencies are map-side array ops over ONE tokenization (the
    * query terms ride along as an exploded literal array, so tf is
    * `size(filter(toks, = term))` — no token explosion, no (doc, token)
    * shuffle). The only shuffles are model-sized: the per-term df aggregate
    * (|terms| rows), the per-doc score sum (thin (doc_id, long) rows), and
    * a TakeOrdered top-k — never a global sort.
    *
    * Determinism/oracle: k1=1.5, b=0.75 keep every constant exactly
    * representable (k1+1=2.5, 1−b=0.25); the per-(doc,term) score is
    * q6-rounded (`floor(x·10⁶+0.5)`) so doc totals are exact-integer sums,
    * order-free, and the final (score DESC, doc_id) order is total — the
    * whole ranking replays in DuckDB. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int = 50,
               textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: query terms must be non-empty")
    // a query is a set of terms: a repeated term scores once, not once per slot
    val terms = queryTerms.distinct
    val toksArr = filter(tokens(col(textCol)), t => length(t) > 0)
    // one tokenization serves dl AND every per-term tf — all map-side, and
    // the per-term tfs land in ONE fixed-width long array per doc (r17):
    // the persisted base then carries (doc_id, dl, tfs[|terms|]) — a few
    // longs per row — instead of the full token arrays (the r16 cache
    // stored the tokenized text twice over and re-scanned it per term).
    // Spread first (explode-width law: the tokenize + per-term scans
    // otherwise run at scan-split parallelism) and PERSIST: the thin base
    // feeds the stats aggregate and the scoring pass. The two projections
    // stay separate so CollapseProject cannot duplicate the tokenize into
    // each consumer (`toks` is referenced 1+|terms| times).
    val thin = graft.core.CacheRegistry.persisted(
      Strata.spreadById(docs, "doc_id")
        .select(col("doc_id"), toksArr.as("toks"))
        .select(col("doc_id"), size(col("toks")).as("dl"),
          array(terms.map(t =>
            size(filter(col("toks"), x => x === lit(t))).cast("long")): _*)
            .as("tfs")))
    // corpus stats AND per-term document frequencies in ONE single-row
    // aggregate over the thin base — the old per-term df shuffle
    // (groupBy("term")) and its join disappear; every df is a column of
    // this broadcast row. Same integers: df_i counts docs with tf_i>0,
    // n/t count/sum dl over dl>0 docs (a dl=0 doc has every tf=0).
    val aggCols =
      count(when(col("dl") > 0, lit(1))).as("n") +:
        sum(when(col("dl") > 0, col("dl"))).as("t") +:
        terms.indices.map(i =>
          sum(when(col("tfs")(i) > 0, lit(1L)).otherwise(lit(0L))).as(s"df_$i"))
    val stats = thin.agg(aggCols.head, aggCols.tail: _*)
    val avgdl = col("t").cast("double") / col("n").cast("double")
    // per-doc score is now MAP-SIDE (each doc is one row carrying all its
    // tfs — no (doc,term) rows, no groupBy(doc_id) exchange): the q6
    // contributions sum left-to-right in term order; integer addition is
    // order-free, so totals equal the old sum-over-shuffled-rows exactly.
    val scoreCols = terms.indices.map { i =>
      val tfL = col("tfs")(i)
      val tfD = tfL.cast("double")
      val dfI = col(s"df_$i")
      val idfI = log((col("n") - dfI + lit(0.5)) / (dfI + lit(0.5)) + lit(1.0))
      val tfPartI = (tfD * lit(2.5)) /
        (tfD + lit(1.5) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / avgdl))
      when(tfL > 0, floor(idfI * tfPartI * lit(1e6) + lit(0.5)).cast("long"))
        .otherwise(lit(0L))
    }
    // only docs matching ≥1 term score (the old tf>0 filter dropped
    // no-match docs before the groupBy — they must not appear in the
    // top-k as zero-score rows)
    thin.filter(exists(col("tfs"), t => t > 0))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), scoreCols.reduce(_ + _).as("bm25_q6"))
      .orderBy(col("bm25_q6").desc, col("doc_id"))
      .limit(k)
  }

  /** SparkEntry query (oracled): top-50 docs for a five-term query over
    * the fixture vocabulary. */
  def bm25Query(s: SparkSession, d: String): DataFrame =
    bm25TopK(Tables.documents(s, d),
      Seq("join", "vector", "merge", "filter", "line"), k = 50)

  /** SparkEntry query (oracled): the fixture docs are single-line, so the
    * gate PLANTS boilerplate on deterministic doc_id grids (the
    * text_scrub_pii pattern): two high-df footers and a cookie header that
    * must be stripped, plus a df≈2 rare footer that must survive minDf. */
  def boilerplateQuery(s: SparkSession, d: String): DataFrame = {
    val planted = Tables.documents(s, d).select(col("doc_id"),
      concat(
        when(col("doc_id") % 7 === 0,
          lit("Cookie notice: we use cookies\n")).otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 3 === 0,
          lit("\nSubscribe to our newsletter!")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit("\nCopyright 2026 Example Corp")).otherwise(lit("")),
        when(col("doc_id") % 251 === 0,
          lit("\nRare footer line")).otherwise(lit("")))
        .as("text"))
    removeBoilerplate(planted, minDf = 10)
  }

  /** WITHIN-document line dedup (the C4/RefinedWeb step that
    * [[removeBoilerplate]]'s cross-document df filter does not cover):
    * every repeated non-blank line keeps its FIRST occurrence only —
    * navigation junk pasted thrice into one page collapses to once —
    * while blank lines pass through untouched (they are layout, not
    * over-represented content, and collapsing them would reflow real
    * paragraphs). One partial-aggregable (doc, line) min-pos aggregate +
    * the shared order-stable reassembly; state is line-count-proportional
    * per document, never corpus-wide. */
  def dedupLinesWithin(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val lines = docs.select(col("doc_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val blank = trim(col("line")) === ""
    val kept = lines.filter(blank)
      .unionByName(lines.filter(!blank)
        .groupBy(col("doc_id"), col("line"))
        .agg(min(col("pos")).as("pos")))
    kept.groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line")), "\n").as("text_clean"))
  }

  /** SparkEntry query (oracled): fixture docs are single-line, so the gate
    * plants within-doc duplication on deterministic doc_id grids — a junk
    * line repeated on even ids, the doc's own text pasted again on
    * multiples of 3, and a unique marker on multiples of 5 that must
    * survive. */
  def dedupLinesQuery(s: SparkSession, d: String): DataFrame = {
    val planted = Tables.documents(s, d).select(col("doc_id"),
      concat(
        col("text"), lit("\nrepeat me"),
        when(col("doc_id") % 2 === 0, lit("\nrepeat me")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0, concat(lit("\n"), col("text"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit("\nunique "), col("doc_id").cast("string"))).otherwise(lit("")))
        .as("text"))
    dedupLinesWithin(planted)
  }

  /** Substring-granularity duplication signal (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): hash every `windowN`-token window, call a window
    * DUPLICATED when its hash occurs in ≥ `minDocs` distinct documents,
    * and report each document's duplicated-window count — the standard
    * ExactSubstr-style filter signal (a doc-level near-dup pass misses a
    * verbatim paragraph pasted into otherwise-distinct pages; this
    * catches exactly that). Documents shorter than `windowN` tokens have
    * zero windows — no span long enough to count.
    *
    * Scale shape: the explode carries (doc_id, 8-byte hash); cross-doc df
    * is a two-phase (hash, doc_id)-dedup aggregate (hot boilerplate
    * windows never pile one reducer — corpus_vocab's skew posture); the
    * hot-set join back is hash-keyed; one final doc_id aggregate. Linear
    * end to end, no caps needed (joining a hot hash back to its own
    * occurrences is occurrence-proportional). */
  def duplicatedSpans(docs: DataFrame, windowN: Int = 50, minDocs: Int = 2,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val wh = graft.core.CacheRegistry.persisted(
      Strata.spreadById(docs, idCol) // explode-width law
        .select(col(idCol).as("doc_id"),
          explode(graft.functions.TextHashExpressions.word_window_hashes(
            tokens(col(textCol)), windowN)).as("wh")))
    val hot = wh.select("wh", "doc_id").distinct()
      .groupBy("wh").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select("wh")
    wh.join(hot, Seq("wh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_windows"))
      .join(wh.groupBy("doc_id").agg(count(lit(1)).as("n_windows")), Seq("doc_id"), "right")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
  }

  /** SparkEntry query (oracled): 20-token duplicated-span counts — the
    * fixture's planted near-dups share long verbatim runs, so the signal
    * is non-trivially exercised at every SF. */
  def duplicatedSpansQuery(s: SparkSession, d: String): DataFrame =
    duplicatedSpans(Tables.documents(s, d), windowN = 20)

  /** The REMOVAL half of the ExactSubstr recipe (Lee et al. 2021): drop
    * every token covered by a duplicated window — EXCEPT in the span's
    * canonical owner (lowest doc_id sharing the hash), which keeps its
    * copy — and reassemble each document from its surviving tokens in
    * order. One copy of every long verbatim span survives corpus-wide;
    * the training set keeps the content but not the duplication.
    *
    * Scale shape: ownership is the same two-phase (hash, doc)-dedup
    * aggregate as [[duplicatedSpans]]; coverage explodes each REMOVED
    * window into its `windowN` positions (bounded by windowN · removed
    * windows — duplication-proportional, not corpus-proportional);
    * reassembly is the boilerplate-removal pattern (order-stable
    * array_sort(collect_list(struct(pos, token))) in ONE doc_id shuffle).
    * Short docs pass through untouched; a fully-covered document comes
    * back as an empty string (its content lives in the canonical owner).
    * Reassembled text is whitespace-normalized lowercase (the shared
    * tokenization) — the standard post-dedup canonical form. */
  def removeDuplicatedSpans(docs: DataFrame, windowN: Int = 50, minDocs: Int = 2,
                            textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tok = graft.core.CacheRegistry.persisted(
      Strata.spreadById(docs, idCol) // explode-width law
        .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t")))
    val wh = graft.core.CacheRegistry.persisted(
      tok.select(col("doc_id"), posexplode(
        graft.functions.TextHashExpressions.word_window_hashes(col("t"), windowN))
        .as(Seq("pos", "wh"))))
    val owned = wh.select("wh", "doc_id").distinct()
      .groupBy("wh").agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
      .filter(col("df") >= minDocs)
      .select("wh", "owner")
    val hits = wh.join(owned, Seq("wh"))
    def positions(df: DataFrame): DataFrame = df
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + (windowN - 1))).as("j"))
      .distinct()
    // positions covered by a window this doc OWNS are PROTECTED from
    // removal: without this, two overlapping duplicated spans with
    // different owners can destroy each other's only surviving copy (a
    // non-owned span's removal reaching into an owned one) — the
    // owner-keeps invariant must win over overlap
    val covered = positions(hits.filter(col("doc_id") =!= col("owner")))
      .join(positions(hits.filter(col("doc_id") === col("owner"))),
        Seq("doc_id", "j"), "left_anti")
    tok.select(col("doc_id"), posexplode(col("t")).as(Seq("j", "w")))
      .join(covered, Seq("doc_id", "j"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("j"), col("w")))),
        s => s.getField("w")), " ").as("text_clean"))
      .join(tok.select("doc_id"), Seq("doc_id"), "right")
      .select(col("doc_id"), coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** SparkEntry query (oracled): 20-token span removal over the corpus —
    * near-dup docs lose their shared runs everywhere but the lowest-id
    * owner. */
  def removeDuplicatedSpansQuery(s: SparkSession, d: String): DataFrame =
    removeDuplicatedSpans(Tables.documents(s, d), windowN = 20)

  /** SPAN-level decontamination against a reference/benchmark set:
    * remove every token of a training document covered by a `windowN`-token
    * window whose hash occurs ANYWHERE in the reference — the surgical
    * alternative to [[graft.ext.Corpus.decontaminate]]'s whole-document
    * drop ("the page quotes one eval question; keep the page, cut the
    * quote"). No ownership exception here, unlike
    * [[removeDuplicatedSpans]] — reference content must not survive in
    * the training set at all.
    *
    * Scale shape: the reference collapses to its distinct window-hash
    * universe (benchmark-sized) and broadcasts; the train side pays one
    * window explode carrying (doc_id, pos, 8-byte hash); coverage is
    * duplication-proportional (windowN · matched windows); reassembly is
    * the one-doc_id-shuffle order-stable pattern shared with
    * [[removeDuplicatedSpans]]. Output is whitespace-normalized
    * lowercase (the shared tokenization). */
  def removeReferenceSpans(train: DataFrame, ref: DataFrame, windowN: Int = 50,
                           textCol: String = "text", idCol: String = "doc_id",
                           broadcastRef: Boolean = true): DataFrame = {
    val tok = graft.core.CacheRegistry.persisted(
      Strata.spreadById(train, idCol) // explode-width law (train side;
        // the ref side is benchmark-sized and collapses to its hash set)
        .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("t")))
    val wh = tok.select(col("doc_id"), posexplode(
      graft.functions.TextHashExpressions.word_window_hashes(col("t"), windowN))
      .as(Seq("pos", "wh")))
    val refW = ref.select(explode(
        graft.functions.TextHashExpressions.word_window_hashes(
          tokens(col(textCol)), windowN)).as("wh"))
      .distinct()
    val covered = wh
      .join(if (broadcastRef) broadcast(refW) else refW, Seq("wh"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (windowN - 1))).as("j"))
      .distinct()
    tok.select(col("doc_id"), posexplode(col("t")).as(Seq("j", "w")))
      .join(covered, Seq("doc_id", "j"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(transform(array_sort(collect_list(struct(col("j"), col("w")))),
        s => s.getField("w")), " ").as("text_clean"))
      .join(tok.select("doc_id"), Seq("doc_id"), "right")
      .select(col("doc_id"), coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** SparkEntry query (oracled): surgical 20-token decontamination of the
    * 9-in-10 training split against the 1-in-10 benchmark split. */
  def despanReferenceQuery(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    removeReferenceSpans(docs.filter(col("doc_id") % 10 =!= 0),
                         docs.filter(col("doc_id") % 10 === 0), windowN = 20)
  }
}
