package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the documents table (SURVEY.md §2.11
  * O-61; driver north-star: language-ID, quality scoring, token counting,
  * fingerprinting). All row-level work is higher-order array functions —
  * no explode/shuffle except where a join is semantically required, so
  * each query is a single parallel scan at any corpus size.
  */
object TextAnalysis {
  import Tables._

  /** Non-empty whitespace tokens (empty text -> empty array). */
  private def toks: Column =
    filter(split(trim(col("text")), "\\s+"), t => t =!= "")

  /** documents scan rebalanced to all cores: the fixture is a
    * single-row-group parquet (one scan task), and every query here does
    * heavy per-doc compute (regexes, digests, interpreted array lambdas)
    * that Catalyst fuses into the scan stage — without this it all runs
    * serially (Dedup.docTokens has the full argument). On a well-written
    * many-file table the scan is already parallel and this exchange is
    * noise next to the per-doc work it balances. */
  private def docsParallel(docs: DataFrame): DataFrame =
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)

  private val toksSql =
    """list_filter(string_split_regex(trim(text), '\s+'), t -> t != '')"""

  // O-61: tokenize + length/diversity/stopword statistics (the engine's
  // text-quality primitives; ref O-40 text handling rg.py:364-366).
  def textStats(docs: DataFrame): DataFrame =
    docsParallel(docs)
      .withColumn("toks", toks)
      .select(col("doc_id"), col("lang"),
        length(col("text")).as("n_chars_m"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        size(filter(col("toks"), t => t === "the" || t === "a"))
          .as("n_stop"),
        aggregate(col("toks"), lit(0), (acc, t) => acc + length(t))
          .as("sum_token_len"))
      .withColumn("avg_token_len",
        when(col("n_tokens") > 0,
          round(col("sum_token_len").cast("double") / col("n_tokens"), 4)))
      .withColumn("stop_ratio",
        when(col("n_tokens") > 0,
          round(col("n_stop").cast("double") / col("n_tokens"), 4)))
      .orderBy(col("doc_id"))

  def q38TextAnalysis(s: SparkSession, d: String): DataFrame =
    textStats(documents(s, d))

  // O-61 language-ID: marker-word argmax against a broadcast dim (the
  // 1-gram special case of the n-gram heuristic). Deterministic
  // tie-break: (score DESC, candidate ASC); docs with no marker -> 'und'.
  def langId(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val markers = Seq(
      ("en", "the"), ("en", "a"), ("es", "el"), ("es", "la"),
      ("fr", "le"), ("fr", "et"), ("de", "der"), ("de", "und"),
      ("zh", "ma")).toDF("cand_lang", "word")
    // repartition: the fixture is a single-row-group parquet, so the
    // token explode + probe would otherwise run on the lone scan task
    // (same trap as Dedup.docTokens)
    val tokRows = docsParallel(docs)
      .select(col("doc_id"), explode(toks).as("tok"))
    val scored = tokRows
      .join(broadcast(markers), col("tok") === col("word"))
      .groupBy(col("doc_id"), col("cand_lang"))
      .agg(count(lit(1)).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cand_lang"))
    val best = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cand_lang"), col("score"))
    docs
      .join(best, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"),
        coalesce(col("cand_lang"), lit("und")).as("predicted_lang"),
        coalesce(col("score"), lit(0L)).as("score"))
      .orderBy(col("doc_id"))
  }

  def q41LangId(s: SparkSession, d: String): DataFrame =
    langId(documents(s, d))

  // O-61 quality scoring: integer-only rubric (length band, diversity,
  // stopword ratio via cross-multiplication, mean token length band) —
  // zero float ops, so the score is engine- and order-exact.
  def qualityScore(docs: DataFrame): DataFrame =
    scoredRows(docs).orderBy(col("doc_id"))

  /** The q42 rubric pass with optional pass-through columns — shared
    * by the per-doc readout (q42) and the per-source calibration
    * (q93, which needs `source` carried through the same scan). */
  private def scoredRows(docs: DataFrame, extra: Column*): DataFrame =
    docsParallel(docs)
      .withColumn("toks", toks)
      .select((Seq(col("doc_id")) ++ extra ++ Seq(
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        size(filter(col("toks"), t => t === "the" || t === "a"))
          .as("n_stop"),
        aggregate(col("toks"), lit(0), (acc, t) => acc + length(t))
          .as("sum_token_len"))): _*)
      .withColumn("quality_score",
        when(col("n_tokens").between(10, 1000), 40).otherwise(0) +
          when(col("n_distinct") * 2 >= col("n_tokens"), 30).otherwise(0) +
          when(col("n_stop") * 10 <= col("n_tokens") * 3, 20).otherwise(0) +
          when(col("sum_token_len").between(col("n_tokens") * 3,
            col("n_tokens") * 8), 10).otherwise(0))

  def q42QualityScore(s: SparkSession, d: String): DataFrame =
    qualityScore(documents(s, d))

  // O-106: quality-threshold calibration — the governance readout that
  // turns q42's absolute rubric into a per-source DECISION table: what
  // score distribution does each source actually have, and what
  // fraction survives a proposed keep threshold? The score domain is
  // bounded (integer multiples of 10 in [0, 100]), so the quantiles
  // are EXACT by counting, never an approximate or interpolating
  // sketch: per source, p_q is the lowest score whose cumulative count
  // reaches ceil(q*n/100) (type-1 lower quantile, cross-multiplied —
  // cum*100 >= n*q — so the whole table is integer arithmetic until
  // the one rounded keep_frac division, the q42/q72 convention).
  //
  // Scale shape: the corpus pays its one rubric scan, partial-agg'd
  // into groupBy(source, score) — at most |sources| x 11 rows cross
  // the exchange; the window + final aggregate run over that tiny
  // table. The decision this table feeds (drop a source, move its
  // threshold) is exactly the mixture-step input q66/q66b consume.
  /** Per-source exact score quantiles + keep rate at `keepAt` over any
    * (doc_id, source, text) table. */
  def qualityCalibration(docs: DataFrame, keepAt: Int = 50): DataFrame = {
    val byScore = scoredRows(docs, col("source"))
      .groupBy(col("source"), col("quality_score"))
      .agg(count(lit(1)).as("cnt"))
    val cumW = Window.partitionBy(col("source"))
      .orderBy(col("quality_score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.partitionBy(col("source"))
    def pq(q: Int): Column =
      min(when(col("cum") * 100 >= col("n_docs") * q,
        col("quality_score"))).as(s"p$q")
    byScore
      .withColumn("cum", sum(col("cnt")).over(cumW))
      .withColumn("n_docs", sum(col("cnt")).over(allW))
      .withColumn("n_keep",
        sum(when(col("quality_score") >= keepAt, col("cnt"))
          .otherwise(lit(0L))).over(allW))
      .groupBy(col("source"))
      .agg(min(col("n_docs")).as("n_docs"), // constant per group
        pq(10), pq(50), pq(90),
        min(col("n_keep")).as("n_keep"))
      .withColumn("keep_frac",
        round(col("n_keep").cast("double") / col("n_docs"), 4))
      .orderBy(col("source"))
  }

  def q93QualityCalibration(s: SparkSession, d: String): DataFrame =
    qualityCalibration(documents(s, d))

  // O-61 token counting: whitespace tokens + a BPE-ish regex pass
  // (word-runs and single punctuation marks, the GPT-2 pre-tokenizer
  // shape) — both Java regex and RE2 agree on this ASCII class.
  def tokenCounts(docs: DataFrame): DataFrame =
    docsParallel(docs)
      .select(col("doc_id"),
        length(col("text")).as("n_chars_m"),
        size(toks).as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0)"))
          .as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  def q43TokenCount(s: SparkSession, d: String): DataFrame =
    tokenCounts(documents(s, d))

  // O-61 fingerprinting: full-content md5, whitespace-normalized md5,
  // and 2 salted min-hashes over word-3-gram shingles (rolling-hash
  // document signature; deterministic across engines).
  def fingerprints(docs: DataFrame): DataFrame = {
    val warr = split(trim(col("text")), "\\s+")
    val sharr = transform(
      sequence(lit(0), size(col("w")) - 3),
      i => concat_ws(" ", element_at(col("w"), i + 1),
        element_at(col("w"), i + 2), element_at(col("w"), i + 3)))
    docsParallel(docs)
      .withColumn("w", warr)
      .withColumn("norm_text",
        regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("md5_full"),
        md5(col("norm_text").cast("binary")).as("md5_norm"),
        when(size(col("w")) >= 3,
          array_min(transform(sharr, sh => md5(sh.cast("binary")))))
          .as("fp_min"),
        when(size(col("w")) >= 3,
          array_min(transform(sharr,
            sh => md5(concat(lit("salt:"), sh).cast("binary")))))
          .as("fp_min_salted"))
      .orderBy(col("doc_id"))
  }

  def q44Fingerprint(s: SparkSession, d: String): DataFrame =
    fingerprints(documents(s, d))

  // O-61 rolling-hash fingerprint: winnowing-style min of all 32-byte
  // substring hashes in one O(n) codegen pass (RollingHashMin custom
  // Expression). The DuckDB oracle recomputes each window hash as a
  // sum-of-products mod 2^61-1 (O(n*w), oracle-side only); the
  // expression math is also unit-tested against a naive reference.
  def rollingFingerprints(docs: DataFrame): DataFrame =
    docsParallel(docs)
      .select(col("doc_id"), col("n_chars"),
        graft.functions.RollingHashMin(col("text"), 32).as("rolling_fp"),
        graft.functions.RollingHashMin(col("text"), 8).as("rolling_fp_w8"))
      .orderBy(col("doc_id"))

  def q44bRollingFingerprint(s: SparkSession, d: String): DataFrame =
    rollingFingerprints(documents(s, d))

  private val TfidfTopK = 5

  // O-61 keyword extraction: deterministic integer TF-IDF, top-5 terms
  // per document. idf is the integer surrogate (n_docs*1000) DIV df —
  // monotone in the real ln((N+1)/(df+1)) ranking but engine-exact
  // (chained float ln/multiply is not, SURVEY.md §7.4). Shapes: tf is
  // one shuffle on (doc, term); df is an aggregate of the tf rows
  // (already distinct per doc-term); df and the doc count broadcast back
  // — at 100 TB the term dictionary is millions of rows against
  // trillions of token rows, the canonical broadcast asymmetry.
  def tfidfTopK(docs: DataFrame): DataFrame = {
    // repartition(doc_id) above the tf aggregation: tf feeds BOTH the df
    // dictionary aggregate and the scoring join, and AQE reuses
    // exchanges, not the final agg above one (q36e's docAgg finding) —
    // this way tf is computed once, and the rank window's required
    // hash(doc_id) distribution is already satisfied (no third shuffle).
    val tf = docsParallel(docs)
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .repartition(col("doc_id"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", expr("tf * ((n_docs * 1000) DIV df)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfidfTopK)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  def q58TfidfTopk(s: SparkSession, d: String): DataFrame =
    tfidfTopK(documents(s, d))

  // O-67 quality FILTER (Gopher-style keep/drop rubric, distinct from
  // q42's quality SCORE): three corpus-calibrated rules, each a pure
  // integer predicate (cross-multiplied ratios — no float thresholds to
  // disagree across engines), evaluated row-locally in one parallel scan:
  //   pass_len      20 <= n_tokens <= 1000   (too short / too long)
  //   pass_mean_len 3 <= mean token chars <= 6  (gibberish / run-ons)
  //   pass_rep      distinct/total tokens >= 0.3 (repetition spam)
  // Emits every doc with its per-rule flags (audit view), keep = AND.
  /** Generic Gopher-style quality filter over any (doc_id, text) table. */
  def qualityFilter(docs: DataFrame): DataFrame =
    docsParallel(docs)
      .withColumn("toks", toks)
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        length(regexp_replace(trim(col("text")), "\\s+", ""))
          .as("n_word_chars"),
        size(array_distinct(col("toks"))).as("n_distinct"))
      .withColumn("pass_len",
        col("n_tokens") >= 20 && col("n_tokens") <= 1000)
      .withColumn("pass_mean_len",
        col("n_word_chars") >= col("n_tokens") * 3 &&
          col("n_word_chars") <= col("n_tokens") * 6)
      .withColumn("pass_rep", col("n_distinct") * 10 >= col("n_tokens") * 3)
      .withColumn("keep",
        col("pass_len") && col("pass_mean_len") && col("pass_rep"))
      .orderBy(col("doc_id"))

  def q62QualityFilter(s: SparkSession, d: String): DataFrame =
    qualityFilter(documents(s, d))

  // O-75: repetition/boilerplate filter — the Gopher repetition class
  // q62's distinct-ratio doesn't cover: a doc dominated by ONE token or
  // ONE bigram is template/boilerplate even when its length, mean token
  // length, and distinct ratio all pass. Signals are MODAL counts (the
  // most frequent token's and bigram's occurrence counts); thresholds
  // are integer cross-multiplied (drop when the top token exceeds 12%
  // of tokens or the top bigram exceeds 5% of bigrams — on the fixture
  // this keeps 356/500 with both rules exercised). Emits every doc
  // with its counts and per-rule flags (audit view), keep = AND.
  /** Generic repetition filter over any (doc_id, text) table. Modal
    * counts are higher-order array expressions (distinct x filter-count,
    * O(distinct*n) per ~100-token row) — one parallel scan, no shuffle
    * at any corpus size. */
  def repetitionFilter(docs: DataFrame): DataFrame = {
    def modal(arr: Column): Column =
      coalesce(array_max(transform(array_distinct(arr),
        t => size(filter(arr, x => x === t)))), lit(0))
    // LET-BINDING via single-element transform (round 13): the token
    // and bigram arrays are bound as LAMBDA VARIABLES (w, bg) so each
    // evaluates exactly once per row NO MATTER how the surrounding
    // plan collapses. The previous withColumn formulation relied on
    // the projection boundary to materialize them — but a downstream
    // filter(keep) (the q87c funnel stage) collapses the projections
    // and inlines the array EXPRESSIONS into the higher-order
    // lambdas, where Spark's interpreted HOF evaluation re-computes
    // an inlined child per ELEMENT: modal's filter-per-distinct then
    // re-tokenizes the document O(n_distinct * n_tokens) times per
    // row — measured 590 s for the funnel's repetition stage at
    // sf0.1 vs ~2 s with the binding (the declared q62b only ever
    // paid one inlining level, which is why its Verify never
    // surfaced it). A lambda variable is a slot read; the blowup is
    // structurally impossible here.
    def bigramsOf(w: Column): Column =
      when(size(w) >= 2,
        transform(sequence(lit(0), size(w) - 2),
          i => concat_ws(" ", element_at(w, i + 1),
            element_at(w, i + 2))))
        .otherwise(array().cast("array<string>"))
    val st = element_at(transform(array(toks), w =>
      element_at(transform(array(bigramsOf(w)), bg =>
        struct(
          size(w).as("n_tokens"),
          modal(w).as("top_token_n"),
          size(bg).as("n_bigrams"),
          modal(bg).as("top_bigram_n"))), 1)), 1)
    docsParallel(docs)
      .select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        col("st.n_tokens").as("n_tokens"),
        col("st.top_token_n").as("top_token_n"),
        col("st.n_bigrams").as("n_bigrams"),
        col("st.top_bigram_n").as("top_bigram_n"))
      .withColumn("pass_token",
        col("top_token_n") * 100 <= col("n_tokens") * 12)
      .withColumn("pass_bigram",
        col("top_bigram_n") * 100 <= col("n_bigrams") * 5)
      .withColumn("keep", col("pass_token") && col("pass_bigram"))
      .orderBy(col("doc_id"))
  }

  def q62bRepetitionFilter(s: SparkSession, d: String): DataFrame =
    repetitionFilter(documents(s, d))

  /** PII regexes shared by the Spark and oracle sides: no lookarounds,
    * no backreferences — the subset Java regex and RE2 (DuckDB) match
    * identically on. */
  private[graft] val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  // O-76: PII detection/redaction — the scrub step a training corpus
  // runs before anything else: count and replace email addresses and
  // NANP-style phone numbers. Row-local regexp_count/regexp_replace in
  // one parallel scan; the patterns live in the Java-regex/RE2 common
  // subset so the DuckDB oracle replays them byte-identically.
  /** Generic PII scrub over any (doc_id, text) table: per-doc match
    * counts plus the redacted text. */
  def piiScrub(docs: DataFrame): DataFrame =
    docsParallel(docs)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).as("n_emails"),
        regexp_count(col("text"), lit(PhoneRe)).as("n_phones"),
        regexp_replace(
          regexp_replace(col("text"), EmailRe, "[EMAIL]"),
          PhoneRe, "[PHONE]").as("redacted"))
      .orderBy(col("doc_id"))

  /** The scrub applied IN PLACE — same regexes, `text` replaced, every
    * other column untouched: the corpus-transform form the extended
    * funnel's stage 1 composes (row-local; the audit-view [[piiScrub]]
    * stays the declared q69 shape). */
  def piiScrubText(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      regexp_replace(
        regexp_replace(col("text"), EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]"))

  // O-80: corpus-frequency quality score — the two-pass shape every
  // model-based quality filter reduces to: TRAIN statistics on the
  // corpus itself (here a unigram frequency table — the degenerate but
  // structurally identical case of a KenLM-style LM), broadcast the
  // model, SCORE every doc against it in one pass. Signals: the share
  // of token positions carrying a corpus-rare token (garbage/OOV
  // detector) and the doc's mean relative token frequency (how
  // "typical" its vocabulary is). All arithmetic is exact-integer until
  // one final double division per output column, so the DuckDB oracle
  // reproduces the values bit-identically.
  /** Generic corpus-frequency score over any (doc_id, text) table;
    * a token is rare when its corpus count is below rarePct% of all
    * positions. Scale shape: pass 1 is one partially-aggregated
    * groupBy(token) (the unigram model — millions of rows against
    * trillions of positions, the q58 broadcast asymmetry); pass 2 is
    * scan + broadcast join + per-doc aggregate. The corpus is scanned
    * twice and shuffled never (the position->doc aggregate shuffles
    * per-doc partial sums, not positions). */
  def corpusFreqScore(docs: DataFrame, rarePct: Int = 1): DataFrame = {
    val pos = tokenPositions(docs)
    scoreAgainstModel(pos,
      pos.groupBy(col("tok")).agg(count(lit(1)).as("c")), rarePct)
  }

  /** One row per (doc, token position) — the ONE token-scan rule the
    * in-query train pass (q72), the standing-model scorer (q92), and
    * the affinity scorer (q100, which carries `source`) all feed from
    * (a drifting copy of the scan rule would silently diverge the
    * models from the positions they score). */
  private def tokenPositions(docs: DataFrame,
      extra: Column*): DataFrame =
    docsParallel(docs)
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id") +: extra :+ explode(toks).as("tok"): _*)

  /** The SCORE pass against any (tok, c) unigram model. The join is
    * LEFT OUTER with c coalesced to 0 so a token the model has never
    * seen scores as maximally rare — the correct reading when a
    * standing model (q92) scores documents newer than its last merge;
    * for the self-trained q72 every token is present and the outer
    * rows are empty, so the two paths stay pointwise equal. */
  private def scoreAgainstModel(pos: DataFrame, tf: DataFrame,
      rarePct: Int): DataFrame = {
    val tot = tf.agg(sum(col("c")).as("total"))
    pos.join(broadcast(tf), Seq("tok"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        count(when(col("c") * 100 < col("total") * rarePct, lit(1)))
          .as("n_rare"),
        sum(col("c")).as("c_sum"),
        // first() is deterministic here: total is the same cross-joined
        // scalar on every row of the group
        first(col("total")).as("total"))
      .withColumn("rare_frac",
        round(col("n_rare").cast("double") / col("n_tok"), 4))
      .withColumn("mean_tf_permille",
        round((col("c_sum") * 1000).cast("double") /
          (col("n_tok") * col("total")), 4))
      .select(col("doc_id"), col("n_tok"), col("n_rare"),
        col("rare_frac"), col("mean_tf_permille"))
      .orderBy(col("doc_id"))
  }

  def q72CorpusFreqScore(s: SparkSession, d: String): DataFrame =
    corpusFreqScore(documents(s, d))

  // O-116: DSIR-style target-affinity scoring (Xie et al. 2023,
  // "Data Selection for Language Models via Importance Resampling"):
  // given a small TARGET domain (an eval suite, a curated high-quality
  // slice), rank every background document by how much its vocabulary
  // mass sits in the target's unigram model vs the background model —
  // the data-SELECTION move that turns a generic crawl into a
  // domain-matched training set (q72 scores "typicality" against ONE
  // corpus-wide model; this scores domain MATCH between two).
  /** Per-doc target-vs-background affinity over any (doc_id, source,
    * text) table: for each non-target doc, n_tok, its summed
    * target-model counts (t_mass), summed background-model counts
    * (b_mass), and affinity = ((t_mass+1) * b_total) / ((b_mass+1) *
    * t_total) — the size-normalized count-mass ratio (add-one
    * smoothed; > 1 means the doc's vocabulary is relatively more
    * target-like). Exact integer masses; affinity is two exact
    * products and one division in double (the q72 convention —
    * deterministic IEEE, same op order in the oracle).
    *
    * Scale shape: ONE token pass builds both models simultaneously
    * (groupBy(token) with conditional counts — dictionary-sized, the
    * q58/q72 broadcast asymmetry), MATERIALIZED once so the totals
    * read and the broadcast join share it instead of each re-running
    * the token pass (the q85/q87 materialize-once posture;
    * unmaterialized, the totals subtree re-tokenized the corpus — a
    * third full pass visible in the formatted plan); the totals
    * themselves are one bounded 1-row collect, failing fast on a
    * token-free target. The scoring side is scan + broadcast model
    * join + a per-doc partial-agg'd aggregate — the corpus shuffles
    * per-doc partial sums, never positions. */
  def targetAffinity(docs: DataFrame,
      targetSource: String = "src0"): DataFrame =
    targetAffinityScores(docs, targetSource).orderBy(col("doc_id"))

  /** The unordered affinity core — shared by q100 (which presents it
    * sorted by doc_id) and q101 (whose per-source ranking window would
    * otherwise stack a redundant global sort under its exchange). */
  private[graft] def targetAffinityScores(docs: DataFrame,
      targetSource: String): DataFrame = {
    val pos = tokenPositions(docs, col("source"))
    val model = graft.ops.Dedup.materializeBounded(
      pos.groupBy(col("tok")).agg(
        count(when(col("source") === targetSource, lit(1))).as("ct"),
        count(when(col("source") =!= targetSource, lit(1))).as("cb")))
    // totals: one bounded 1-row collect off the materialized model.
    // Fail fast on a token-free target/background — a 0 denominator
    // is the one place the engines' division semantics diverge
    // (Spark double x/0 = Infinity, DuckDB = NULL), so it is OUT OF
    // DOMAIN rather than silently engine-specific (the
    // knnLabelPropagation seeds.nonEmpty convention).
    val totRow = model.agg(
      coalesce(sum(col("ct")), lit(0L)),
      coalesce(sum(col("cb")), lit(0L))).head()
    val (tTotal, bTotal) = (totRow.getLong(0), totRow.getLong(1))
    require(tTotal > 0, s"target source '$targetSource' has no tokens")
    require(bTotal > 0, "background corpus has no tokens")
    pos.filter(col("source") =!= targetSource)
      .join(broadcast(model), Seq("tok"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tok"),
        sum(col("ct")).as("t_mass"),
        sum(col("cb")).as("b_mass"))
      .withColumn("affinity",
        round((col("t_mass") + 1).cast("double") * lit(bTotal) /
          ((col("b_mass") + 1).cast("double") * lit(tTotal)), 6))
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("t_mass"), col("b_mass"), col("affinity"))
  }

  // Fixture binding: src0 plays the target domain (the q65 convention).
  def q100TargetAffinity(s: SparkSession, d: String): DataFrame =
    targetAffinity(documents(s, d))

  // O-117 companion / O-118 (q101): AFFINITY-RANKED SELECTION — the
  // second half of the DSIR loop (Xie et al., "Data Selection for
  // Language Models via Importance Resampling"): q100 SCORES every
  // background document's target affinity; this consumes the scores
  // into the SELECTED sub-corpus a trainer actually reads — per
  // source, documents are admitted in (affinity DESC, stable hash)
  // order while the source's cumulative token count stays within its
  // integer quota. The quota construction is q66b's verbatim
  // (w_i*T DIV W, T = min_i(tok_i*W DIV w_i) — exact integers, no
  // floats, no rand()); only the ADMISSION ORDER changes: q66b admits
  // by hash alone (a uniform mixture), q101 admits the most
  // target-like prefix first (a target-matched mixture). Output rows
  // carry the admission evidence (affinity, cum_tok, tok_quota) and
  // the doc_id set composes with q87's funnel.
  //
  // Scale shape: the affinity side is q100's (one token pass builds
  // the model, materialized once, broadcast back; the corpus shuffles
  // per-doc partial sums, never positions). The quotas need only
  // per-source token TOTALS, which equal plain token counts (the
  // model join preserves every token), so they come from a CHEAP
  // separate one-pass aggregate collected at |sources| rows — the
  // affinity plan is NOT run twice. The corpus then pays exactly one
  // more shuffle: the per-source ranking window (the q66b frame,
  // re-keyed by the score).
  /** Generic target-matched token-budget selection over any
    * (doc_id, source, text) table. */
  def affinitySelect(docs: DataFrame, targetSource: String = "src0",
      weights: Map[String, Int] = Map.empty,
      defaultWeight: Int = 1): DataFrame = {
    val wExpr = weights.foldLeft(lit(defaultWeight)) {
      case (acc, (src, wt)) =>
        when(col("source") === src, wt).otherwise(acc)
    }
    val aff = targetAffinityScores(docs, targetSource)
      .withColumn("w", wExpr).filter(col("w") > 0)
    // one row per source — bounded by |sources|, never the corpus
    val countRows = docs
      .filter(col("doc_id").isNotNull && col("source") =!= targetSource)
      .select(col("source"),
        Sampling.tokenCount(col("text")).cast("long").as("n_tok"))
      .withColumn("w", wExpr).filter(col("w") > 0)
      .groupBy(col("source"), col("w"))
      .agg(coalesce(sum(col("n_tok")), lit(0L)).as("tok")).collect()
    val wsum = countRows.map(_.getAs[Int]("w").toLong).sum
    val t =
      if (countRows.isEmpty) 0L
      else countRows.map(r =>
        r.getAs[Long]("tok") * wsum / r.getAs[Int]("w")).min
    val sess = docs.sparkSession
    import sess.implicits._
    val quota = countRows.toSeq
      .map(r => (r.getAs[String]("source"),
        r.getAs[Int]("w") * t / wsum))
      .toDF("source", "tok_quota")
    val byAff = Window.partitionBy(col("source"))
      .orderBy(col("affinity").desc, col("bucket"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    aff
      .withColumn("bucket", Sampling.bucket(col("doc_id")))
      .withColumn("cum_tok", sum(col("n_tok")).over(byAff))
      .join(broadcast(quota), "source")
      .filter(col("cum_tok") <= col("tok_quota"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("affinity"), col("cum_tok"), col("tok_quota"))
      .orderBy(col("source"), col("cum_tok"), col("doc_id"))
  }

  // Fixture binding: src0 is the target; src1 upweighted 2x against a
  // unit baseline (exercising the weighted-quota path over the
  // background sources).
  def q101AffinitySelect(s: SparkSession, d: String): DataFrame =
    affinitySelect(documents(s, d), weights = Map("src1" -> 2))

  // O-128 (q101b): GLOBAL-budget affinity selection — the other
  // mixture a trainer asks for (VERDICT r12 #6). q101 admits
  // per-source under per-source quotas (a target-matched MIXTURE,
  // every source represented); this variant admits in pure
  // (affinity DESC, stable hash) order across ALL sources under one
  // corpus-wide token budget — maximum target affinity per token,
  // sources free to win or vanish on merit.
  //
  // Scale shape: the naive formulation is a GLOBAL cumulative-sum
  // window, which Spark plans as a single-partition sort — the one
  // shape this engine bans. Instead the classic distributed prefix
  // sum: range-partition the score table on the admission order
  // (affinity DESC, bucket, doc_id — total, ids are unique),
  // materialize it ONCE with its partition id frozen (id+score rows,
  // the q87 survivor-list convention), collect the <= P per-partition
  // token sums (P = configured parallelism — a config-bounded
  // collect, the nprobe convention), turn them into per-partition
  // OFFSETS driver-side, and run the cumulative window PARTITIONED by
  // pid (parallel) plus the broadcast offset. cum_tok is a function
  // of the global order alone, so partition boundary placement cannot
  // change the answer. The budget itself is budgetNum/budgetDen of
  // the background token total, from the same 1-row aggregate that
  // the per-source variant's quota collect generalizes.
  /** Generic global-budget target-matched selection over any
    * (doc_id, source, text) table: admit documents in
    * (affinity DESC, bucket, doc_id) order while the corpus-wide
    * cumulative token count stays within budgetNum/budgetDen of the
    * background total. */
  def affinitySelectGlobal(docs: DataFrame, targetSource: String = "src0",
      budgetNum: Long = 1L, budgetDen: Long = 2L): DataFrame = {
    require(budgetDen > 0, "budget denominator must be positive")
    val s = docs.sparkSession
    import s.implicits._
    val aff = targetAffinityScores(docs, targetSource)
      .withColumn("bucket", Sampling.bucket(col("doc_id")))
    val p = s.sparkContext.defaultParallelism
    // pid is frozen by the materialization (spark_partition_id is
    // otherwise recomputation-unstable); the table is (id, source,
    // n_tok, affinity, bucket) rows — the funnel's survivor-list size
    // class, materialized exactly once for the sums pass and the
    // window pass
    val ranked = graft.ops.Dedup.materializeBounded(
      aff.repartitionByRange(p, col("affinity").desc, col("bucket"),
          col("doc_id"))
        .withColumn("pid", spark_partition_id()))
    val sums = ranked.groupBy(col("pid"))
      .agg(sum(col("n_tok")).as("ptok")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1) // <= P rows
    // BigInt intermediate (round-13 ADVICE): total * budgetNum first
    // overflows Long at corpus token totals a 100 TB run actually has
    // (2^63 / 10^13 tokens leaves budgetNum < 10^6), flipping the
    // budget negative and emptying the selection silently
    val budget = {
      val b = BigInt(sums.map(_._2).sum) * budgetNum / budgetDen
      require(b.isValidLong, s"token budget $b exceeds Long range")
      b.toLong
    }
    // offsets: tokens in all EARLIER partitions (range order == pid
    // order, highest affinity in pid 0)
    val offsets = sums
      .scanLeft((-1, 0L)) { case ((_, acc), (pid, t)) => (pid, acc + t) }
      .init.zip(sums).map { case ((_, off), (pid, _)) => (pid, off) }
      .toSeq.toDF("pid", "offset")
    val inPart = Window.partitionBy(col("pid"))
      .orderBy(col("affinity").desc, col("bucket"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked
      .withColumn("cum_in_part", sum(col("n_tok")).over(inPart))
      .join(broadcast(offsets), "pid")
      .withColumn("cum_tok", col("cum_in_part") + col("offset"))
      .filter(col("cum_tok") <= lit(budget))
      .select(col("doc_id"), col("source"), col("n_tok"),
        col("affinity"), col("cum_tok"),
        lit(budget).as("tok_budget"))
      .orderBy(col("cum_tok"), col("doc_id"))
  }

  // Fixture binding: half the background token mass, admitted in pure
  // affinity order — at sf0.01 the target-adjacent sources crowd out
  // the rest (the contrast with q101's every-source mixture is the
  // point of the variant).
  def q101bAffinitySelectGlobal(s: SparkSession, d: String): DataFrame =
    affinitySelectGlobal(documents(s, d))

  // O-104: incremental TERM-FREQUENCY model store — the standing-index
  // idiom (q83 hashes / q85 bands / q88 cells) applied to the TEXT-
  // MODEL family. q72 retrains its unigram model from scratch on every
  // run; at a daily cadence over a 100 TB corpus the model must
  // instead live on disk and absorb each batch in O(batch): the store
  // keeps per-epoch count-DELTA rows (epoch, tok, c) in 64 token-hash
  // buckets, a merge appends the batch's OWN groupBy(token) counts
  // (the corpus is never rescanned — sum-of-deltas associativity does
  // the merge at read time, in the model fold), and compaction folds
  // oversized buckets back toward one row per token. The epoch column
  // is the replay ledger: a re-delivered batch re-appends IDENTICAL
  // (epoch, tok, c) rows, and the model fold's DISTINCT reclaims them
  // — the at-least-once posture the hash/edge stores document, made to
  // work for non-idempotent counts by tagging the delta's origin.
  // Compaction erases epochs (folds them into a -1 total), so it must
  // run only behind the replay window (after the stream's checkpoint
  // commits) — the one ordering constraint this store adds. That
  // constraint is ENFORCED: the fold writes the largest epoch it
  // absorbed into its own log entry (the compacted-epoch mark,
  // [[StoreLog.Version.mark]]), and tfStoreMerge no-ops any epoch at or
  // below it: a batch replayed AFTER the compaction that absorbed its
  // first delivery appends nothing instead of double-counting. Mark and
  // fold commit together, so no crash can separate them.
  /** Write (or append) the tf store, a logged one-table store: one
    * partially aggregated groupBy(token) pass over the given docs — the
    * q72 train pass — bucketed by token hash. An overwrite build starts
    * a log with no mark, so the replay ledger resets with the rows. */
  def tfStoreWrite(docs: DataFrame, store: String,
      mode: String = "overwrite", epoch: Long = 0L,
      sign: Long = 1L): Unit =
    TfStore.put(tfRows(docs, epoch, sign), store, mode, "tf.append")

  private val TfStore = StoreLog.OneTable("tf store", "tfStoreWrite",
    "tok STRING, c BIGINT, epoch BIGINT, bucket INT", "bucket", Seq("tok"))

  /** The (tok, c, epoch, bucket) delta rows of `docs`, counts times
    * `sign`. */
  private def tfRows(docs: DataFrame, epoch: Long, sign: Long): DataFrame =
    tokenPositions(docs)
      .groupBy(col("tok")).agg((count(lit(1)) * lit(sign)).as("c"))
      .withColumn("epoch", lit(epoch))
      .withColumn("bucket", pmod(xxhash64(col("tok")), lit(64)).cast("int"))

  /** Last-compacted-epoch mark; Long.MinValue for a store that has
    * never compacted. Epochs are the caller's batch ids (>= 0 by the
    * foreachBatch contract). */
  private[graft] def tfStoreHwm(s: SparkSession, store: String): Long =
    TfStore.open(s, store).mark.getOrElse(Long.MinValue)

  /** Append `docs`' deltas times `sign` as `epoch`, unless a fold has
    * absorbed that epoch already. */
  private def tfAppend(s: SparkSession, store: String, docs: DataFrame,
      epoch: Long, sign: Long): Unit = {
    val v = TfStore.open(s, store)
    if (epoch > v.mark.getOrElse(Long.MinValue))
      v.commit("tf.merge")(Seq(
        v.append(TfStore.layout, tfRows(docs, epoch, sign))))
  }

  /** Merge a batch into the standing model: O(batch tokens), zero
    * store data reads. Distinct epoch per batch is the caller's
    * contract (a streaming binding passes its batchId) — it is what
    * makes a replayed append reclaimable. An epoch at or below the
    * compacted-epoch mark NO-OPS (its first delivery is already
    * folded into the store's epoch −1 totals; re-appending would
    * double-count because the DISTINCT reclaim needs the original
    * tagged rows, which compaction erased). */
  def tfStoreMerge(s: SparkSession, store: String, newDocs: DataFrame,
      epoch: Long): Unit =
    tfAppend(s, store, newDocs, epoch, 1L)

  // O-141 (q92b): MODEL RETRACTION — the additive store's payoff:
  // deleting documents from the standing model IS a merge of NEGATED
  // deltas. No store data is read, nothing corpus-sized moves — the
  // deleted docs' own groupBy(token) counts append with c -> -c, and
  // sum-of-deltas associativity does the subtraction at read time
  // exactly where it does the addition.
  /** Retract previously-merged documents from the standing tf model:
    * O(deleted docs' tokens). Same replay ledger as [[tfStoreMerge]]
    * (a re-delivered retraction re-appends IDENTICAL (epoch, tok,
    * -c) rows — the model fold's DISTINCT reclaims them; an epoch at
    * or below the compacted-epoch mark refuses, its first delivery
    * already folded). Caller contract: retract only documents whose
    * counts were previously merged — retracting never-merged docs
    * drives counts negative, the same corruption class as
    * double-merging a batch outside the ledger. Compaction's SUM fold
    * absorbs the negatives; a token whose total reaches zero leaves
    * [[tfModel]] entirely (the dictionary a from-scratch retrain
    * without those docs produces). */
  def tfStoreRetract(s: SparkSession, store: String, delDocs: DataFrame,
      epoch: Long): Unit =
    tfAppend(s, store, delDocs, epoch, -1L)

  /** The standing model, dictionary-sized: DISTINCT delta rows (the
    * replay reclaim), then sum per token. Tokens whose deltas sum to
    * ZERO drop out (round 16: a retraction can null a token; the
    * retrained-from-scratch dictionary has no such row — inert for
    * the scorer either way, since scoreAgainstModel coalesces absent
    * tokens to 0, but the MODEL itself should equal the retrain). */
  def tfModel(s: SparkSession, store: String): DataFrame =
    TfStore.read(s, store)
      .select(col("epoch"), col("tok"), col("c")).distinct()
      .groupBy(col("tok")).agg(sum(col("c")).as("c"))
      .filter(col("c") =!= 0L)

  /** Compact oversized buckets through the log's compaction, with a SUM
    * fold instead of DISTINCT — delta rows compact by addition. Each
    * folded bucket is rewritten WHOLE as epoch -1 totals (one row per
    * token), so repeated folds cannot double-count: a bucket never
    * holds two (-1, tok) rows.
    *
    * Replay-window enforcement: the fold observes the largest epoch
    * among the rows it absorbs, on its own write job, and its commit
    * writes it as the compacted-epoch mark (kept when larger). Every
    * epoch whose rows the fold erased is <= the mark, so
    * [[tfStoreMerge]] refuses exactly the replays that could
    * double-count; an epoch whose rows sit only in unfolded buckets and
    * is below the mark is refused too — its rows are in the store
    * already, so no data is lost. */
  def tfStoreCompact(s: SparkSession, store: String,
      maxFilesPerBucket: Int = 4): Seq[Int] = {
    val absorbed = org.apache.spark.sql.Observation()
    TfStore.compact(s, store, "tf.compact", maxFilesPerBucket,
      fold = _.observe(absorbed, max(col("epoch")).as("e"))
        .select(col("epoch"), col("tok"), col("c"), col("bucket"))
        .distinct()
        .groupBy(col("bucket"), col("tok")).agg(sum(col("c")).as("c"))
        .withColumn("epoch", lit(-1L)),
      mark = Option(absorbed.get("e")).map(_.asInstanceOf[Long]))
  }

  /** q72's SCORE pass bound to the STANDING model instead of an
    * in-query retrain — the consumer a daily pipeline actually runs:
    * the corpus-sized side pays the same scan + broadcast join; the
    * model side is a dictionary-sized store read. */
  def corpusFreqScoreFromStore(docs: DataFrame, store: String,
      rarePct: Int = 1): DataFrame =
    // NOT materialized although the scorer references the model fold
    // twice (round 18, measured + reconsidered): a localCheckpoint
    // here would hide the store read behind a Scan ExistingRDD —
    // PlanShapeSpec's q92 pin ("the model side is the store READ, not
    // an in-query retrain") deliberately asserts the parquet path in
    // the declared tree, and the fold is dictionary-sized with its
    // DISTINCT exchange deduped by ReuseExchange, so the second
    // reference costs one tiny aggregate, not a second store scan.
    scoreAgainstModel(tokenPositions(docs),
      tfModel(docs.sparkSession, store), rarePct)

  /** Declared O-104 binding: build the store WITHOUT every fifth doc,
    * merge those back as the batch (epoch 1), compact (exercising the
    * sum fold in the declared path — every touched bucket holds two
    * epoch files), then score the full corpus against the standing
    * model. Oracle: q72's SQL VERBATIM — the store was built in two
    * increments and folded, yet scoring against it must equal scoring
    * against a from-scratch retrain (merge-equals-full-recompute,
    * proven through the model's consumer). */
  def q92TfStoreScore(s: SparkSession, d: String): DataFrame = {
    val store = graft.util.Ephemeral.fixedDir("graft_tf_store_q92")
    val docs = documents(s, d)
    val batchPred = pmod(col("doc_id"), lit(5)) === 2
    tfStoreWrite(docs.filter(!batchPred), store)
    tfStoreMerge(s, store, docs.filter(batchPred), epoch = 1L)
    tfStoreCompact(s, store, maxFilesPerBucket = 1)
    corpusFreqScoreFromStore(docs, store)
  }

  /** Declared O-141 binding (q92's geometry, inverted): build the
    * standing model over the FULL corpus, RETRACT every fifth doc
    * (epoch 1), compact — the SUM fold absorbs the negative deltas
    * in the declared path — then score the SURVIVING corpus against
    * the standing model. Oracle: q72's SQL restated over the
    * surviving slice — a model that absorbed a retraction must score
    * exactly like a model retrained without the retracted docs
    * (retract-equals-retrain, proven through the model's consumer). */
  def q92bTfRetractScore(s: SparkSession, d: String): DataFrame = {
    val store = graft.util.Ephemeral.fixedDir("graft_tf_store_q92b")
    val docs = documents(s, d)
    val delPred = pmod(col("doc_id"), lit(5)) === 2
    tfStoreWrite(docs, store)
    tfStoreRetract(s, store, docs.filter(delPred), epoch = 1L)
    tfStoreCompact(s, store, maxFilesPerBucket = 1)
    corpusFreqScoreFromStore(docs.filter(!delPred), store)
  }

  /** q69: piiScrub over a deterministically PII-injected view of the
    * documents table — the fixture corpus carries no PII (synthetic
    * word salad), so the declared query plants emails on doc_id % 3
    * and phone numbers on doc_id % 4 (both sides of the oracle build
    * the identical view) and scrubs them back out; the uninjected docs
    * prove the no-match path leaves text untouched. */
  def q69PiiScrub(s: SparkSession, d: String): DataFrame =
    piiScrub(injectPii(documents(s, d)))

  /** The deterministic PII injection the q69/q87c fixture bindings
    * share (emails on doc_id % 3, NANP phones on doc_id % 4) — the
    * fixture corpus is PII-free word salad, so the declared queries
    * plant what they scrub; both engines build the identical view. */
  private[graft] def injectPii(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit(" contact doc"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4)) === 0,
        concat(lit(" call 555-"),
          lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
          lit("-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit(""))))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q38_text_analysis" -> (q38TextAnalysis _),
    "q44b_rolling_fingerprint" -> (q44bRollingFingerprint _),
    "q41_lang_id" -> (q41LangId _),
    "q42_quality_score" -> (q42QualityScore _),
    "q43_token_count" -> (q43TokenCount _),
    "q44_fingerprint" -> (q44Fingerprint _),
    "q58_tfidf_topk" -> (q58TfidfTopk _),
    "q62_quality_filter" -> (q62QualityFilter _),
    "q62b_repetition_filter" -> (q62bRepetitionFilter _),
    "q69_pii_scrub" -> (q69PiiScrub _),
    "q72_corpus_freq_score" -> (q72CorpusFreqScore _),
    "q100_target_affinity" -> (q100TargetAffinity _),
    "q101_affinity_select" -> (q101AffinitySelect _),
    "q101b_affinity_select_global" -> (q101bAffinitySelectGlobal _),
    "q92_tf_store_score" -> (q92TfStoreScore _),
    "q92b_tf_retract_score" -> (q92bTfRetractScore _),
    "q93_quality_calibration" -> (q93QualityCalibration _),
  )

  /** DuckDB twin of RollingHashMin(text, w): min over window positions of
    * the polynomial hash, as a sum of byte*Base^k products folded mod
    * 2^61-1 in HUGEINT (sum-of-products == Horner's rolling form, mod M).
    * O(n*w) vs the Spark Expression's O(n) — oracle-side only. Exploits
    * the fixture being pure ASCII (verified): ord(char) == byte value. */
  private def rollSql(w: Int): String = {
    val m = BigInt("2305843009213693951") // 2^61 - 1
    val pows = (0 until w)
      .map(k => BigInt(1000003).modPow(BigInt(w - 1 - k), m))
      .mkString("[", ",", "]")
    s"""CASE WHEN length(text) >= $w THEN
       |    list_min([CAST(list_sum(
       |      [CAST(ord(substr(text, p+k-1, 1)) AS HUGEINT) * ($pows)[k]
       |       FOR k IN generate_series(1, $w)]) % 2305843009213693951
       |      AS BIGINT)
       |     FOR p IN generate_series(1, length(text)-$w+1)])
       |  ELSE NULL END""".stripMargin
  }

  // two-pass corpus-frequency score: unigram counts -> per-doc
  // position stats; exact-integer arithmetic until the final rounded
  // double divisions (mirrors the Spark side operation-for-operation).
  // Shared by q72 (in-query retrain) and q92 (standing tf store):
  // merge-equals-full-recompute proven THROUGH the model's consumer —
  // scoring against the incrementally built (and folded) store must
  // equal scoring against the from-scratch retrain.
  private val corpusFreqSql = corpusFreqSqlOver("documents")

  /** q72's oracle over an arbitrary docs relation (round 16: the
    * q92b retraction oracle is the SAME scoring SQL over the
    * surviving slice — model side and scored side both). */
  private def corpusFreqSqlOver(docsRel: String): String =
    s"""WITH tk AS (
         |  SELECT doc_id, $toksSql AS w FROM $docsRel
         |  WHERE doc_id IS NOT NULL),
         |pos AS (SELECT doc_id, t.tok FROM tk, UNNEST(w) AS t(tok)),
         |tf AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS c FROM pos
         |  GROUP BY tok),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM tf),
         |per AS (
         |  SELECT doc_id, total, CAST(count(*) AS BIGINT) AS n_tok,
         |    CAST(count(CASE WHEN c * 100 < total * 1 THEN 1 END)
         |      AS BIGINT) AS n_rare,
         |    CAST(sum(c) AS BIGINT) AS c_sum
         |  FROM pos JOIN tf USING (tok) CROSS JOIN tot
         |  GROUP BY doc_id, total)
         |SELECT doc_id, n_tok, n_rare,
         |  round(CAST(n_rare AS DOUBLE) / n_tok, 4) AS rare_frac,
         |  round(CAST(c_sum * 1000 AS DOUBLE) / (n_tok * total), 4)
         |    AS mean_tf_permille
         |FROM per ORDER BY doc_id""".stripMargin

  /** The q101 CTE stack over an arbitrary (doc_id, source, text)
    * relation `src` — tk/pos/model/tot/per/aff/quota/c, target src0,
    * weight src1=2 (the declared fixture binding). Consumers append
    * their own final SELECT: q101 the full admission table, the q87b
    * funnel oracle just the selected id set. */
  private[graft] def affinitySelectCtesOver(src: String): String =
    s"""tk AS (
       |  SELECT doc_id, source, $toksSql AS w FROM $src
       |  WHERE doc_id IS NOT NULL),
       |pos AS (SELECT doc_id, source, t.tok
       |  FROM tk, UNNEST(w) AS t(tok)),
       |model AS (
       |  SELECT tok,
       |    CAST(count(CASE WHEN source = 'src0' THEN 1 END)
       |      AS BIGINT) AS ct,
       |    CAST(count(CASE WHEN source != 'src0' THEN 1 END)
       |      AS BIGINT) AS cb
       |  FROM pos GROUP BY tok),
       |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS t_total,
       |  CAST(sum(cb) AS BIGINT) AS b_total FROM model),
       |per AS (
       |  SELECT doc_id, source, t_total, b_total,
       |    CAST(count(*) AS BIGINT) AS n_tok,
       |    CAST(sum(ct) AS BIGINT) AS t_mass,
       |    CAST(sum(cb) AS BIGINT) AS b_mass
       |  FROM pos JOIN model USING (tok) CROSS JOIN tot
       |  WHERE source != 'src0'
       |  GROUP BY doc_id, source, t_total, b_total),
       |aff AS (
       |  SELECT doc_id, source, n_tok,
       |    round((CAST(t_mass + 1 AS DOUBLE) * b_total) /
       |      (CAST(b_mass + 1 AS DOUBLE) * t_total), 6) AS affinity,
       |    ${Sampling.bucketSqlOf("doc_id")} AS bucket,
       |    CASE WHEN source = 'src1' THEN 2 ELSE 1 END AS w
       |  FROM per),
       |counts AS (SELECT source, w, CAST(sum(n_tok) AS BIGINT) AS tok
       |  FROM aff GROUP BY 1, 2),
       |ws AS (SELECT CAST(sum(w) AS BIGINT) AS wsum FROM counts),
       |tv AS (SELECT CAST(min(tok * wsum // w) AS BIGINT) AS t
       |  FROM counts, ws),
       |ki AS (SELECT source, CAST(w * t // wsum AS BIGINT) AS tok_quota
       |  FROM counts, tv, ws),
       |c AS (
       |  SELECT doc_id, source, n_tok, affinity,
       |    CAST(sum(n_tok) OVER (PARTITION BY source
       |      ORDER BY affinity DESC, bucket, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum_tok
       |  FROM aff)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q72_corpus_freq_score" -> corpusFreqSql,
    "q92_tf_store_score" -> corpusFreqSql,
    // q92b: the same scoring SQL over the surviving slice — both the
    // model side and the scored side (retract-equals-retrain)
    "q92b_tf_retract_score" -> corpusFreqSqlOver(
      "(SELECT * FROM documents WHERE doc_id % 5 != 2)"),
    // one token pass builds both models (conditional counts); masses
    // are exact integers, affinity mirrors the Spark op order exactly:
    // (double(t_mass+1) * b_total) / (double(b_mass+1) * t_total)
    "q100_target_affinity" ->
      s"""WITH tk AS (
         |  SELECT doc_id, source, $toksSql AS w FROM documents
         |  WHERE doc_id IS NOT NULL),
         |pos AS (SELECT doc_id, source, t.tok
         |  FROM tk, UNNEST(w) AS t(tok)),
         |model AS (
         |  SELECT tok,
         |    CAST(count(CASE WHEN source = 'src0' THEN 1 END)
         |      AS BIGINT) AS ct,
         |    CAST(count(CASE WHEN source != 'src0' THEN 1 END)
         |      AS BIGINT) AS cb
         |  FROM pos GROUP BY tok),
         |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS t_total,
         |  CAST(sum(cb) AS BIGINT) AS b_total FROM model),
         |per AS (
         |  SELECT doc_id, source, t_total, b_total,
         |    CAST(count(*) AS BIGINT) AS n_tok,
         |    CAST(sum(ct) AS BIGINT) AS t_mass,
         |    CAST(sum(cb) AS BIGINT) AS b_mass
         |  FROM pos JOIN model USING (tok) CROSS JOIN tot
         |  WHERE source != 'src0'
         |  GROUP BY doc_id, source, t_total, b_total)
         |SELECT doc_id, source, n_tok, t_mass, b_mass,
         |  round((CAST(t_mass + 1 AS DOUBLE) * b_total) /
         |    (CAST(b_mass + 1 AS DOUBLE) * t_total), 6) AS affinity
         |FROM per ORDER BY doc_id""".stripMargin,
    // q101b: the same affinity CTEs under ONE corpus-wide budget —
    // the global cumulative window replayed naively (the oracle can
    // afford the single sort; the Spark side's distributed prefix sum
    // must EQUAL it, which is the point of the check). Budget = half
    // the background token total, re-derived in SQL. The unused
    // per-source quota CTEs from the shared factoring are never
    // referenced, so DuckDB does not evaluate them.
    "q101b_affinity_select_global" ->
      s"""WITH ${affinitySelectCtesOver("documents")},
         |b AS (SELECT CAST(sum(n_tok) * 1 // 2 AS BIGINT)
         |  AS tok_budget FROM aff),
         |g AS (
         |  SELECT doc_id, source, n_tok, affinity,
         |    CAST(sum(n_tok) OVER (ORDER BY affinity DESC, bucket,
         |      doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum_tok
         |  FROM aff)
         |SELECT g.doc_id, g.source, g.n_tok, g.affinity, g.cum_tok,
         |  b.tok_budget
         |FROM g CROSS JOIN b WHERE g.cum_tok <= b.tok_budget
         |ORDER BY cum_tok, doc_id""".stripMargin,
    // q101: q100's affinity CTEs feeding q66b's integer quota
    // construction, with the admission window re-keyed by
    // (affinity DESC, bucket, doc_id) — both engines compute the
    // rounded affinity with the identical op order, so the DESC
    // ranking (and hence every cumulative sum) agrees exactly
    "q101_affinity_select" ->
      s"""WITH ${affinitySelectCtesOver("documents")}
         |SELECT c.doc_id, c.source, c.n_tok, c.affinity, c.cum_tok,
         |  ki.tok_quota
         |FROM c JOIN ki USING (source)
         |WHERE c.cum_tok <= ki.tok_quota
         |ORDER BY source, cum_tok, doc_id""".stripMargin,
    // modal token/bigram counts via the classic group-by formulation
    // (the oracle needn't mirror Spark's array expressions, only the
    // result); bigram construction matches the shingle oracle pattern
    "q62b_repetition_filter" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $toksSql AS w FROM documents),
         |t1 AS (SELECT doc_id, t.tok FROM toks, UNNEST(w) AS t(tok)),
         |tmodal AS (SELECT doc_id, max(c) AS ttop FROM (
         |  SELECT doc_id, tok, count(*) AS c FROM t1 GROUP BY 1, 2)
         |  GROUP BY doc_id),
         |bg AS (SELECT doc_id, concat_ws(' ', w[i+1], w[i+2]) AS b
         |  FROM toks, UNNEST(generate_series(0, len(w)-2)) AS t(i)
         |  WHERE len(w) >= 2),
         |bmodal AS (SELECT doc_id, max(c) AS btop FROM (
         |  SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2)
         |  GROUP BY doc_id),
         |j AS (
         |  SELECT t.doc_id, CAST(len(w) AS INT) AS n_tokens,
         |    CAST(coalesce(ttop, 0) AS INT) AS top_token_n,
         |    CAST(greatest(len(w) - 1, 0) AS INT) AS n_bigrams,
         |    CAST(coalesce(btop, 0) AS INT) AS top_bigram_n
         |  FROM toks t
         |  LEFT JOIN tmodal USING (doc_id)
         |  LEFT JOIN bmodal USING (doc_id))
         |SELECT doc_id, n_tokens, top_token_n, n_bigrams, top_bigram_n,
         |  top_token_n * 100 <= n_tokens * 12 AS pass_token,
         |  top_bigram_n * 100 <= n_bigrams * 5 AS pass_bigram,
         |  (top_token_n * 100 <= n_tokens * 12)
         |    AND (top_bigram_n * 100 <= n_bigrams * 5) AS keep
         |FROM j ORDER BY doc_id""".stripMargin,
    // identical deterministic PII injection on both sides; DuckDB's
    // regexp_replace needs the 'g' flag to match Spark's replace-all
    "q69_pii_scrub" ->
      """WITH inj AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' contact doc' ||
        |      CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' call 555-' ||
        |      lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(t,
        |    '\b\d{3}-\d{3}-\d{4}\b')) AS INT) AS n_phones,
        |  regexp_replace(regexp_replace(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS redacted
        |FROM inj ORDER BY doc_id""".stripMargin,
    "q62_quality_filter" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len($toksSql) AS INT) AS n_tokens,
         |    CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS INT)
         |      AS n_word_chars,
         |    CAST(len(list_distinct($toksSql)) AS INT) AS n_distinct
         |  FROM documents)
         |SELECT doc_id, n_tokens, n_word_chars, n_distinct,
         |  n_tokens >= 20 AND n_tokens <= 1000 AS pass_len,
         |  n_word_chars >= n_tokens * 3 AND n_word_chars <= n_tokens * 6
         |    AS pass_mean_len,
         |  n_distinct * 10 >= n_tokens * 3 AS pass_rep,
         |  (n_tokens >= 20 AND n_tokens <= 1000)
         |    AND (n_word_chars >= n_tokens * 3 AND n_word_chars <= n_tokens * 6)
         |    AND (n_distinct * 10 >= n_tokens * 3) AS keep
         |FROM t ORDER BY doc_id""".stripMargin,
    "q58_tfidf_topk" ->
      s"""WITH tf AS (
         |  SELECT doc_id, t.term, count(*) AS tf
         |  FROM documents,
         |    UNNEST($toksSql) AS t(term)
         |  GROUP BY doc_id, t.term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    tf.tf * ((n.n_docs * 1000) // df.df) AS score
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term) AS INT) AS rank
         |  FROM scored)
         |SELECT doc_id, term, tf, df, score, rank FROM ranked
         |WHERE rank <= $TfidfTopK ORDER BY doc_id, rank""".stripMargin,
    "q44b_rolling_fingerprint" ->
      s"""SELECT doc_id, n_chars,
         |  ${rollSql(32)} AS rolling_fp,
         |  ${rollSql(8)} AS rolling_fp_w8
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q38_text_analysis" ->
      s"""WITH t AS (SELECT doc_id, lang, text, $toksSql AS toks
         |  FROM documents)
         |SELECT doc_id, lang,
         |  CAST(length(text) AS INT) AS n_chars_m,
         |  CAST(len(toks) AS INT) AS n_tokens,
         |  CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
         |  CAST(len(list_filter(toks, t -> t IN ('the', 'a'))) AS INT) AS n_stop,
         |  CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS INT) AS sum_token_len,
         |  CASE WHEN len(toks) > 0 THEN
         |    round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks), 4)
         |  END AS avg_token_len,
         |  CASE WHEN len(toks) > 0 THEN
         |    round(CAST(len(list_filter(toks, t -> t IN ('the', 'a'))) AS DOUBLE) / len(toks), 4)
         |  END AS stop_ratio
         |FROM t ORDER BY doc_id""".stripMargin,
    "q41_lang_id" ->
      s"""WITH markers(cand_lang, word) AS (VALUES
         |  ('en','the'), ('en','a'), ('es','el'), ('es','la'),
         |  ('fr','le'), ('fr','et'), ('de','der'), ('de','und'),
         |  ('zh','ma')),
         |tokrows AS (
         |  SELECT doc_id, tok FROM (
         |    SELECT doc_id, unnest($toksSql) AS tok FROM documents)),
         |scored AS (
         |  SELECT doc_id, cand_lang, count(*) AS score
         |  FROM tokrows JOIN markers ON tok = word
         |  GROUP BY doc_id, cand_lang),
         |best AS (
         |  SELECT doc_id, cand_lang, score FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, cand_lang) AS rn
         |    FROM scored) WHERE rn = 1)
         |SELECT d.doc_id, d.lang,
         |  coalesce(b.cand_lang, 'und') AS predicted_lang,
         |  CAST(coalesce(b.score, 0) AS BIGINT) AS score
         |FROM documents d LEFT OUTER JOIN best b ON d.doc_id = b.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q42_quality_score" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    CAST(len(toks) AS INT) AS n_tokens,
         |    CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
         |    CAST(len(list_filter(toks, t -> t IN ('the', 'a'))) AS INT) AS n_stop,
         |    CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS INT) AS sum_token_len
         |  FROM t)
         |SELECT doc_id, n_tokens, n_distinct, n_stop, sum_token_len,
         |  (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 40 ELSE 0 END)
         |  + (CASE WHEN n_distinct * 2 >= n_tokens THEN 30 ELSE 0 END)
         |  + (CASE WHEN n_stop * 10 <= n_tokens * 3 THEN 20 ELSE 0 END)
         |  + (CASE WHEN sum_token_len BETWEEN n_tokens * 3 AND n_tokens * 8
         |     THEN 10 ELSE 0 END) AS quality_score
         |FROM m ORDER BY doc_id""".stripMargin,
    // per-source exact type-1 quantiles by counting over the bounded
    // score domain; same cross-multiplied boundary (cum*100 >= n*q)
    // and the single rounded keep_frac division
    "q93_quality_calibration" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, $toksSql AS toks FROM documents),
         |m AS (
         |  SELECT source,
         |    (CASE WHEN len(toks) BETWEEN 10 AND 1000 THEN 40 ELSE 0 END)
         |    + (CASE WHEN len(list_distinct(toks)) * 2 >= len(toks)
         |       THEN 30 ELSE 0 END)
         |    + (CASE WHEN len(list_filter(toks, t -> t IN ('the', 'a')))
         |       * 10 <= len(toks) * 3 THEN 20 ELSE 0 END)
         |    + (CASE WHEN coalesce(list_sum(list_transform(toks,
         |         t -> length(t))), 0) BETWEEN len(toks) * 3
         |         AND len(toks) * 8 THEN 10 ELSE 0 END) AS q
         |  FROM t),
         |b AS (SELECT source, q, CAST(count(*) AS BIGINT) AS cnt
         |  FROM m GROUP BY 1, 2),
         |c AS (
         |  SELECT source, q, cnt,
         |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY q
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum,
         |    CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT)
         |      AS n_docs,
         |    CAST(sum(CASE WHEN q >= 50 THEN cnt ELSE 0 END)
         |      OVER (PARTITION BY source) AS BIGINT) AS n_keep
         |  FROM b)
         |SELECT source, min(n_docs) AS n_docs,
         |  CAST(min(CASE WHEN cum * 100 >= n_docs * 10 THEN q END)
         |    AS INT) AS p10,
         |  CAST(min(CASE WHEN cum * 100 >= n_docs * 50 THEN q END)
         |    AS INT) AS p50,
         |  CAST(min(CASE WHEN cum * 100 >= n_docs * 90 THEN q END)
         |    AS INT) AS p90,
         |  min(n_keep) AS n_keep,
         |  round(CAST(min(n_keep) AS DOUBLE) / min(n_docs), 4)
         |    AS keep_frac
         |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "q43_token_count" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS INT) AS n_chars_m,
         |  CAST(len($toksSql) AS INT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INT) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q44_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS w,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm_text
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, text, norm_text, w,
        |    CASE WHEN len(w) >= 3 THEN
        |      [concat_ws(' ', w[i+1], w[i+2], w[i+3])
        |       FOR i IN generate_series(0, len(w)-3)]
        |    END AS shingles
        |  FROM t)
        |SELECT doc_id,
        |  md5(text) AS md5_full,
        |  md5(norm_text) AS md5_norm,
        |  list_min(list_transform(shingles, s -> md5(s))) AS fp_min,
        |  list_min(list_transform(shingles, s -> md5('salt:' || s)))
        |    AS fp_min_salted
        |FROM sh ORDER BY doc_id""".stripMargin,
  )
}
