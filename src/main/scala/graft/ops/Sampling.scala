package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling / split operators for training-data pipelines
  * (driver north-star extension family, BASELINE.json: "design every
  * operator for 100 TB scale").
  *
  * Both operators key on a content-stable md5-derived bucket instead of
  * rand(): at 100 TB a split must be (a) reproducible across reruns and
  * engines, (b) stable under repartitioning, (c) a pure per-row map with
  * no global state — a driver-seeded RNG is none of those. The same
  * md5-slice construction backs the MinHash family (Dedup.q36bSig).
  */
object Sampling {
  import Tables._
  import BucketedStore.StoreWriter

  /** Stable per-doc bucket in [0, 100): first 8 hex chars of
    * md5(doc_id) as an integer, mod 100. */
  private[graft] def bucket(id: Column): Column =
    conv(substring(md5(id.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") % 100

  /** Whitespace token count of a text column — ONE definition for
    * every token-denominated operator (packing q64, token mixture
    * q66b, shard balance q97): an audit or budget computed with a
    * drifting copy of the tokenizer measures a different corpus. */
  private[graft] def tokenCount(text: Column): Column =
    size(filter(split(trim(text), "\\s+"), t => t =!= ""))

  /** The 80/10/10 split as a pure row-local function of doc_id — one
    * definition shared by hashSplit and the leakage audit (q96), which
    * needs the split of BOTH ends of a pair without a join. */
  private[graft] def splitOf(id: Column): Column = {
    val b = bucket(id)
    when(b < 80, "train").when(b < 90, "val").otherwise("test")
  }

  /** DuckDB twin of splitOf over an arbitrary id expression (the q59
    * bucket SQL parameterized by column). */
  private[graft] def splitSqlOf(idExpr: String): String = {
    val b = s"(${bucketSqlOf(idExpr)})"
    s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' " +
      "ELSE 'test' END"
  }

  // Train/val/test split 80/10/10 by stable hash bucket: new data lands
  // in the same split on every backfill, and membership is decided
  // row-locally (no shuffle at all before the presentation sort).
  def hashSplit(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), bucket(col("doc_id")).as("bucket"))
      .withColumn("split", splitOf(col("doc_id")))
      .orderBy(col("doc_id"))

  def q59HashSplit(s: SparkSession, d: String): DataFrame =
    hashSplit(documents(s, d))

  private val QuotaPerSource = 20

  // Data-mixing quota: at most K docs per source, selected by the stable
  // hash order (not arrival order, which is nondeterministic at scale).
  // One shuffle on source; the rank window streams each group.
  def sourceQuota(docs: DataFrame, quota: Int = QuotaPerSource): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("bucket"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"), bucket(col("doc_id")).as("bucket"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= quota)
      .select(col("doc_id"), col("source"), col("rn"))
      .orderBy(col("source"), col("rn"))
  }

  def q60SourceQuota(s: SparkSession, d: String): DataFrame =
    sourceQuota(documents(s, d))

  private val StratPct = 10

  // O-68 stratified sample: ceil(pct% of each language stratum), members
  // chosen by the stable hash order. The keep predicate
  // rn*100 <= n_lang*pct + 99 is the exact integer form of
  // rn <= ceil(n_lang*pct/100) — no float division, no engine drift.
  // One shuffle on lang; rank + count windows share that partitioning.
  /** Generic per-stratum proportional sample over any (doc_id, lang)
    * table, deterministic in doc_id. */
  def stratifiedSample(docs: DataFrame, pct: Int = StratPct): DataFrame = {
    val byLang = Window.partitionBy(col("lang"))
    docs
      .select(col("doc_id"), col("lang"), bucket(col("doc_id")).as("bucket"))
      .withColumn("rn",
        row_number().over(byLang.orderBy(col("bucket"), col("doc_id"))))
      .withColumn("n_lang", count(lit(1)).over(byLang))
      .filter(col("rn") * 100 <= col("n_lang") * pct + 99)
      .select(col("doc_id"), col("lang"), col("rn"), col("n_lang"))
      .orderBy(col("lang"), col("rn"))
  }

  def q63StratifiedSample(s: SparkSession, d: String): DataFrame =
    stratifiedSample(documents(s, d))

  private val SeqBudget = 512
  // 32-token windows advancing 24 tokens per chunk (8-token overlap):
  // small enough that the ~40-60-word fixture docs produce multi-chunk
  // output, shaped like the 512/384 you'd run in production.
  private val ChunkWidth = 32
  private val ChunkStride = 24

  // O-69 sequence packing: assign documents to fixed token-budget
  // training sequences, greedily in stable hash order WITHIN each source
  // shard — the packing step of an LLM data pipeline. A doc belongs to
  // the sequence its first token falls in (start_offset DIV budget);
  // (seq_id, offset_in_seq) fully reconstruct the packed layout,
  // boundary-straddling docs included. Packing per source keeps the
  // running sum parallel: one shuffle on source, and the cumulative
  // window streams each group — at 100 TB you pack per shard exactly
  // like this, never with a global cumsum.
  /** Generic per-shard sequence packing over any (doc_id, source, text)
    * table; exact integer token offsets. */
  def sequencePack(docs: DataFrame, budget: Int = SeqBudget): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("bucket"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("source"), bucket(col("doc_id")).as("bucket"),
        tokenCount(col("text"))
          .as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("seq_id", expr(s"(cum - n_tokens) DIV $budget"))
      .withColumn("offset_in_seq",
        col("cum") - col("n_tokens") - col("seq_id") * budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("seq_id"),
        col("offset_in_seq"))
      .orderBy(col("source"), col("seq_id"), col("offset_in_seq"),
        col("doc_id"))
  }

  def q64SequencePack(s: SparkSession, d: String): DataFrame =
    sequencePack(documents(s, d))

  // O-71 data-mixture resampling: resample sources to TARGET weights —
  // the mixture step of an LLM data pipeline ("3 parts src0 to 2 parts
  // src1 to 1 part everything else"). Exact integer construction, no
  // rand(), no floats: with per-source weights w_i (summing to W over
  // the sources present) and counts n_i, the largest feasible mixture
  // is T = min_i(n_i * W DIV w_i) rows, and source i contributes
  // k_i = w_i * T DIV W docs chosen in stable hash order. The counts,
  // W, T, and k_i tables are all at most |sources| rows (W/T/k_i
  // derived driver-side from the one |sources|-row counts collect,
  // re-broadcast as a local relation); the corpus pays exactly one
  // shuffle — the per-source rank window — so the shape is q60's with
  // data-derived quotas.
  /** Generic mixture resampling over any (doc_id, source) table:
    * integer target weights per source (defaultWeight for unlisted
    * sources; weight <= 0 drops the source entirely). */
  def sourceMix(docs: DataFrame, weights: Map[String, Int],
      defaultWeight: Int = 1): DataFrame = {
    val wExpr = weights.foldLeft(lit(defaultWeight)) {
      case (acc, (src, wt)) => when(col("source") === src, wt).otherwise(acc)
    }
    val weighted = docs
      // NULL sources are excluded UP FRONT: they would otherwise take the
      // default weight, participate in W and the mixture cap T, and then
      // silently vanish at the inner quota join (null never equi-joins) —
      // shrinking every real source's quota for rows that can't appear
      .filter(col("source").isNotNull)
      .select(col("doc_id"), col("source"), bucket(col("doc_id")).as("bucket"))
      .withColumn("w", wExpr)
      .filter(col("w") > 0)
    val counts = weighted.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("n"))
    // ONE |sources|-row collect replaces the previous W/T/quota
    // broadcast chain (three additional tiny exchanges and their
    // scheduler rounds — measured as the bulk of this query's fixed
    // cost): broadcast() ships exactly these rows through the driver
    // anyway, so deriving W, T, and the quotas here is the same data
    // movement with fewer stages. Integer arithmetic identical to the
    // previous DIV formulation. The quotas re-enter the plan as a
    // broadcast LOCAL relation — built without a job, O(1) hash
    // probe per row (a literal-map lookup would linear-scan per row
    // at real |sources| cardinality).
    val countRows = counts.collect() // one row per source — bounded
    val wsum = countRows.map(_.getAs[Int]("w").toLong).sum
    val t =
      if (countRows.isEmpty) 0L
      else countRows.map(r =>
        r.getAs[Long]("n") * wsum / r.getAs[Int]("w")).min
    val sess = docs.sparkSession
    import sess.implicits._
    val quota = countRows.toSeq
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("w") * t / wsum))
      .toDF("source", "k")
    val bySource = Window.partitionBy(col("source"))
      .orderBy(col("bucket"), col("doc_id"))
    weighted
      .withColumn("rn", row_number().over(bySource))
      .join(broadcast(quota), "source")
      .filter(col("rn") <= col("k"))
      .select(col("doc_id"), col("source"), col("rn"), col("k"))
      .orderBy(col("source"), col("rn"))
  }

  // Fixture binding: upweight src0 3x and src1 2x against a unit
  // baseline. At sf0.01 (25 docs/source, 20 sources): W=23, T=191,
  // quotas 24/16/8 -> a 184-row mixture at the exact 3:2:1 ratios the
  // integer floors allow.
  def q66SourceMix(s: SparkSession, d: String): DataFrame =
    sourceMix(documents(s, d), Map("src0" -> 3, "src1" -> 2))

  // O-103 token-budget mixture: q66 re-denominated in TOKENS — the unit
  // trainers actually specify mixtures in ("500B tokens at 3:2:1").
  // Doc-count mixing over-represents sources with short documents; here
  // source i's contribution is capped by a token quota
  // q_i = w_i * T DIV W with T = min_i(tok_i * W DIV w_i) the largest
  // total budget every source can serve at its weight, and the source's
  // docs are admitted in stable hash order while their cumulative token
  // count stays within the quota (greedy prefix — the first doc that
  // would cross the boundary ends the source's contribution; a crossing
  // doc is DROPPED, not truncated, because mixture sampling is a row
  // filter — truncation is the chunker's (q78) job). Same exact-integer
  // construction as q66 (no rand(), no floats) and the same scale
  // shape: the per-source token totals are ONE |sources|-row driver
  // collect (W/T/quotas derived driver-side, re-broadcast as a local
  // relation), and the corpus pays exactly one shuffle — the per-source
  // cumulative-sum window (q64's frame) — before the presentation sort.
  /** Generic token-budget mixture over any (doc_id, source, text)
    * table: integer target weights per source (defaultWeight for
    * unlisted sources; weight <= 0 drops the source entirely). */
  def tokenMix(docs: DataFrame, weights: Map[String, Int],
      defaultWeight: Int = 1): DataFrame = {
    val wExpr = weights.foldLeft(lit(defaultWeight)) {
      case (acc, (src, wt)) => when(col("source") === src, wt).otherwise(acc)
    }
    val weighted = docs
      // NULL sources excluded up front for the q66 reason: they would
      // otherwise inflate W and T and then vanish at the quota join
      .filter(col("source").isNotNull)
      .select(col("doc_id"), col("source"),
        bucket(col("doc_id")).as("bucket"),
        tokenCount(col("text"))
          .cast("long").as("n_tok"))
      .withColumn("w", wExpr)
      .filter(col("w") > 0)
    // one row per source — bounded by |sources|, never the corpus
    val countRows = weighted.groupBy(col("source"), col("w"))
      .agg(sum(col("n_tok")).as("tok")).collect()
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
    val cumW = Window.partitionBy(col("source"))
      .orderBy(col("bucket"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weighted
      .withColumn("cum_tok", sum(col("n_tok")).over(cumW))
      .join(broadcast(quota), "source")
      .filter(col("cum_tok") <= col("tok_quota"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("cum_tok"),
        col("tok_quota"))
      .orderBy(col("source"), col("cum_tok"), col("doc_id"))
  }

  def q66bTokenMix(s: SparkSession, d: String): DataFrame =
    tokenMix(documents(s, d), Map("src0" -> 3, "src1" -> 2))

  // O-74 overlapping document chunking: split each document into
  // fixed-width token windows (width W, stride S < W) — the context-
  // window preparation step of a retrieval / long-context pipeline
  // (reference analog: none; this extends the packing family q64 the
  // driver mandates for training-data prep). Chunk starts are the
  // multiples of S; the LAST chunk is the first one whose window
  // reaches the end of the document (so every token is covered exactly
  // once past the overlap, and no degenerate tail chunk is emitted):
  // n_chunks = 1 + ceil(max(n - W, 0) / S), all in exact integer math.
  //
  // Scale: chunking is a pure per-row generator — zero shuffles before
  // the presentation sort; at 100 TB this is a map over the corpus scan
  // whose output feeds the packer (q64) or an embedding stage. The
  // fan-out is bounded (n/S chunks per doc), and the generator is
  // inlined into posexplode for the same InferFiltersFromGenerate
  // reason documented at Dedup.shingleExpr.
  /** Generic overlapping chunker over any (doc_id, text) table: one row
    * per (doc, window) with exact token offsets. */
  def chunkOverlap(docs: DataFrame, width: Int = ChunkWidth,
      stride: Int = ChunkStride): DataFrame = {
    require(stride >= 1 && width >= stride,
      s"need 1 <= stride <= width, got width=$width stride=$stride")
    docs
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        filter(split(trim(col("text")), "\\s+"), t => t =!= "").as("w"))
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"), col("w"), size(col("w")).as("n"),
        expr(s"CASE WHEN size(w) > $width THEN " +
          s"1 + (size(w) - $width + ${stride - 1}) DIV $stride " +
          "ELSE 1 END").cast("int").as("nchunks"))
      .select(col("doc_id"), col("n"),
        posexplode(transform(sequence(lit(0), col("nchunks") - 1),
          s => concat_ws(" ", slice(col("w"), s * stride + 1, lit(width))))))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        (col("pos") * stride).cast("long").as("start_word"),
        least(lit(width), col("n") - col("pos") * stride).cast("long")
          .as("n_words"),
        col("col").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  def q78ChunkOverlap(s: SparkSession, d: String): DataFrame =
    chunkOverlap(documents(s, d))

  // O-90: dataset-card profile — the per-source datasheet row every
  // shipped training mixture publishes (volume, char totals and spread,
  // language diversity, modal language): the governance summary a
  // mixture decision (q66) or quota (q60) is reviewed against.
  // Deterministic modal language: row_number over (count DESC, lang) —
  // a stable engine-exact tie-break, no mode()/arg_max divergence.
  //
  // Scale: the corpus pays ONE partial-aggregated shuffle, keyed
  // (source, lang) — cardinality |sources| x |langs|, tiny at any
  // corpus size; the window and final rollup run over that tiny table.
  // Exact integer totals until the single rounded mean division (the
  // engine-boundary convention documented in NOTES).
  /** Generic per-source profile over any (doc_id, source, lang,
    * n_chars) table. Rows with NULL source or lang are excluded (the
    * card profiles attributable data; both engines apply the same
    * contract). */
  def datasetCard(docs: DataFrame): DataFrame = {
    val perLang = docs
      .filter(col("source").isNotNull && col("lang").isNotNull)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
        min(col("n_chars")).as("minc"), max(col("n_chars")).as("maxc"))
    val top = Window.partitionBy(col("source"))
      .orderBy(col("n").desc, col("lang"))
    perLang
      .withColumn("rn", row_number().over(top))
      .groupBy(col("source"))
      .agg(
        sum(col("n")).as("n_docs"),
        sum(col("chars")).as("total_chars"),
        min(col("minc")).as("min_chars"),
        max(col("maxc")).as("max_chars"),
        count(lit(1)).as("n_langs"),
        max(when(col("rn") === 1, col("lang"))).as("top_lang"),
        max(when(col("rn") === 1, col("n"))).as("top_lang_docs"))
      .withColumn("avg_chars", round(col("total_chars") / col("n_docs"), 4))
      .orderBy(col("source"))
  }

  def q82DatasetCard(s: SparkSession, d: String): DataFrame =
    datasetCard(documents(s, d))

  private[graft] val ShuffleSeed = "shuf1"
  private[graft] val NShards = 8

  // O-98 (q90): deterministic corpus shuffle + shard materialization —
  // the LAST step of a training-data pipeline, after dedup/quality/
  // mix/split: the curated corpus is written as N shards in a
  // pseudo-random global order so a sequential reader sees shuffled
  // data. rand() fails every requirement at 100 TB (irreproducible
  // across reruns/engines, unstable under repartitioning); the order
  // key is the stable seeded md5 the split family already uses —
  // reshuffling for a new epoch is a seed change, not a new mechanism.
  //
  // Scale shape: shard = row-local map on the key's leading bytes (the
  // write's partition column); ONE shuffle keyed shard; the
  // within-shard order is a per-partition sort (sortWithinPartitions
  // at write time, a window here for the declared/oracle form). There
  // is deliberately NO global sort: shard-then-position IS the global
  // shuffle order read shard-by-shard, which is how trainers consume
  // shards — a total-order sort would pay a range-partition sample +
  // skew for an ordering nobody reads across files.
  /** Generic deterministic shuffle over any (doc_id, source) table:
    * (doc_id, source, shard, pos) — shard in [0, nShards), pos = 1-based
    * position in the shard's shuffled order (seeded md5, ties on
    * doc_id). */
  /** The seeded shuffle key and its shard derivation, stated ONCE for
    * both the declared query and the writer (a drifting copy would
    * silently diverge the on-disk order from the declared/oracle
    * order): key = md5("seed:doc_id") hex, shard = the key's leading
    * 8 hex chars mod nShards (the bucket() construction, seeded). */
  private def shuffleKey(seed: String): Column =
    md5(concat_ws(":", lit(seed), col("doc_id").cast("string"))
      .cast("binary"))

  private def shardOf(k: Column, nShards: Int): Column =
    (conv(substring(k, 1, 8), 16, 10).cast("long") % nShards).cast("int")

  def shuffleShards(docs: DataFrame, nShards: Int = NShards,
      seed: String = ShuffleSeed): DataFrame = {
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("k"), col("doc_id"))
    docs.filter(col("doc_id").isNotNull)
      .select(col("doc_id"), col("source"), shuffleKey(seed).as("k"))
      .withColumn("shard", shardOf(col("k"), nShards))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("source"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Materialize the shuffled corpus: one parquet file per shard,
    * rows in shuffled order inside each file (a trainer streams a
    * shard sequentially and sees the seeded pseudo-random order).
    * repartition(nShards, shard) puts each shard dir's rows in one
    * task => one file; the sort is per-partition, never global. */
  def shuffleShardWrite(docs: DataFrame, store: String,
      nShards: Int = NShards, seed: String = ShuffleSeed): Unit = {
    docs.filter(col("doc_id").isNotNull)
      .withColumn("k", shuffleKey(seed))
      .withColumn("shard", shardOf(col("k"), nShards))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("k"), col("doc_id"))
      .drop("k")
      .storeWrite.mode("overwrite").partitionBy("shard").parquet(store)
  }

  def q90ShuffleShards(s: SparkSession, d: String): DataFrame =
    shuffleShards(documents(s, d))

  // O-110 (q97): SHARD-BALANCE audit — the straggler readout on O-98's
  // materialized shards: a data loader pulls shards in parallel, so
  // epoch wall-clock is gated by the HEAVIEST shard, and "heaviest" is
  // measured in TOKENS (step count), not docs. Per shard: docs,
  // tokens, the exact integer token share in ppm, and the load factor
  // vs the ideal 1/N — the number a trainer alerts on (1.0 = perfectly
  // balanced; the max row's value = the epoch slowdown factor).
  //
  // Scale: the shard is the same row-local key map the writer uses
  // (the shared shuffleKey/shardOf definitions — an audit computed
  // with a drifting copy of the shard rule would audit nothing), so
  // the corpus pays ONE partial-agg'd shuffle down to nShards rows;
  // the share/factor windows run single-partition over those nShards
  // rows — a driver-scale fold, the q93/q94 decision-table posture.
  // Integer ppm stays exact while a SHARD holds < 2^63/1e6 ≈ 9.2e12
  // tokens — comfortably true at 100 TB (≈ 2.5e13 corpus tokens) at
  // any production shard count; one final rounded division for the
  // load factor.
  /** Per-shard balance profile over any (doc_id, text) table. */
  def shardBalance(docs: DataFrame, nShards: Int = NShards,
      seed: String = ShuffleSeed): DataFrame = {
    val w = Window.partitionBy()
    docs.filter(col("doc_id").isNotNull)
      .select(shardOf(shuffleKey(seed), nShards).as("shard"),
        tokenCount(col("text"))
          .cast("long").as("t"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"))
      .withColumn("total", sum(col("n_tokens")).over(w))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        expr("(n_tokens * 1000000) DIV total").as("tok_ppm"),
        round(col("n_tokens") * nShards / col("total"), 4)
          .as("load_factor"))
      .orderBy(col("shard"))
  }

  def q97ShardBalance(s: SparkSession, d: String): DataFrame =
    shardBalance(documents(s, d))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q59_hash_split" -> (q59HashSplit _),
    "q60_source_quota" -> (q60SourceQuota _),
    "q63_stratified_sample" -> (q63StratifiedSample _),
    "q64_sequence_pack" -> (q64SequencePack _),
    "q66_source_mix" -> (q66SourceMix _),
    "q66b_token_mix" -> (q66bTokenMix _),
    "q78_chunk_overlap" -> (q78ChunkOverlap _),
    "q82_dataset_card" -> (q82DatasetCard _),
    "q90_shuffle_shards" -> (q90ShuffleShards _),
    "q97_shard_balance" -> (q97ShardBalance _),
  )

  /** The q59 bucket hash over an arbitrary id expression — the ONE
    * SQL twin of `bucket()`; bucketSql and splitSqlOf both derive
    * from it so the split rule cannot drift between oracles. */
  private[graft] def bucketSqlOf(idExpr: String): String =
    s"CAST('0x' || substr(md5(CAST($idExpr AS VARCHAR)), 1, 8) " +
      "AS BIGINT) % 100"

  private val bucketSql = bucketSqlOf("doc_id")

  val oracles: Map[String, String] = Map(
    // Integer mixture twin: same weights, same stable hash order, same
    // floor divisions.
    "q66_source_mix" ->
      s"""WITH b AS (
         |  SELECT doc_id, source, $bucketSql AS bucket,
         |    CASE WHEN source = 'src0' THEN 3
         |         WHEN source = 'src1' THEN 2 ELSE 1 END AS w
         |  FROM documents),
         |counts AS (SELECT source, w, count(*) AS n FROM b GROUP BY 1, 2),
         |ws AS (SELECT CAST(sum(w) AS BIGINT) AS wsum FROM counts),
         |tv AS (SELECT CAST(min(n * wsum // w) AS BIGINT) AS t
         |  FROM counts, ws),
         |ki AS (SELECT source, CAST(w * t // wsum AS BIGINT) AS k
         |  FROM counts, tv, ws),
         |ranked AS (
         |  SELECT doc_id, source,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY bucket, doc_id) AS INT) AS rn
         |  FROM b)
         |SELECT r.doc_id, r.source, r.rn, ki.k
         |FROM ranked r JOIN ki USING (source)
         |WHERE r.rn <= ki.k
         |ORDER BY source, rn""".stripMargin,
    // Token-budget twin: same weights and hash order, quotas and the
    // admission boundary in TOKENS via the q64 cumulative-sum frame.
    "q66b_token_mix" ->
      s"""WITH b AS (
         |  SELECT doc_id, source, $bucketSql AS bucket,
         |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> t != '')) AS BIGINT) AS n_tok,
         |    CASE WHEN source = 'src0' THEN 3
         |         WHEN source = 'src1' THEN 2 ELSE 1 END AS w
         |  FROM documents WHERE source IS NOT NULL),
         |counts AS (SELECT source, w, CAST(sum(n_tok) AS BIGINT) AS tok
         |  FROM b GROUP BY 1, 2),
         |ws AS (SELECT CAST(sum(w) AS BIGINT) AS wsum FROM counts),
         |tv AS (SELECT CAST(min(tok * wsum // w) AS BIGINT) AS t
         |  FROM counts, ws),
         |ki AS (SELECT source, CAST(w * t // wsum AS BIGINT) AS tok_quota
         |  FROM counts, tv, ws),
         |c AS (
         |  SELECT doc_id, source, n_tok,
         |    CAST(sum(n_tok) OVER (PARTITION BY source
         |      ORDER BY bucket, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum_tok
         |  FROM b)
         |SELECT c.doc_id, c.source, c.n_tok, c.cum_tok, ki.tok_quota
         |FROM c JOIN ki USING (source)
         |WHERE c.cum_tok <= ki.tok_quota
         |ORDER BY source, cum_tok, doc_id""".stripMargin,
    "q59_hash_split" ->
      s"""SELECT doc_id, source, $bucketSql AS bucket,
         |  ${splitSqlOf("doc_id")} AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q60_source_quota" ->
      s"""WITH b AS (
         |  SELECT doc_id, source, $bucketSql AS bucket FROM documents),
         |ranked AS (
         |  SELECT doc_id, source,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY bucket, doc_id) AS INT) AS rn
         |  FROM b)
         |SELECT doc_id, source, rn FROM ranked
         |WHERE rn <= $QuotaPerSource ORDER BY source, rn""".stripMargin,
    "q63_stratified_sample" ->
      s"""WITH b AS (
         |  SELECT doc_id, lang, $bucketSql AS bucket FROM documents),
         |ranked AS (
         |  SELECT doc_id, lang,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY bucket, doc_id) AS INT) AS rn,
         |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
         |  FROM b)
         |SELECT doc_id, lang, rn, n_lang FROM ranked
         |WHERE rn * 100 <= n_lang * $StratPct + 99
         |ORDER BY lang, rn""".stripMargin,
    "q64_sequence_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, source, $bucketSql AS bucket,
         |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> t != '')) AS INT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY bucket, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM t)
         |SELECT doc_id, source, n_tokens,
         |  CAST((cum - n_tokens) // $SeqBudget AS BIGINT) AS seq_id,
         |  CAST(cum - n_tokens
         |    - ((cum - n_tokens) // $SeqBudget) * $SeqBudget AS BIGINT)
         |    AS offset_in_seq
         |FROM c ORDER BY source, seq_id, offset_in_seq, doc_id"""
        .stripMargin,
    // Same window arithmetic in DuckDB: chunk starts at multiples of
    // the stride, last chunk = first window reaching the end; list
    // slicing clamps at len(w) exactly like Spark's slice().
    "q78_chunk_overlap" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(trim(text), '\\s+'),
         |      t -> t != '') AS w
         |  FROM documents WHERE doc_id IS NOT NULL),
         |base AS (
         |  SELECT doc_id, w, len(w) AS n,
         |    CASE WHEN len(w) > $ChunkWidth THEN
         |      1 + (len(w) - $ChunkWidth + ${ChunkStride - 1}) // $ChunkStride
         |    ELSE 1 END AS nchunks
         |  FROM toks WHERE len(w) >= 1),
         |ch AS (
         |  SELECT doc_id, CAST(s AS INT) AS chunk_idx,
         |    CAST(s * $ChunkStride AS BIGINT) AS start_word,
         |    CAST(least($ChunkWidth, n - s * $ChunkStride) AS BIGINT)
         |      AS n_words,
         |    array_to_string(
         |      w[s*$ChunkStride+1 : s*$ChunkStride+$ChunkWidth], ' ')
         |      AS chunk_text
         |  FROM base, UNNEST(generate_series(0, nchunks - 1)) AS t(s))
         |SELECT doc_id, chunk_idx, start_word, n_words, chunk_text
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    // same (source, lang) pre-aggregation, row_number modal tie-break,
    // and exact-integer-until-one-rounded-division mean
    "q82_dataset_card" ->
      """WITH pl AS (
        |  SELECT source, lang, count(*) AS n,
        |    CAST(sum(n_chars) AS BIGINT) AS chars,
        |    CAST(min(n_chars) AS BIGINT) AS minc,
        |    CAST(max(n_chars) AS BIGINT) AS maxc
        |  FROM documents
        |  WHERE source IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY source ORDER BY n DESC, lang) AS rn
        |  FROM pl)
        |SELECT source,
        |  CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(sum(chars) AS BIGINT) AS total_chars,
        |  CAST(min(minc) AS BIGINT) AS min_chars,
        |  CAST(max(maxc) AS BIGINT) AS max_chars,
        |  count(*) AS n_langs,
        |  max(CASE WHEN rn = 1 THEN lang END) AS top_lang,
        |  CAST(max(CASE WHEN rn = 1 THEN n END) AS BIGINT)
        |    AS top_lang_docs,
        |  round(CAST(sum(chars) AS DOUBLE) / sum(n), 4) AS avg_chars
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    // q90: seeded md5 shuffle key; shard from the key's leading 8 hex
    // chars (the bucketSql construction), pos = within-shard rank
    "q90_shuffle_shards" ->
      s"""WITH keyed AS (
         |  SELECT doc_id, source,
         |    md5('$ShuffleSeed:' || CAST(doc_id AS VARCHAR)) AS k
         |  FROM documents WHERE doc_id IS NOT NULL),
         |sharded AS (
         |  SELECT doc_id, source, k,
         |    CAST(CAST('0x' || substr(k, 1, 8) AS BIGINT) % $NShards
         |      AS INT) AS shard
         |  FROM keyed)
         |SELECT doc_id, source, shard,
         |  CAST(row_number() OVER (
         |    PARTITION BY shard ORDER BY k, doc_id) AS INT) AS pos
         |FROM sharded ORDER BY shard, pos""".stripMargin,
    // same seeded shard rule as q90, folded to the nShards-row balance
    // table: exact integer ppm, one rounded division for load_factor
    "q97_shard_balance" ->
      s"""WITH t AS (
         |  SELECT CAST(CAST('0x' || substr(
         |      md5('$ShuffleSeed:' || CAST(doc_id AS VARCHAR)), 1, 8)
         |      AS BIGINT) % $NShards AS INT) AS shard,
         |    CAST(len(list_filter(str_split_regex(trim(text), '\\s+'),
         |      t -> t != '')) AS BIGINT) AS tok
         |  FROM documents WHERE doc_id IS NOT NULL),
         |g AS (
         |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(tok) AS BIGINT) AS n_tokens
         |  FROM t GROUP BY shard)
         |SELECT shard, n_docs, n_tokens,
         |  CAST((n_tokens * 1000000) // (sum(n_tokens) OVER ())
         |    AS BIGINT) AS tok_ppm,
         |  round(n_tokens * $NShards / (sum(n_tokens) OVER ()), 4)
         |    AS load_factor
         |FROM g ORDER BY shard""".stripMargin,
  )
}
