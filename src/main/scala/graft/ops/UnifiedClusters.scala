package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Multimodal
import graft.functions.Multimodal.BandScheme
import graft.util.Span

/** O-127 (q61d): INCREMENTAL maintenance of the unified multi-signal
  * cluster table — the q89/s15 standing-store cadence applied to the
  * q61c deliverable (VERDICT r12, next-round #1).
  *
  * q61c resolves ONE cluster table over the union of all five pair
  * families (exact shingle Jaccard, SimHash, embedding sign-LSH,
  * image aHash, audio ehash) but recomputes every family's pair join
  * and the full
  * connected-components pass per run; at a daily 100 TB cadence the
  * multi-signal cluster table is exactly the artifact a curation team
  * wants maintained in O(new edges). This store closes that: each
  * family persists the admission-index layout it already uses
  * elsewhere (the q85 band-row / q36 inverted-shingle shapes), an
  * arriving batch derives its new edges per family through that
  * family's PRUNED index join, and one family-agnostic
  * touched-component relabel ([[Dedup.relabelAgainst]] — shared with
  * the MinHash store, one definition) folds them into the standing
  * label table. Edges persist WITH their family column, so the q61c
  * provenance rollup (which signal welded each cluster) is a
  * label-join + partial-agg'd groupBy over the edge table — no
  * signature pipeline reruns.
  *
  * Store layout (all tables hash-bucketed into 64 `kb` partitions;
  * schema'd readers keep EMPTY tables readable — the
  * clusterLabelsTable reasoning):
  *   - `shingle/`   (doc_id, c, h, kb=pmod(h, 64)) — the exact-Jaccard
  *     family's inverted index; `c` is the doc's distinct-shingle
  *     count, carried row-locally so the merge's Jaccard denominator
  *     needs no second aggregate ([[Dedup.hashedShinglesWithCount]]).
  *   - `simhash/`, `img_ahash/`, `ehash/` — [[Multimodal.sigIndexWrite]]'s
  *     band rows (doc_id, sig, band, ckey, kb) under each family's
  *     scheme (ehash — the audio family — joined round 14: the r13
  *     verdict's missing #1, an audio-only duplicate signal could not
  *     weld clusters even though q45i resolves the family's own
  *     clusters).
  *   - `emb_lsh/`   (vec_id, band, bkey, kb) — the q36f band rows
  *     ([[Similarity.lshBandRows]]) WITHOUT the quantized vector
  *     (layout v2, round 14 — verdict r13 #3: carrying qe on every
  *     band row weighed ~nBands x the embedding table, the only
  *     family whose bytes/doc multiplied the corpus; at 100 TB that
  *     is a second copy of the embedding corpus, not a side index).
  *   - `emb_vec/`   (vec_id, qe, kv=pmod(vec_id, 64)) — ONE quantized
  *     vector per vec_id, co-bucketed by id; the cross-merge verify
  *     joins it AFTER band-key collision (candidate volume is
  *     pair-bounded, and the read is kv-pruned to the candidates'
  *     buckets), so verify economics survive without the multiplier.
  *   - `edges/`     (doc_a, doc_b, family) — the unified edge set.
  *   - `clusters/`  (doc_id, cluster_id, cluster_size, is_canonical,
  *     kb=pmod(doc_id, 64)) — the label table; incremental updates
  *     rewrite only dirty buckets (dynamic partition overwrite, the
  *     q89 idiom).
  *
  * Scale shape: batch index rows are materialized once per family and
  * feed both the <= 64-bucket prune collect and the verify joins; the
  * standing index reads are partition-pruned to the batch's buckets
  * (the q83/q85 static-IN argument — the shingle family's batch
  * typically touches all 64, which is the honest exact-family cost,
  * still O(batch shingles) join work against a co-located layout);
  * every verify (Jaccard ratio, popcount, quantized dot) runs inside
  * its band/hash join; the relabel's CC sees only new + touched
  * edges. Nothing rescans corpus text, pixels, or float vectors.
  *
  * Crash posture: the build, update, retraction and compaction commit
  * through the store's log ([[StoreLog]]): the index writes, the edges
  * and the dirty label buckets of one mutation land in one entry, so
  * labels = CC(edges) holds at every version a reader can see.
  *
  * Ref intended semantics: continuous point upserts into standing
  * series, rg.py:43-50 — re-expressed as standing-index maintenance.
  */
object UnifiedClusters {
  import BucketedStore.{StoreWriter, writeBucketed}
  import Dedup.materializeBounded

  private[graft] val SimScheme = BandScheme(Dedup.SimChunks, 15, 8)

  /** Submit INDEPENDENT Spark jobs concurrently (SparkSession job
    * submission is thread-safe; local[32] has the slack). The store's
    * build and merge are dominated at bench scale by serialized
    * job-submission rounds — five family pipelines and five bucketed
    * table writes with no data dependency between them — and the same
    * structure holds on a cluster, where each write is a barrier the
    * others need not wait behind. ALL tasks run to completion before
    * a failure rethrows (round-13 ADVICE: Future.sequence fails fast,
    * letting sibling append jobs land AFTER the caller unwound — the
    * crash-window analysis assumes the store is quiescent at
    * exception time, so the await must be unconditional). */
  private[graft] def inParallel[A](tasks: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ParallelEc
    // Propagate the calling thread's job group/description/pool into
    // the pool threads (round-18 ADVICE): these are thread-local, so
    // jobs submitted from the shared pool otherwise lose them —
    // StreamingQuery.stop() could no longer cancel in-flight append
    // jobs for its query, and UI attribution of the appends was lost.
    // All four keys are copied on EVERY call, unset ones as null
    // (setLocalProperty(k, null) removes k): the pool threads are
    // shared, and Spark's local properties are inheritable, so a pool
    // thread created during a tagged wave starts with that wave's tag —
    // only an unconditional copy keeps an earlier wave's group from
    // leaking into a later one. The default session covers callers
    // with no active session (a fresh thread).
    val callerProps = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext).map { sc =>
        val keys = Seq("spark.jobGroup.id", "spark.job.description",
          "spark.job.interruptOnCancel", "spark.scheduler.pool")
        (sc, keys.map(k => k -> sc.getLocalProperty(k)))
      }
    def withProps[B](body: () => B): B = {
      callerProps.foreach { case (sc, props) =>
        props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      }
      body()
    }
    val done = Await.result(
      Future.sequence(tasks.map(t => Future(scala.util.Try(withProps(t))))),
      Duration.Inf)
    // rethrow the first failure with any sibling failures attached as
    // suppressed (round-14 ADVICE: collectFirst-throw discarded them
    // and threw from inside a partial function)
    val failures = done.collect { case scala.util.Failure(e) => e }
    failures.headOption.foreach { first =>
      failures.drop(1).foreach(first.addSuppressed)
      throw first
    }
    done.map(_.get)
  }
  // 8 threads (round 18, was 6): the update path's widest wave is now
  // 7 mutually independent writes (label staging + five family index
  // appends + emb_vec), and a narrower pool ran them as two waves —
  // the second wave's jobs idled behind the first's stragglers. One
  // wave lets the scheduler interleave them; same posture on a
  // cluster (guide §2.6 back-fill). Sized for ONE merge/stream at a
  // time (the bench geometry) — two concurrent streams sharing this
  // static pool serialize across it, a documented round-17 caveat.
  private lazy val ParallelEc =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8,
        (r: Runnable) => {
          val t = new Thread(r, "graft-uni-store")
          t.setDaemon(true)
          t
        }))

  // ---- table layouts (schema'd: empty-partitioned-write safe; read
  // through the store's log) ------------------------------------------
  private def sigIndex(table: String, sigCol: String) = StoreLog.Layout(
    table, Multimodal.sigStoreSchema(sigCol), Some("kb"), Seq("band", "ckey"))
  /** The six index tables, in [[batchRowsOf]]'s order; each table's
    * first column is the id a retraction deletes by. */
  private val Indices = Seq(
    StoreLog.Layout("shingle", "doc_id BIGINT, c BIGINT, h BIGINT, kb INT",
      Some("kb"), Seq("h")),
    sigIndex("simhash", "simhash"),
    StoreLog.Layout("emb_lsh", "vec_id BIGINT, band INT, bkey BIGINT, kb INT",
      Some("kb"), Seq("band", "bkey")),
    sigIndex("img_ahash", "ahash"),
    sigIndex("ehash", "ehash"),
    StoreLog.Layout("emb_vec", "vec_id BIGINT, qe ARRAY<BIGINT>, kv INT",
      Some("kv"), Seq("vec_id")))
  private[graft] val Index = Indices.map(l => l.table -> l).toMap
  // the edge table's in-file order: an edges file's bytes (and so the
  // store's size) are a function of its rows, not of the order a
  // shuffle fetched them in; a micro-batch's new edges land as one file
  private[graft] val Edges = StoreLog.Layout("edges",
    "doc_a BIGINT, doc_b BIGINT, family STRING", None,
    Seq("doc_a", "doc_b", "family"))
  private def edges(v: StoreLog.Version): DataFrame = v.read(Edges)
  /** The edge table of the store's newest version. */
  private[graft] def edgesTable(s: SparkSession, store: String): DataFrame =
    edges(openUnifiedStore(s, store))

  // ---- per-family index rows (batch and build share these) ---------
  /** Shingle index rows with the 64-way h-hash bucket. */
  private[graft] def shingleRowsOf(docs: DataFrame): DataFrame =
    Dedup.hashedShinglesWithCount(docs)
      .withColumn("kb", pmod(col("h"), lit(64)).cast("int"))

  /** LSH index rows with the 64-way (band, bkey) bucket. The
    * IN-MEMORY batch/build rows still carry the quantized vector
    * (they feed the self-pair verify and the emb_vec append without a
    * second quantize pass); only the PERSISTED band table is slimmed
    * to (vec_id, band, bkey, kb) — layout v2, round 14. */
  private[graft] def lshRowsOf(emb: DataFrame): DataFrame =
    Similarity.lshBandRows(emb.filter(col("vec_id").isNotNull))
      .withColumn("kb",
        pmod(xxhash64(col("band"), col("bkey")), lit(64)).cast("int"))

  /** One (vec_id, qe, kv) row per vector, derived from materialized
    * band rows (no re-read of the raw float table): the emb_vec side
    * table's rows, co-bucketed by pmod(vec_id, 64). */
  private[graft] def vecRowsOf(lshRows: DataFrame): DataFrame =
    lshRows.groupBy(col("vec_id")).agg(first(col("qe")).as("qe"))
      .withColumn("kv", pmod(col("vec_id"), lit(64)).cast("int"))

  /** Sig-family band rows with their kb bucket: the layout of the
    * unified store's sig tables and of [[Multimodal.sigIndexWrite]]. */
  private[graft] def sigRowsOf(sigs: DataFrame, sigCol: String,
      scheme: BandScheme): DataFrame =
    Dedup.bandChunkRows(sigs.filter(col("doc_id").isNotNull), sigCol,
        scheme.nBands, scheme.bits)
      .withColumnRenamed("chunk", "band")
      .withColumn("kb",
        pmod(xxhash64(col("band"), col("ckey")), lit(64)).cast("int"))

  // ---- pair rules over index rows (self-join at build time,
  //      cross + intra at merge time — ONE rule per family) ----------
  /** The per-family id guard: SELF pair sets (build-time corpus,
    * intra-batch) restrict to x.id < y.id so each unordered pair is
    * produced ONCE; CROSS sets (batch vs standing index) can meet in
    * either orientation, so the guard is only the no-self-pair rule
    * (a re-ingest under the same id is not an edge) and least/
    * greatest + DISTINCT canonicalize. */
  private def idGuard(self: Boolean, xid: String, yid: String) =
    if (self) col(xid) < col(yid) else col(xid) =!= col(yid)

  /** Exact-Jaccard >= 0.5 pairs between two shingle index tables.
    * CROSS sets count the intersection as a DISTINCT-h count, not a
    * row count (round-13 review finding): the standing index is
    * append-replayed under the at-least-once posture, and a
    * row-counted `inter` over duplicated rows inflates while the
    * carried n_a/n_b stay true — enough to push a sub-threshold pair
    * over 0.5 and weld clusters PERMANENTLY (edges are persisted;
    * compaction reclaims duplicate index rows but never wrong edges).
    * With distinct-h the verify is exact over ANY duplication,
    * restoring the family's "duplicates are merely unreclaimed
    * bytes" contract.
    *
    * SELF sets (round 17) count rows: both sides are the same
    * freshly-computed materialization, whose (doc_id, h) rows are
    * distinct by construction (hashedShingleExpr array_distincts the
    * per-doc hash array before the explode — never a replayed store
    * read), so each shared h contributes exactly one join row and
    * count == distinct-count. The distinct aggregate costs a second
    * aggregation level over the join output (the merge profile's
    * largest intermediate: ~1.2M rows at sf0.1, hashed on a 5-column
    * key before the group-key exchange) — a plain count drops that
    * level, and the groupBy already emits one row per (a, b), so the
    * trailing canonicalize-DISTINCT is also a no-op for self sets
    * (x.doc_id < y.doc_id fixes the orientation). */
  /** CONTRACT (`freshSelf`, round-18 ADVICE): `freshSelf = true`
    * asserts BOTH sides are the same freshly-computed materialization
    * whose (doc_id, h) rows are distinct by construction — NEVER a
    * store-read index table, whose at-least-once replayed rows would
    * inflate the row-counted `inter` and weld clusters permanently.
    * Every current true-caller passes `batchRowsOf`/`build.rows`
    * materializations; a new caller over store rows must pass false
    * (or dedup its input first). */
  private[graft] def shinglePairs(freshSelf: Boolean,
      dedup: Boolean = true)(x: DataFrame,
      y: DataFrame): DataFrame = {
    val self = freshSelf
    val grouped = x.as("x").hint("shuffle_hash")
      .join(y.as("y").hint("shuffle_hash"), col("x.h") === col("y.h"))
      .filter(idGuard(self, "x.doc_id", "y.doc_id"))
      // PPJoin SIZE filter (round 17, lossless at this function's
      // baked-in t = 0.5): inter <= min(|A|,|B|) and union >= max, so
      // J <= min/max — a pair with max > 2*min can never pass the
      // post-aggregation Jaccard filter. Both sizes ride every row
      // (the carried c), so the prune runs INSIDE the join and cuts
      // the rows the million-group aggregation below has to hash.
      .filter(greatest(col("x.c"), col("y.c"))
        <= lit(2) * least(col("x.c"), col("y.c")))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.c").as("n_a"), col("y.c").as("n_b"))
      .agg((if (self) count(lit(1)) else countDistinct(col("x.h")))
        .as("inter"))
      .filter(col("inter") / (col("n_a") + col("n_b") - col("inter"))
        >= 0.5)
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"))
    if (self || !dedup) grouped else grouped.distinct()
  }

  /** Banded-hamming pairs between two sig-family band tables (the
    * [[Dedup.bandedHammingPairs]] rule over stored rows).
    * `dedup = false` skips the trailing DISTINCT when the caller's
    * own outer DISTINCT subsumes it (the merge path's cross ∪ self
    * union — round 17; multi-band collisions duplicate pairs, so the
    * dedup must happen somewhere, just not twice). */
  private[graft] def sigPairs(sigCol: String, scheme: BandScheme,
      self: Boolean, dedup: Boolean = true)(x: DataFrame,
      y: DataFrame): DataFrame = {
    val pairs = x.as("x").hint("shuffle_hash")
      .join(y.as("y").hint("shuffle_hash"),
        col("x.band") === col("y.band") &&
          col("x.ckey") === col("y.ckey"))
      .filter(idGuard(self, "x.doc_id", "y.doc_id"))
      .filter(expr(s"bit_count(x.$sigCol ^ y.$sigCol)")
        <= scheme.maxHamming)
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
    if (dedup) pairs.distinct() else pairs
  }

  /** Sign-LSH band-collision pairs with the quantized-dot verify
    * INSIDE the join — both sides IN-MEMORY band rows carrying qe
    * (build-time corpus self pairs and intra-batch self pairs).
    * `dedup` as in [[sigPairs]]. */
  private[graft] def lshSelfPairs(x: DataFrame,
      dedup: Boolean = true): DataFrame = {
    val pairs = x.as("x").hint("shuffle_hash")
      .join(x.as("y").hint("shuffle_hash"),
        col("x.band") === col("y.band") &&
          col("x.bkey") === col("y.bkey"))
      .filter(idGuard(self = true, "x.vec_id", "y.vec_id"))
      .filter(graft.functions.LongArrayDot(col("x.qe"), col("y.qe"))
        >= Similarity.NdMinDot)
      .select(least(col("x.vec_id"), col("y.vec_id")).as("doc_a"),
        greatest(col("x.vec_id"), col("y.vec_id")).as("doc_b"))
    if (dedup) pairs.distinct() else pairs
  }

  /** The CANDIDATE id pairs of the batch-vs-standing sign-LSH cross:
    * band-key collisions only, no vector columns — the slimmed
    * layout's band rows carry nothing to verify with, and that is the
    * point (round 14, verdict r13 #3: carrying qe on every band row
    * made the standing index weigh ~nBands x the embedding table, the
    * only store family whose bytes/doc multiplied the corpus).
    * Exposed for the plan-shape pin: the kb partition filter on the
    * standing band read lives HERE (the verify stage materializes
    * this set, which hides the pruned scan from the final tree). */
  private[graft] def lshCrossCandidates(prunedIdx: DataFrame,
      batch: DataFrame): DataFrame =
    prunedIdx.as("x").hint("shuffle_hash")
      .join(batch.as("y").hint("shuffle_hash"),
        col("x.band") === col("y.band") &&
          col("x.bkey") === col("y.bkey"))
      .filter(idGuard(self = false, "x.vec_id", "y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()

  /** Verified cross pairs under layout v2: the collision-bounded
    * candidate set (materialized once — it seeds both the kv-bucket
    * prune collect and the verify join), the standing side's vectors
    * from ONE kv-pruned read of the emb_vec side table, the batch
    * side's from its MATERIALIZED vec map (`batchVec` — shared with
    * the update's emb_vec append, so the groupBy runs once per
    * merge; review finding), and the same NdMinDot dot verify — now
    * over O(candidates) rows instead of riding every band row. */
  private[graft] def lshCrossPairs(v: StoreLog.Version,
      prunedIdx: DataFrame, batch: DataFrame,
      batchVec: DataFrame, dedup: Boolean = true): DataFrame = {
    // the candidates' kv bucket set rides the materialization job as
    // an observed collect_set (round 17) — the separate distinct+
    // collect job this used to run per merge is folded away
    val (cand, kvs) = Dedup.materializeWithKeys(
      lshCrossCandidates(prunedIdx, batch)
        .withColumn("kv", pmod(col("a"), lit(64)).cast("int")), "kv")
    val vecsA = v.read(Index("emb_vec"), Some(kvs))
      .select(col("vec_id").as("a"), col("qe").as("qe_a"))
    val vecsB = batchVec
      .select(col("vec_id").as("b"), col("qe").as("qe_b"))
    val pairs = cand.join(vecsA, Seq("a")).join(vecsB, Seq("b"))
      .filter(graft.functions.LongArrayDot(col("qe_a"), col("qe_b"))
        >= Similarity.NdMinDot)
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"))
    if (dedup) pairs.distinct() else pairs
  }

  private def famLit(df: DataFrame, family: String): DataFrame =
    df.select(col("doc_a"), col("doc_b"), lit(family).as("family"))

  /** Build the standing unified store from a corpus slice: the five
    * family indices, the provenance-carrying edge set, and the
    * resolved cluster table. Each family's index rows are
    * materialized ONCE and feed BOTH the bucketed write and the
    * build-time self pair join (the neardupClusterStoreWrite
    * one-signature-pass argument, without re-reading the tables the
    * same rows were just written to — the read-back variant paid
    * per-family extra scan+shuffle rounds per build, measured as the bulk
    * of q61d's fixed cost); CC likewise runs over the same
    * materialized edge set the edge table is written from. */
  def unifiedClusterStoreWrite(docs: DataFrame, emb: DataFrame,
      imgSigs: DataFrame, audSigs: DataFrame, store: String): Unit =
      StoreLog.build(docs.sparkSession, store) {
    val s = docs.sparkSession
    val Seq(sh, sim, lsh, img, aud) = Span(s, "uni.build.rows")(inParallel(Seq(
      () => Span(s, "uni.build.rows.shingle")(
        materializeBounded(shingleRowsOf(docs))),
      () => Span(s, "uni.build.rows.simhash")(materializeBounded(
        sigRowsOf(Dedup.simhashSigs(docs), "simhash", SimScheme))),
      () => Span(s, "uni.build.rows.lsh")(materializeBounded(lshRowsOf(emb))),
      () => Span(s, "uni.build.rows.img")(materializeBounded(
        sigRowsOf(imgSigs, "ahash", Multimodal.AhashScheme))),
      () => Span(s, "uni.build.rows.aud")(materializeBounded(
        sigRowsOf(audSigs, "ehash", Multimodal.EhashScheme))))))
    Span(s, "uni.build.writes")(inParallel(
      Indices.zip(Seq(sh, sim, lsh, img, aud, vecRowsOf(lsh))).map {
        case (l, rows) => () => writeBucketed(rows.select(l.cols.map(col): _*),
          s"$store/${l.table}", "overwrite", l.bucketCol.get, l.ordCols)
      }))
    val fams = Span(s, "uni.build.fams")(materializeBounded(
      famLit(shinglePairs(freshSelf = true)(sh, sh), "shingle")
        .unionByName(famLit(
          sigPairs("simhash", SimScheme, self = true)(sim, sim),
          "simhash"))
        .unionByName(famLit(lshSelfPairs(lsh), "emb_lsh"))
        .unionByName(famLit(sigPairs("ahash", Multimodal.AhashScheme,
          self = true)(img, img), "img_ahash"))
        .unionByName(famLit(sigPairs("ehash", Multimodal.EhashScheme,
          self = true)(aud, aud), "ehash"))))
    Span(s, "uni.build.edges_write")(
      fams.sortWithinPartitions(Edges.ordCols.map(col): _*)
        .storeWrite.mode("overwrite").parquet(s"$store/edges"))
    Span(s, "uni.build.cc_clusters")(writeBucketed(
      Dedup.connectedComponents(
        fams.select(col("doc_a"), col("doc_b")).distinct())
        .withColumn("kb", Dedup.clusterBucket(col("doc_id"))),
      s"$store/clusters", "overwrite", "kb", Seq("cluster_id", "doc_id")))
  }

  /** The store's committed version; fails with the layout's own
    * vocabulary when `store` was never built. */
  private def openUnifiedStore(s: SparkSession, store: String) =
    StoreLog.open(s, store, "unified cluster store", "unifiedClusterStoreWrite")

  /** The five family branches of the batch's new verified edges, each
    * family's pruned cross join against its standing index plus its
    * intra-batch self pair set, provenance-tagged; one thunk
    * per family (round 18): each branch is a self-contained
    * provenance-tagged pair plan (its own cross ∪ intra DISTINCT), so
    * the merge can materialize the branches as CONCURRENT jobs —
    * guide §2.6 — instead of one fused 50-exchange plan whose AQE
    * stage-by-stage replanning serializes on the driver. The fused
    * union ([[unifiedMergeNewEdgesPlan]]) remains the plan-shape pin's
    * probe; both forms compute the identical row set. */
  private[graft] def unifiedNewEdgesFamilies(v: StoreLog.Version,
      batchSh: DataFrame, batchSim: DataFrame,
      batchLsh: DataFrame, batchImg: DataFrame, batchAud: DataFrame,
      batchVec: DataFrame, keys: Map[String, Seq[Int]])
      : Seq[(String, () => DataFrame)] = {
    // DISTINCT over cross ∪ intra: the two sides are disjoint except
    // when a batch re-ingests an id the store already indexes, where a
    // pair could otherwise surface on both sides and double its
    // provenance count (edge-bounded, cheap insurance)
    // a family whose batch rows are EMPTY (keys(fam) collected no
    // buckets) contributes nothing — fold it to a LocalRelation
    // instead of scheduling its cross/self join stages. This is what
    // keeps an attachment-only micro-batch (s22's late-attachment
    // stream) from paying the three text families' empty-join rounds.
    def noEdges = batchSh.sparkSession.emptyDataFrame
      .select(lit(0L).as("doc_a"), lit(0L).as("doc_b"))
    // per-branch canonicalize-DISTINCTs inside the rules are skipped
    // (dedup = false) — each family's one cross ∪ intra DISTINCT
    // subsumes them (round 17: two exchanges+aggs per family removed
    // from the merge's hot plan; the build path keeps its per-rule
    // dedup so stored edge bytes are unchanged)
    // each family's standing index, listed and read only in its batch's
    // buckets (a <= 64-int static IN, the q83 convention); each family's
    // bucket set rides its batch-row materialization (batchRowsOf)
    def index(fam: String): DataFrame = v.read(Index(fam), Some(keys(fam)))
    def cross(batch: DataFrame, fam: String,
        rule: Boolean => (DataFrame, DataFrame) => DataFrame): DataFrame =
      if (keys(fam).isEmpty) noEdges
      else rule(false)(index(fam), batch)
        .unionByName(rule(true)(batch, batch))
        .distinct()
    Seq(
      ("shingle", () => famLit(cross(batchSh, "shingle",
        self => shinglePairs(self, dedup = false)), "shingle")),
      ("simhash", () => famLit(cross(batchSim, "simhash",
        self => sigPairs("simhash", SimScheme, self, dedup = false)),
        "simhash")),
      ("emb_lsh", () => famLit(
        if (keys("emb_lsh").isEmpty) noEdges
        else lshCrossPairs(v, index("emb_lsh"),
            batchLsh, batchVec, dedup = false)
          .unionByName(lshSelfPairs(batchLsh, dedup = false))
          .distinct(), "emb_lsh")),
      ("img_ahash", () => famLit(cross(batchImg, "img_ahash",
        self => sigPairs("ahash", Multimodal.AhashScheme, self,
          dedup = false)), "img_ahash")),
      ("ehash", () => famLit(cross(batchAud, "ehash",
        self => sigPairs("ehash", Multimodal.EhashScheme, self,
          dedup = false)), "ehash")))
  }

  /** The batch's new verified edges MATERIALIZED per family as
    * concurrent jobs (round 18, §2.6): the five branches are mutually
    * independent (disjoint index tables, pre-materialized batch
    * leaves), and the fused single-job form left the driver
    * serializing ~50 AQE stage replans while most branches are
    * scheduler-floor-sized — measured per family at sf0.1:
    * shingle 3.0 s + simhash 1.75 + lsh 1.5 + img 0.66 + aud 0.5
    * serial vs ~max(family) concurrent. Empty families (no collected
    * buckets) skip their job entirely. Row set identical to
    * [[unifiedMergeNewEdgesPlan]]; each branch thunk is built INSIDE its
    * task so the emb_lsh branch's eager candidate materialization
    * (see lshCrossCandidates) overlaps the other families too. */
  private[graft] def unifiedNewEdgesConcurrent(v: StoreLog.Version,
      batchSh: DataFrame, batchSim: DataFrame,
      batchLsh: DataFrame, batchImg: DataFrame, batchAud: DataFrame,
      batchVec: DataFrame, keys: Map[String, Seq[Int]]): DataFrame = {
    val fams = unifiedNewEdgesFamilies(v, batchSh, batchSim,
      batchLsh, batchImg, batchAud, batchVec, keys)
    val nonEmpty = fams.filter { case (fam, _) => keys(fam).nonEmpty }
    if (nonEmpty.isEmpty)
      // schema-correct empty set (zero rows; the tag never surfaces)
      return famLit(batchSh.sparkSession.emptyDataFrame
        .select(lit(0L).as("doc_a"), lit(0L).as("doc_b")), "shingle")
    inParallel(nonEmpty.map { case (_, thunk) =>
      () => materializeBounded(thunk())
    }).reduce(_ unionByName _)
  }

  /** The five families' MATERIALIZED batch index rows (each feeds the
    * pruned index joins and the persisting append — one signature/
    * decode pass per family per merge), WITH each family's touched
    * bucket set observed during its own materialization job (round
    * 17, the materializeWithKeys shape — the separate five-way-union
    * bucket collect job is folded away), plus the batch vec map and its
    * kv bucket set (ditto), keyed by index table name. */
  private[graft] def batchRowsOf(batchDocs: DataFrame, batchEmb: DataFrame,
      batchImgSigs: DataFrame, batchAudSigs: DataFrame)
      : (Seq[DataFrame], Map[String, Seq[Int]]) = {
    val five = inParallel[(DataFrame, Seq[Int])](Seq(
      () => Dedup.materializeWithKeys(shingleRowsOf(batchDocs), "kb"),
      () => Dedup.materializeWithKeys(
        sigRowsOf(Dedup.simhashSigs(batchDocs), "simhash", SimScheme),
        "kb"),
      () => Dedup.materializeWithKeys(lshRowsOf(batchEmb), "kb"),
      () => Dedup.materializeWithKeys(
        sigRowsOf(batchImgSigs, "ahash", Multimodal.AhashScheme), "kb"),
      () => Dedup.materializeWithKeys(
        sigRowsOf(batchAudSigs, "ehash", Multimodal.EhashScheme), "kb")))
    // the batch vec map rides as the sixth frame: BOTH consumers (the
    // cross verify's vecsB and the update's emb_vec append) read the
    // same materialization — one groupBy per merge (review finding)
    val (vec, kvKeys) = Dedup.materializeWithKeys(
      vecRowsOf(five(2)._1), "kv")
    val keys = Map(
      "shingle" -> five(0)._2, "simhash" -> five(1)._2,
      "emb_lsh" -> five(2)._2, "img_ahash" -> five(3)._2,
      "ehash" -> five(4)._2, "emb_vec" -> kvKeys).withDefaultValue(Seq.empty)
    (five.map(_._1) :+ vec, keys)
  }

  /** The batch's new-edges plan from raw batch inputs — the
    * plan-shape pin's probe (the clusterMergeNewEdgesPlan convention:
    * the merge itself materializes this before CC, which hides the
    * pruned-scan shape from the final declared tree). NOTE (round-14
    * ADVICE): under layout v2 the emb_lsh branch is NOT fully lazy —
    * lshCrossPairs eagerly materializes the band-collision candidate
    * set and runs a bounded collect for kv pruning DURING plan
    * construction (the lshCrossCandidates comment explains why), so
    * building this probe plan already executes Spark jobs; the other
    * four family branches stay unmaterialized. */
  private[graft] def unifiedMergeNewEdgesPlan(s: SparkSession,
      store: String, batchDocs: DataFrame, batchEmb: DataFrame,
      batchImgSigs: DataFrame, batchAudSigs: DataFrame): DataFrame = {
    val (Seq(batchSh, batchSim, batchLsh, batchImg, batchAud, batchVec),
      keys) = batchRowsOf(batchDocs, batchEmb, batchImgSigs, batchAudSigs)
    unifiedNewEdgesFamilies(openUnifiedStore(s, store), batchSh, batchSim,
      batchLsh, batchImg, batchAud, batchVec, keys).map(_._2())
      .reduce(_ unionByName _)
  }

  /** O-136/O-137 (q87g/s24): the batch ids that WELD to a lower-id
    * document through ANY of the five families — standing (each
    * family's kb-pruned index cross join) or batch-internal (each
    * family's self pair set). This is the q85 admission rule lifted
    * to the full multi-signal store (VERDICT r15 #2: the incremental
    * funnel's near-dup screen saw only the MinHash band index, so a
    * paraphrase-level emb_lsh duplicate or a perceptual image/audio
    * duplicate was ADMITTED that the one-shot unified funnel drops).
    *
    * Semantics are EDGE-LOCAL, deliberately: a doc drops iff a
    * DIRECT verified pair connects it to a lower id (standing docs
    * are all-admitted history; intra-batch keep-lowest). Component
    * transitivity through higher-id intermediaries is NOT applied at
    * admission — that is the store-maintenance side's job (q61d/s22
    * weld components downstream) — which is exactly what makes the
    * rule split-invariant for the stream twin: summed per-stage
    * counts are identical however the batch splits, because each
    * doc's verdict depends only on pairs against lower ids, all of
    * which are discoverable (standing index ∪ earlier-arrived
    * survivors ∪ same-batch self pairs) at its arrival.
    *
    * Every family rule canonicalizes doc_a < doc_b, so the drop set
    * is exactly the doc_b projection ∩ batch ids. READ-ONLY against
    * the store. Scale shape: identical to the merge's new-edges plan
    * (pruned index reads, verify inside the band/hash joins, edge-
    * bounded output); the final semi join is edge-set × batch-id
    * sized (AQE broadcasts the smaller side at fixture scale). */
  def unifiedWeldDropIds(s: SparkSession, store: String,
      batchDocs: DataFrame, batchEmb: DataFrame,
      batchImgSigs: DataFrame, batchAudSigs: DataFrame): DataFrame = {
    val v = openUnifiedStore(s, store)
    // concurrent per-family materialization (round 18, §2.6 — the
    // merge path's unifiedNewEdgesConcurrent reasoning; identical row
    // set to the fused plan this wrapped before)
    val (Seq(batchSh, batchSim, batchLsh, batchImg, batchAud, batchVec),
      keys) = batchRowsOf(batchDocs, batchEmb, batchImgSigs, batchAudSigs)
    unifiedNewEdgesConcurrent(v, batchSh, batchSim, batchLsh,
        batchImg, batchAud, batchVec, keys)
      .select(col("doc_b").as("doc_id"))
      .join(batchDocs.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .distinct()
  }

  /** The merge computation's parts, over version `v` of the store:
    * the batch index rows (five families plus the vec map) with their
    * buckets, the new edges WITH family and their count (which may
    * over-report; zero means none), the untouched label rows WITH kb,
    * and the relabeled rows. The relabel is [[Dedup.relabelAgainst]] —
    * the same algorithm the MinHash store runs. */
  private final case class MergeParts(v: StoreLog.Version,
      rows: Seq[DataFrame], keys: Map[String, Seq[Int]],
      newEdges: DataFrame, nNew: Long, untouched: DataFrame,
      relabeled: DataFrame)

  private def unifiedMergeParts(s: SparkSession, store: String,
      batchDocs: DataFrame, batchEmb: DataFrame, batchImgSigs: DataFrame,
      batchAudSigs: DataFrame): MergeParts = {
    val v = openUnifiedStore(s, store)
    val (rows @ Seq(batchSh, batchSim, batchLsh, batchImg, batchAud,
      batchVec), keys) =
      Span(s, "uni.merge.batch_rows")(
        batchRowsOf(batchDocs, batchEmb, batchImgSigs, batchAudSigs))
    // LEFT ANTI vs the standing edge table (round-13 ADVICE): a batch
    // re-ingesting a doc already edged in the store re-derives the
    // same (doc_a, doc_b, family) row — without this, the update path
    // appends the duplicate (inflating provenance counts until
    // compaction) and a replayed batch's relabel re-touches every
    // component it already welded. Edge-bounded: the standing table
    // is scanned by the relabel anyway.
    val (newEdges, nNew) = Span(s, "uni.merge.new_edges")(
      Dedup.materializeWithCount(unifiedNewEdgesConcurrent(v,
          batchSh, batchSim, batchLsh, batchImg, batchAud, batchVec, keys)
        .join(edges(v), Seq("doc_a", "doc_b", "family"), "left_anti")))
    val (untouched, relabeled) = Span(s, "uni.merge.relabel")(
      Dedup.relabelAgainst(
        newEdges.select(col("doc_a"), col("doc_b")).distinct(),
        edges(v).select(col("doc_a"), col("doc_b")).distinct(),
        v.read(Dedup.ClusterLabels)))
    MergeParts(v, rows, keys, newEdges, nNew, untouched, relabeled)
  }

  /** The q61c output shape (cluster_id, cluster_size, n_shingle,
    * n_simhash, n_emb_lsh, n_img_ahash) assembled from an updated
    * label table plus the full provenance edge set. cluster_size is
    * recomputed from the labels (pair-graph-bounded) rather than
    * trusted from the carried column: untouched rows carry their old
    * size, which IS still correct, but one definition beats two
    * invariants. */
  private def provenanceRollup(labels: DataFrame,
      allEdges: DataFrame): DataFrame =
    Dedup.unifiedFamilyRollup(labels, allEdges)

  /** Updated unified cluster table (q61c's shape) for the standing
    * corpus plus the batch, computed incrementally against the stored
    * indices — equals [[Dedup.unifiedDedupClusters]] over the FULL
    * corpus ∪ batch (the oracle replays exactly that). Read-only:
    * see [[unifiedClusterStoreUpdate]] for the persisting twin. */
  def unifiedClusterMerge(s: SparkSession, store: String,
      batchDocs: DataFrame, batchEmb: DataFrame,
      batchImgSigs: DataFrame, batchAudSigs: DataFrame): DataFrame = {
    val p = unifiedMergeParts(s, store, batchDocs, batchEmb, batchImgSigs,
      batchAudSigs)
    val labels = materializeBounded(
      p.untouched.drop("kb").unionByName(p.relabeled))
    provenanceRollup(labels, edges(p.v).unionByName(p.newEdges))
  }

  /** The unified cluster table READ BACK from the persisted store —
    * the O(0)-compute path a downstream consumer takes between
    * merges: labels are a label-table scan, provenance is the one
    * edge-table rollup, no signature pipeline runs. Equals the
    * one-shot recompute at every version (each commit keeps labels =
    * CC(edges)); duplicate edge rows from
    * un-compacted at-least-once replays are harmless here too since
    * round 15 — the rollup DISTINCTs the edge set (verdict r14 #5),
    * so n_* counts are replay-exact BEFORE compaction; compaction
    * still reclaims the duplicate bytes. */
  def unifiedClustersFromStore(s: SparkSession, store: String): DataFrame = {
    val v = openUnifiedStore(s, store)
    provenanceRollup(
      v.read(Dedup.ClusterLabels)
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("is_canonical")),
      edges(v))
  }

  /** Persist the merge: append each family's batch index rows (future
    * merges match against them), append the provenance-tagged new
    * edges, and replace ONLY the dirty cluster buckets — one commit of
    * the store's log. */
  def unifiedClusterStoreUpdate(s: SparkSession, store: String,
      batchDocs: DataFrame, batchEmb: DataFrame,
      batchImgSigs: DataFrame, batchAudSigs: DataFrame): Unit = {
    persistMerge(s, unifiedMergeParts(s, store, batchDocs,
      batchEmb, batchImgSigs, batchAudSigs))
  }

  /** [[unifiedClusterStoreUpdate]] that ALSO returns the batch's weld
    * drop ids (the [[unifiedWeldDropIds]] rule) — the admission
    * screen and the steady-state update share ONE materialized
    * new-edges set and one per-family signature/cross-join pass
    * (round 16: s24 otherwise ran the identical five pruned index
    * joins twice per micro-batch, once to screen and once to
    * persist, and the fused form cut its bench cost ~2x). Drop
    * semantics match [[unifiedWeldDropIds]] for a batch whose edges
    * are not yet persisted — the declared stream flow; an
    * at-least-once REPLAYED batch's edges are anti-joined away
    * (already persisted), so its drop set under-reports — which is
    * why the s23/s24 counts sink WALs its first-delivery frame
    * counts and commits write-once keyed by batchId (round 17,
    * Streams.committedFunnelCounts): the under-reported replay set
    * never reaches the declared counts, and the STORE is correct
    * either way (replayed appends anti-join/DISTINCT away). */
  def unifiedClusterStoreUpdateWithDrops(s: SparkSession, store: String,
      batchDocs: DataFrame, batchEmb: DataFrame,
      batchImgSigs: DataFrame, batchAudSigs: DataFrame): DataFrame = {
    val parts = unifiedMergeParts(s, store, batchDocs, batchEmb,
      batchImgSigs, batchAudSigs)
    persistMerge(s, parts)
    parts.newEdges.select(col("doc_b").as("doc_id"))
      .join(batchDocs.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .distinct()
  }

  private def persistMerge(s: SparkSession, p: MergeParts): Unit =
      Span(s, "uni.update") {
    val (staged, buckets) = Dedup.labelStaging(p.untouched, p.relabeled)
    // the label write, the six index appends and the edges append are
    // one wave and one commit: a family with no batch rows writes
    // nothing, and neither does an update with no new edges
    val v = p.v
    v.commit("uni.update")(
      Seq(v.write(Dedup.ClusterLabels, staged, buckets, replace = true)) ++
        Indices.zip(p.rows).map { case (l, rows) =>
          v.write(l, rows, p.keys(l.table)) } ++
        Option.when(p.nNew > 0)(v.write(Edges, p.newEdges)))
  }

  /** Bound file counts under daily merges, in one commit: each index
    * table's buckets over `maxFilesPerBucket` files are rewritten as
    * one file each, and the unpartitioned edge table as at most
    * `maxFilesPerBucket` files (all DISTINCT, which also reclaims
    * replayed appends; family rides in the edge rows so provenance
    * survives). The cluster table needs no pass: a label commit
    * replaces each bucket it touches with one file. */
  def unifiedClusterStoreCompact(s: SparkSession, store: String,
      maxFilesPerBucket: Int = 4): Unit = {
    val v = openUnifiedStore(s, store)
    v.commit("uni.compact")(
      (Indices :+ Edges).flatMap(v.compaction(_, maxFilesPerBucket)))
  }

  // O-140 (q61f): RETRACTION — the store-lifecycle gap every
  // right-to-be-forgotten / takedown request hits at 100 TB. The
  // family so far covers build → merge → update → compact; nothing
  // could DELETE. This removes a document set from all five family
  // indices, the edge table, and the label table, re-resolving the
  // components it touched, without rebuilding anything corpus-sized.
  /** Retract `delDocs` (with their embeddings and perceptual
    * signatures — a deletion request knows what it deletes, and the
    * signatures are deterministic, so the recomputed index rows ARE
    * the stored rows and name exactly the buckets holding them).
    *
    * Cost shape: per family, touched buckets = the deleted rows' own
    * bucket set (<= 64), each rewritten once (survivor rows kept via
    * anti-join; a bucket left EMPTY is deleted explicitly — dynamic
    * partition overwrite alone cannot remove a partition it writes
    * no rows for); the edge-table rewrite is pair-graph-bounded (the
    * wholesale rewrite compaction already performs); the relabel
    * reads the deleted ids' label rows kb-pruned, pulls their
    * components' members with one label-table scan over a bounded
    * cluster-id set, re-runs CC over those components' REMAINING
    * edges only, and rewrites only the dirty label buckets. Corpus
    * text, pixels, and float vectors are never touched.
    *
    * Retract-equals-rebuild: indices because signature rows are
    * per-doc; edges because the pair rules are pairwise (a
    * survivor-survivor edge never depended on a deleted doc); labels
    * because CC is recomputed exactly over every touched component's
    * surviving edges — including the SPLIT case where a bridge doc
    * leaves and its component falls apart (UnifiedClustersSpec pins
    * it). Replay-idempotent: every removal is an anti-join, so
    * re-retracting is a no-op.
    *
    * One commit of the store's log: the index rewrites, the edge-table
    * rewrite and the dirty label buckets replace the old ones together,
    * so replaying a crashed retraction starts from the version before
    * it. */
  def unifiedClusterStoreRetract(s: SparkSession, store: String,
      delDocs: DataFrame, delEmb: DataFrame,
      delImgSigs: DataFrame, delAudSigs: DataFrame)
      : Unit = Span(s, "uni.retract") {
    val v = openUnifiedStore(s, store)
    val (_, keys) =
      Span(s, "uni.retract.batch_rows")(
        batchRowsOf(delDocs, delEmb, delImgSigs, delAudSigs))
    // the deleted ids' label-bucket set rides the materialization job
    // as an observed collect_set (round 17, materializeWithKeys) —
    // the separate distinct+collect job is folded away
    val (delIds0, delKb) = Dedup.materializeWithKeys(
      delDocs.select(col("doc_id"))
        .unionByName(delEmb.select(col("vec_id").as("doc_id")))
        .unionByName(delImgSigs.select(col("doc_id")))
        .unionByName(delAudSigs.select(col("doc_id")))
        .distinct()
        .withColumn("kb", Dedup.clusterBucket(col("doc_id"))), "kb")
    val delIds = delIds0.select(col("doc_id"))
    // keys observed during batchRowsOf's own jobs above

    val labels = v.read(Dedup.ClusterLabels)
    val touchedClusters = materializeBounded(
      (if (delKb.isEmpty) labels.limit(0)
       else labels.filter(col("kb").isin(delKb: _*)))
        .join(delIds, Seq("doc_id"), "left_semi")
        .select(col("cluster_id")).distinct())
    // dirty label buckets observed during the materialization (round
    // 17, materializeWithKeys) — the separate collect job is gone
    val (touchedMembers, dirty) = Dedup.materializeWithKeys(
      labels.join(touchedClusters, Seq("cluster_id"), "left_semi")
        .select(col("doc_id"), col("kb")), "kb")
    // an edge's endpoints share a component, so doc_a alone
    // attributes the edge to a touched component
    // strict doc_a < doc_b edges — the materialized leaf meets
    // connectedComponentsMaterialized's contract, and its count rides
    // the materialization (round 17: one job instead of CC's own
    // re-materialize + count of the same leaf)
    val (survEdges, nSurv) = Dedup.materializeWithCount(
      edges(v).select(col("doc_a"), col("doc_b")).distinct()
        .join(touchedMembers.select(col("doc_id").as("doc_a")),
          Seq("doc_a"), "left_semi")
        .join(delIds.withColumnRenamed("doc_id", "doc_a"),
          Seq("doc_a"), "left_anti")
        .join(delIds.withColumnRenamed("doc_id", "doc_b"),
          Seq("doc_b"), "left_anti"))
    val newLabels = Span(s, "uni.retract.relabel")(materializeBounded(
      Dedup.connectedComponentsMaterialized(survEdges, nSurv)
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("is_canonical"))
        .withColumn("kb", Dedup.clusterBucket(col("doc_id")))))
    // a dirty bucket keeps its rows outside the touched components
    val staged = labels.filter(col("kb").isin(dirty: _*))
      .join(touchedMembers.select(col("doc_id")), Seq("doc_id"),
        "left_anti")
      .unionByName(newLabels)

    // per-family touched-bucket rewrites, concurrent with the label
    // write and the edge-table rewrite (edge-bounded — the same
    // wholesale pass compaction performs)
    v.commit("uni.retract")(
      Seq(v.write(Dedup.ClusterLabels, staged, dirty, replace = true)) ++
        Indices.map(l => v.retraction(l, keys(l.table), delIds)) :+
        v.write(Edges, edges(v)
            .join(delIds.withColumnRenamed("doc_id", "doc_a"),
              Seq("doc_a"), "left_anti")
            .join(delIds.withColumnRenamed("doc_id", "doc_b"),
              Seq("doc_b"), "left_anti"),
          replace = true, nFiles = 4))
  }

  /** Declared O-140 binding: the full q61c store (every document,
    * embedding, and attachment signature), then RETRACT ids 0-39
    * across every surface — a slice that crosses all five families
    * and straddles image group 13 (ids 39,40,41) and audio group 13
    * (39,40,41), so at least one component loses members without
    * dissolving (the split/shrink relabel runs in the declared
    * binding, not only in the spec). Pristine store built once per
    * (JVM, data dir); every invocation retracts on a hard-linked
    * clone. Oracle: the one-shot q61c SQL over the surviving
    * fixture slice. */
  def q61fUnifiedRetraction(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    val imgSigs = materializeBounded(Multimodal.imageSignatures(
      Multimodal.syntheticImages(s)))
    val audSigs = materializeBounded(Multimodal.audioSignatures(
      Multimodal.syntheticWavs(s)))
    val pristine = graft.util.Ephemeral.fixedDirBuiltOnce(
      graft.util.Ephemeral.sfKey("graft_uni_retract_q61f", d)) { dir =>
      unifiedClusterStoreWrite(docs, emb, imgSigs, audSigs, dir)
    }
    val store = graft.util.Ephemeral.cloneDir(pristine, "q61f_store")
    unifiedClusterStoreRetract(s, store,
      docs.filter(col("doc_id") < 40),
      emb.filter(col("vec_id") < 40),
      imgSigs.filter(col("doc_id") < 40),
      audSigs.filter(col("doc_id") < 40))
    unifiedClustersFromStore(s, store)
  }

  /** Declared O-127 binding (the q89 pattern lifted to the unified
    * store): corpus = docs 0-249 with their embeddings (vec < 250),
    * the attachment images below the q45d mid-group split
    * (doc_id < 50), and the attachment tracks below the q45g
    * mid-group split (doc_id < 32); batch = docs 250+ PLUS
    * re-identified copies of docs 0-49 (welding via BOTH text
    * families), embeddings 250+, the remaining images (group 16
    * straddles the split, so an image edge crosses the store
    * boundary) and the remaining tracks (group 10 straddles at 32 —
    * the audio twin of the same boundary-crossing geometry). Oracle:
    * the one-shot q61c SQL over the FULL corpus ∪ batch — emb,
    * image, and audio relations are the full fixture tables (the
    * batch split partitions them; no rekeys), the docs relation is
    * documents ∪ the rekeyed copies. */
  def q61dUnifiedClusterMerge(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    val imgSigs = materializeBounded(Multimodal.imageSignatures(
      Multimodal.syntheticImages(s)))
    val audSigs = materializeBounded(Multimodal.audioSignatures(
      Multimodal.syntheticWavs(s)))
    // built once per (JVM, data dir): the merge below is READ-ONLY,
    // so the store after build is byte-identical on every invocation
    // and the rebuild bought nothing but write rounds (verdict r13 #1)
    val store = graft.util.Ephemeral.fixedDirBuiltOnce(
      graft.util.Ephemeral.sfKey("graft_uni_cluster_q61d", d)) { dir =>
      unifiedClusterStoreWrite(
        docs.filter(col("doc_id") < 250),
        emb.filter(col("vec_id") < 250),
        imgSigs.filter(col("doc_id") < 50),
        audSigs.filter(col("doc_id") < 32), dir)
    }
    val batchDocs = docs.filter(col("doc_id") >= 250)
      .unionByName(docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + Dedup.ReKeyOffset))
    unifiedClusterMerge(s, store, batchDocs,
      emb.filter(col("vec_id") >= 250),
      imgSigs.filter(col("doc_id") >= 50),
      audSigs.filter(col("doc_id") >= 32))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q61d_unified_cluster_merge" -> (q61dUnifiedClusterMerge _),
    "q61f_unified_retraction" -> (q61fUnifiedRetraction _))

  val oracles: Map[String, String] = Map(
    "q61d_unified_cluster_merge" -> Dedup.unifiedClustersSql(
      s"""(SELECT doc_id, lang, source, n_chars, text FROM documents
         |   UNION ALL
         |   SELECT doc_id + ${Dedup.ReKeyOffset} AS doc_id, lang,
         |     source, n_chars, text
         |   FROM documents WHERE doc_id < 50)""".stripMargin),
    // q61f: the one-shot q61c recompute over the SURVIVING fixture
    // slice — text families scoped by the docs relation, the three
    // doc-independent families excluded over the deleted id range
    // (retract-equals-rebuild is the declared contract)
    "q61f_unified_retraction" -> Dedup.unifiedClustersSql(
      "(SELECT doc_id, lang, source, n_chars, text FROM documents" +
        " WHERE doc_id >= 40)",
      excludeRel = Some(
        "(SELECT CAST(i AS BIGINT) AS doc_id" +
          " FROM generate_series(0, 39) t(i))")))
}
