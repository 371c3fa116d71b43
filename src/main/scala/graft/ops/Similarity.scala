package graft.ops

import graft.functions.{LongArrayDot, SignLshSignature}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (SURVEY.md §2.11 O-60;
  * driver north-star "similarity search").
  *
  * Scale design: q37 is the exact baseline — a broadcast of ONE query
  * vector against a full scan, embarrassingly parallel, no shuffle until
  * the final top-k (TakeOrderedAndProject). q37b is the scale path:
  * random-hyperplane LSH buckets the corpus once (shuffle on bucket id),
  * then each probe touches only its bucket — at 100 TB that's the
  * difference between scanning 2e9 vectors and ~2e6 per query.
  */
object Similarity {
  import Tables._
  import BucketedStore.StoreWriter

  // O-60: brute-force exact top-k by quantized cosine vs a fixed query
  // vector (vec_id 0). Integer dot product => engine-exact ordering.
  /** Generic brute-force top-k over any (vec_id, label, embedding)
    * table: exact quantized-cosine against the vec_id=0 query vector. */
  def similarityTopK(emb: DataFrame, k: Int = 10): DataFrame = {
    // quantize each side ONCE at the scan, then the per-pair work is a
    // single codegen'd integer loop (LongArrayDot)
    val qv = emb.filter(col("vec_id") === 0)
      .select(quantize(col("embedding")).as("qv"))
    emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"),
        quantize(col("embedding")).as("qe"))
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("label"),
        LongArrayDot(col("qe"), col("qv")).as("dot_e12"))
      .orderBy(col("dot_e12").desc, col("vec_id"))
      .limit(k)
  }

  def q37SimilarityTopk(s: SparkSession, d: String): DataFrame =
    similarityTopK(embeddings(s, d))

  private val NPlanes = 8 // q37b probe-bucket width
  // q36f banding: 8 bands x 12 bits. Chosen empirically on the fixture
  // (whose hardest pairs sit at cosine 0.4-0.51, far below true-near-dup
  // territory): 8x12 still recalls a handful of them at every SF while
  // keeping the random-pair candidate rate at nBands/2^bits = 1/512 —
  // half the round-3 single-8-bit-bucket rate — and the per-band key
  // space at 4096 and GROWING BY CONFIG (bandBits up to 64); at true
  // near-dup cosine >= 0.95 the expected recall is ~92% (asserted on
  // planted duplicates in TierCSpec).
  private val NdBands = 8 // q36f: bands per signature ...
  private val BandBits = 12 // ... of this many planes each

  /** Deterministic +-1 hyperplane `p` packed as a 64-bit mask (bit i set
    * = +1 component at dim i): MurmurHash3 of (plane, dim). No RNG state
    * — identical planes on every executor of any cluster, and one plane
    * is ONE long literal in both the codegen'd expression and the DuckDB
    * oracle. */
  private def planeMask(p: Int): Long =
    (0 until 64).foldLeft(0L) { (m, i) =>
      if ((scala.util.hashing.MurmurHash3.caseClassHash((p, i)) & 1) == 0)
        m | (1L << i) else m
    }

  /** Plane p's +-1 components, unpacked from [[planeMask]] (oracle SQL). */
  private def planeComponents(p: Int): Seq[Long] =
    (0 until 64).map(i => if (((planeMask(p) >>> i) & 1L) == 1L) 1L else -1L)

  // O-60 scale variant: sign-LSH (random hyperplanes with +-1 components)
  // -> 8-bit bucket signature -> multi-probe: candidates are rows whose
  // bucket is within hamming distance 3 of the query's signature, then
  // exact re-rank inside. The projections are integer dots over the
  // QUANTIZED vector (a sum of +-quantized components): bit-exact in any
  // engine, so even this approximate operator carries a DuckDB oracle —
  // a double-precision projection's sign could flip per summation order.
  //
  // The bucket is SignLshSignature, a one-pass codegen expression over
  // the pre-quantized vector. The round-3 formulation — an aggregate(
  // zip_with(quantize(v), planeLit)) per plane — was a CodegenFallback
  // HOF tree that re-ran the interpreted quantize lambda once per plane
  // (8-9x per row): the whole similarity family regressed 3-12x in the
  // driver bench. Quantize once per row, then one fused loop for all
  // planes.
  def similarityLsh(emb: DataFrame, k: Int = 10): DataFrame = {
    val masks = (0 until NPlanes).map(planeMask)
    val bucketed = emb
      .select(col("vec_id"), col("label"), quantize(col("embedding")).as("qe"))
      .withColumn("bucket", SignLshSignature(col("qe"), masks))
    val qv = bucketed.filter(col("vec_id") === 0)
      .select(col("qe").as("qv"), col("bucket").as("qbucket"))
    bucketed.filter(col("vec_id") =!= 0)
      .join(broadcast(qv),
        expr("bit_count(bucket ^ qbucket) <= 3"))
      .select(col("vec_id"), col("label"), col("bucket"),
        LongArrayDot(col("qe"), col("qv")).as("dot_e12"))
      .orderBy(col("dot_e12").desc, col("vec_id"))
      .limit(k)
  }

  def q37bSimilarityLsh(s: SparkSession, d: String): DataFrame =
    similarityLsh(embeddings(s, d))

  /** THE coarse-quantizer assignment rule, stated once: nearest centroid
    * by argmax quantized dot, ties to the lower cell_id. Input is any
    * (vec_id, ..., qe) table plus a (cell_id, ce) centroid table;
    * output keeps every input column and appends cell_id. Shared by the
    * in-query IVF (q37c), both stored layouts (q68/q74), the k-means
    * trainer round (q75), and semantic dedup (q81) — one definition,
    * one oracle CTE shape.
    *
    * ROW-LOCAL (round 8; previously crossJoin + per-vec_id window):
    * the quantizer's arity k is a bounded model parameter (16 here,
    * hundreds–thousands at 100 TB — never corpus-scaled), so the
    * centroid table is a driver point-read (the documented nprobe-ids
    * pattern) folded into ONE codegen argmax loop over a flattened
    * codebook reference object ([[graft.functions.ArgmaxCodebookDot]],
    * round 9 — plan size O(1) in k, so the claimed arity is real; the
    * round-8 k-literal array form survives as [[coarseAssignLiteral]]
    * for the equivalence spec). The old window rank was a FULL-CORPUS
    * SHUFFLE per assignment pass — at 100 TB the dominant cost of every
    * write-time layout; now assignment is a pure map over the scan and
    * the corpus never shuffles for it. Strict `>` in the loop keeps the
    * earliest (lowest) cell_id on ties — byte-identical to the window's
    * (cdot DESC NULLS LAST, cell_id) rank INCLUDING the null/degenerate
    * rows (all-NULL dots rank the lowest cell_id first), so no oracle
    * changes. */
  private[graft] def coarseAssign(quantized: DataFrame,
      centroids: DataFrame): DataFrame =
    coarseAssignCollected(quantized, collectCentroids(centroids))

  /** [[coarseAssign]] over an ALREADY-COLLECTED centroid table (round
    * 18): callers that need the centroids driver-side anyway (the
    * IVF-PQ writer collects them once and reuses the rows for the
    * model-table write) skip the second collect job. */
  private[graft] def coarseAssignCollected(quantized: DataFrame,
      cents: Array[(Long, Seq[Long])]): DataFrame = {
    if (cents.isEmpty)
      return quantized.limit(0).withColumn("cell_id", lit(0L))
    val dim = cents.head._2.length
    require(cents.forall(_._2.length == dim),
      s"centroid table mixes dimensions (expected $dim)")
    quantized.withColumn("cell_id",
      graft.functions.ArgmaxCodebookDot(col("qe"),
        cents.map(_._1).toIndexedSeq,
        cents.flatMap(_._2).toIndexedSeq, dim))
  }

  private def collectCentroids(centroids: DataFrame): Array[(Long, Seq[Long])] =
    centroids.select(col("cell_id"), col("ce"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
      .sortBy(_._1)

  private def idot(a: Seq[Long], b: Array[Long]): Long = {
    var acc = 0L
    var i = 0
    while (i < b.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** The k-bounded model of a stored IVF / IVF-PQ layout, held on the
    * driver: the coarse centroids (cell_id, ce) in ascending cell_id
    * order and, for IVF-PQ, the PQ codebook (m, seed, cv) in ascending
    * (m, seed) order. Every probe-side use of the model is a driver
    * computation over these arrays with the engine's exact integer
    * rules, so no model table is re-scanned per query. */
  private final case class AnnModel(
      centroids: Array[(Long, Seq[Long])],
      codebook: Array[(Int, Long, Seq[Long])]) {

    /** The `nprobe` cells of highest `dot(ce, q)`, ties to the lower
      * cell_id; a centroid whose length differs from `q`'s has no dot
      * and ranks after every one that has (the `qdot DESC NULLS LAST,
      * cell_id` rule of the SQL form). */
    def probeCells(q: Array[Long], nprobe: Int): Seq[Long] =
      centroids.toSeq
        .map { case (c, ce) =>
          (c, if (ce.length == q.length) Some(idot(ce, q)) else None) }
        .sortBy { case (c, d) => (d.isEmpty, d.fold(0L)(-_), c) }
        .take(nprobe).map(_._1)

    /** (m, code, ld): the ADC lookup table of query `q` over `m`
      * sub-spaces — one exact dot of each codebook entry with its
      * query sub-vector. */
    def lutRows(q: Array[Long], m: Int): Seq[(Int, Long, Long)] = {
      require(m >= 1 && q.length % m == 0,
        s"query dim ${q.length} not divisible into $m sub-spaces")
      val subDim = q.length / m
      require(codebook.forall { case (mi, seed, cv) =>
          mi >= 0 && mi < m && seed >= 0 && seed < 64 && cv.length == subDim
        } && codebook.map(e => (e._1, e._2)).distinct.length == codebook.length,
        s"store codebook is not unique (sub-space, seed < 64) entries of " +
          s"$subDim dims over $m sub-spaces")
      codebook.toSeq.map { case (mi, seed, cv) =>
        (mi, seed, idot(cv, q.slice(mi * subDim, (mi + 1) * subDim)))
      }
    }
  }

  /** The one read of a stored layout's model: `centroids` (and, with
    * `codebook`, the PQ codebook) in ONE job under one declared schema
    * — each table's files read the other's columns as null — so no
    * schema-inference job runs. Rows with a NULL `m` are centroids. A
    * model row with a NULL key, vector or component fails the read:
    * the writers never produce one. */
  private def annModel(s: SparkSession, storeDir: String,
      codebook: Boolean): AnnModel = {
    val rows = s.read
      .schema("cell_id BIGINT, ce ARRAY<BIGINT>, m INT, seed BIGINT, " +
        "cv ARRAY<BIGINT>")
      .parquet(s"$storeDir/centroids" +:
        (if (codebook) Seq(s"$storeDir/codebook") else Nil): _*)
      .collect()
    def vec(r: org.apache.spark.sql.Row, i: Int): Seq[Long] = {
      require(!r.isNullAt(i) && !r.getSeq[Any](i).contains(null),
        s"$storeDir model row $r holds a null vector or component")
      r.getSeq[Long](i)
    }
    val (book, cents) = rows.partition(r => !r.isNullAt(2))
    require(cents.forall(!_.isNullAt(0)) && book.forall(!_.isNullAt(3)),
      s"$storeDir model holds a row without its key")
    AnnModel(
      cents.map(r => (r.getLong(0), vec(r, 1))).sortBy(_._1),
      book.map(r => (r.getInt(2), r.getLong(3), vec(r, 4)))
        .sortBy(e => (e._1, e._2)))
  }

  /** The round-8 formulation of the same rule — k centroid vectors as k
    * LITERAL arrays, one dot each, argmax = array_position-of-max on
    * the cell_id-sorted dot array. Kept (test-only) as the independent
    * implementation the ArgmaxCodebookDot equivalence spec checks
    * against; diverges from [[coarseAssign]] only on null/wrong-length
    * vectors (NULL cell_id here vs lowest-cell there — the round-8
    * ADVICE divergence the expression fixes). */
  private[graft] def coarseAssignLiteral(quantized: DataFrame,
      centroids: DataFrame): DataFrame = {
    val cents = collectCentroids(centroids)
    if (cents.isEmpty)
      return quantized.limit(0).withColumn("cell_id", lit(0L))
    val dotArr = array(cents.map { case (_, ce) =>
      LongArrayDot(col("qe"), array(ce.map(lit(_)): _*)).cast("long")
    }: _*)
    val idArr = array(cents.map(c => lit(c._1)): _*)
    quantized.withColumn("cell_id",
      element_at(idArr, array_position(dotArr, array_max(dotArr))
        .cast("int")))
  }

  /** Lloyd-TRAINED coarse centroids (VERDICT r6/r7 carried task): one
    * deterministic k-means round over the first-k seed cells — assign
    * every vector to its nearest seed (the shared [[coarseAssign]]
    * rule), then emit each surviving cell's floor-divided integer mean
    * (the q79 convention, exact in both engines). This is exactly
    * q75's kmeansUpdate with its sum/n division applied, so the
    * trained table IS one round of the declared trainer; cells that
    * capture no member vanish (their seed was dominated everywhere) —
    * deterministic on both engines. q81/q74 assign against THIS table
    * instead of the raw `vec_id < k` seeds, so a skewed corpus gets
    * data-shaped cells (balance asserted on a planted-skew fixture in
    * TierCSpec) — at 100 TB cell size caps the in-cell quadratic
    * (q81) and the per-probe scan fraction (q74), so a seed that
    * happens to dominate the dot ordering no longer collapses the
    * layout. Cost: one extra broadcast-assign scan at write/train
    * time; probes are unchanged. */
  private[graft] def trainedCentroids(quantized: DataFrame,
      k: Int = 16): DataFrame = {
    val centroidAgg = udaf(graft.functions.CentroidAgg)
    val seeds = quantized.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell_id"), col("qe").as("ce"))
    coarseAssign(quantized.select(col("vec_id"), col("qe")), seeds)
      .groupBy(col("cell_id"))
      .agg(centroidAgg(col("qe")).as("sums"), count(lit(1)).as("n"))
      // `div` (integral division) on the already floor-adjusted
      // numerator, NOT `/`: `/` is DOUBLE division in both engines,
      // exact only while the adjusted sum stays under 2^53 — a silent
      // precision cliff at the documented 100 TB cell sizes (round-8
      // ADVICE). The numerator is an exact multiple of n, so floor,
      // truncation, and exact division coincide at ANY magnitude.
      .select(col("cell_id"),
        expr("transform(sums, s -> (s - ((s % n + n) % n)) div n)")
          .as("ce"))
  }

  // O-60 IVF variant: inverted-file ANN. Coarse quantizer = the first 16
  // vectors as deterministic centroids (a k-means seed set); every vector
  // is assigned to its nearest centroid (one scan), and a probe searches
  // only the nprobe=4 cells nearest the query, re-ranking exactly inside.
  // At 100 TB the cell assignment is a write-time layout (partition by
  // cell id), so a probe touches ~nprobe/k of the corpus.
  def q37cSimilarityIvf(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val quantized = emb.select(col("vec_id"), col("label"),
      quantize(col("embedding")).as("qe"))
    val centroids = quantized.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cell_id"), col("qe").as("ce"))
    // assign: argmax dot(vector, centroid) — 16 broadcast rows per vector
    val assigned = coarseAssign(quantized, centroids)
      .select(col("vec_id"), col("label"), col("qe"), col("cell_id"))
    // probe cells: the 4 centroids nearest the query vector
    val qv = quantized.filter(col("vec_id") === 0)
      .select(col("qe").as("qvq"))
    val probeCells = centroids.crossJoin(broadcast(qv))
      .select(col("cell_id"), LongArrayDot(col("ce"), col("qvq")).as("qdot"))
      .orderBy(col("qdot").desc, col("cell_id"))
      .limit(4)
      .select(col("cell_id"))
    assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(probeCells), Seq("cell_id"))
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("label"), col("cell_id"),
        LongArrayDot(col("qe"), col("qvq")).as("dot_e12"))
      .orderBy(col("dot_e12").desc, col("vec_id"))
      .limit(10)
  }

  /** IVF as a STORED layout — the 100 TB shape of q37c. `ivfWrite` runs
    * the coarse quantizer once at write time and lays the corpus out as
    * parquet PARTITIONED BY cell_id (plus a small centroids table);
    * `ivfProbe` then answers a query by ranking the centroids and reading
    * ONLY the nprobe matching partitions — the cell filter is a partition
    * filter (directory pruning), so a probe scans ~nprobe/k of the
    * corpus no matter how large the table grows. Same math as q37c
    * (verified by IvfStoreSpec result-parity + plan assertions). */
  def ivfWrite(s: SparkSession, d: String, storeDir: String): Unit =
    ivfWriteDf(embeddings(s, d), storeDir)

  /** The same layout over any (vec_id, embedding, label) DataFrame —
    * the form the incremental path (ivfAppend) composes with. */
  def ivfWriteDf(emb: DataFrame, storeDir: String): Unit = {
    val quantized = emb.select(col("vec_id"), col("label"),
      quantize(col("embedding")).as("qe"))
    val centroids = quantized.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cell_id"), col("qe").as("ce"))
    coarseAssign(quantized, centroids)
      .select(col("vec_id"), col("label"), col("qe"), col("cell_id"))
      .storeWrite.mode("overwrite").partitionBy("cell_id")
      .parquet(s"$storeDir/vectors")
    centroids.storeWrite.mode("overwrite").parquet(s"$storeDir/centroids")
  }

  /** O-82 incremental path (q88): append a batch of vectors to a
    * stored IVF layout. Each new vector is assigned against the
    * STORE'S OWN centroids (a frozen quantizer — the production
    * cadence: the coarse codebook retrains offline when the q84 recall
    * audit drifts, never per batch, so assignment is a pure row-local
    * map over the batch) and lands in its cell's partition via a plain
    * parquet append — only the touched cell directories gain files.
    * Ingest cost is O(batch); probes are unchanged and immediately see
    * corpus ∪ batch. The vector twin of the q83/q85 index merges,
    * completing the incremental-ingest triple (exact hash, near-dup
    * band, ANN cell). */
  def ivfAppend(s: SparkSession, storeDir: String, emb: DataFrame): Unit = {
    val quantized = emb.select(col("vec_id"), col("label"),
      quantize(col("embedding")).as("qe"))
    coarseAssignCollected(quantized,
      annModel(s, storeDir, codebook = false).centroids)
      .select(col("vec_id"), col("label"), col("qe"), col("cell_id"))
      .storeWrite.mode("append").partitionBy("cell_id")
      .parquet(s"$storeDir/vectors")
  }

  /** Bound the vector store's file count under daily appends — the
    * same driver-side listing / pruned-rewrite pass as the dedup
    * indexes' compaction ([[BucketedStore.compactBuckets]]). */
  def ivfCompact(s: SparkSession, storeDir: String,
      maxFilesPerCell: Int = 4): Seq[Int] =
    BucketedStore.compactBuckets(s, s"$storeDir/vectors", "cell_id",
      Seq(col("vec_id"), col("label"), col("qe")),
      Seq("vec_id"), maxFilesPerCell)

  // O-143: ANN STORE RETRACTION (VERDICT r16 #1) — round 16 built the
  // right-to-be-forgotten delete for the unified cluster store (q61f),
  // the tf model (q92b), and the funnel stores (q87h); the IVF/IVF-PQ
  // cell stores were the ONE standing-store family a takedown request
  // could not reach short of the q91 full retrain-rebuild. The store
  // is cell-partitioned, so q61f's touched-bucket pattern maps
  // directly: only the deleted vectors' cells are rewritten.
  /** The vectors tables of the two stored layouts, declared: a
    * retraction can empty every cell, and a partitioned table with zero
    * rows keeps no schema-bearing file (the cfa41fc lesson) — a read
    * must see empty, not throw. The degenerate empty-corpus IVF-PQ
    * store writes this exact schema unpartitioned, so both of its
    * layouts read uniformly. */
  private val IvfVectorsSchema =
    "vec_id BIGINT, label INT, qe ARRAY<BIGINT>, cell_id INT"
  private val PqVectorsSchema =
    "vec_id BIGINT, label INT, codes ARRAY<BIGINT>, cell_id INT"

  /** Retract vectors from a stored IVF layout. `delEmb` carries the
    * deleted vectors' (vec_id, embedding) rows — their cells are
    * recomputed ROW-LOCALLY against the store's own centroids (sound
    * because every stored row was assigned against exactly those
    * centroids: appends use the frozen model, and a q91 rebuild
    * re-assigns everything it writes), so the touched-cell set is the
    * deleted vectors' own cells with NO corpus scan. Each touched
    * cell is rewritten with survivors anti-joined; an EMPTIED cell's
    * directory is deleted explicitly and loudly
    * ([[BucketedStore.retractBucketRewrite]] — dynamic partition
    * overwrite cannot remove a partition it writes no rows for). The
    * centroid/codebook model tables are untouched — retraction serves
    * probes through the FROZEN model, the q88 append posture; model
    * hygiene stays with the q84 drift audit + q91 retrain. Cost:
    * O(touched cells' rows), never the corpus. Replay-idempotent:
    * the removal is an anti-join and the emptied-cell delete treats
    * an already-absent directory as done.
    *
    * Retract-equals-rebuild holds EXACTLY for this layout when the
    * 16 seed vectors survive (ivfWriteDf's centroids are the seeds,
    * so a survivors-only rebuild derives the same model and the same
    * row-local assignment — IvfStoreSpec pins it); for the trained
    * IVF-PQ layout the survivors' retrain would differ by design, so
    * its contract is rows-exact deletion under the frozen model
    * (q74c's oracle replays exactly that). */
  def ivfRetract(s: SparkSession, storeDir: String,
      delEmb: DataFrame): Unit =
    annCellRetract(s, storeDir, delEmb, IvfVectorsSchema,
      Seq("vec_id", "label", "qe"))

  /** [[ivfRetract]] for the IVF-PQ code store — same touched-cell
    * rewrite over 8-byte code rows (deleting a vector's codes is the
    * whole delete: raw vectors never lived in this store). */
  def ivfPqRetract(s: SparkSession, storeDir: String,
      delEmb: DataFrame): Unit =
    annCellRetract(s, storeDir, delEmb, PqVectorsSchema,
      Seq("vec_id", "label", "codes"))

  /** Shared cell-store retraction: recompute the deleted vectors'
    * cells against the store's frozen centroids (bounded point-read
    * model, row-local codegen assignment), then rewrite only those
    * cells via the family-standard touched-bucket pass. The vectors
    * read is SCHEMA'D (the cfa41fc lesson): a retraction can empty
    * every cell, and a partitioned table with zero rows keeps no
    * schema-bearing files. */
  private def annCellRetract(s: SparkSession, storeDir: String,
      delEmb: DataFrame, schema: String, projCols: Seq[String]): Unit = {
    // touched cells observed during the materialization job (round 17,
    // materializeWithKeys) — one job instead of two
    val (delAssigned, cells) = Dedup.materializeWithKeys(
      coarseAssignCollected(
        delEmb.filter(col("vec_id").isNotNull)
          .select(col("vec_id"), quantize(col("embedding")).as("qe")),
        annModel(s, storeDir, codebook = false).centroids)
        .select(col("vec_id"), col("cell_id").cast("int").as("cell_id")),
      "cell_id")
    BucketedStore.retractBucketRewrite(s, s"$storeDir/vectors",
      schema, "cell_id", cells,
      delAssigned.select(col("vec_id")), "vec_id", projCols, Seq("vec_id"))
  }

  /** Declared O-143 binding (IVF): pristine full-corpus store built
    * once per (JVM, sf); every invocation retracts vec_id % 7 == 2
    * (seeds excluded, so the frozen centroids ARE the survivors'
    * rebuild model) on a hard-linked clone, then answers vec 0's
    * standard probe. Oracle: q68's SQL with the retracted slice
    * excluded — which by retract-equals-rebuild is literally the
    * surviving corpus's own IVF answer. */
  def q88bIvfRetract(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val pristine = graft.util.Ephemeral.fixedDirBuiltOnce(
      graft.util.Ephemeral.sfKey("graft_ivf_retract_q88b", d))(
      dir => ivfWriteDf(emb, dir))
    val store = graft.util.Ephemeral.cloneDir(pristine, "q88b_store")
    ivfRetract(s, store,
      emb.filter(col("vec_id") >= 16 && col("vec_id") % 7 === 2)
        .select(col("vec_id"), col("embedding")))
    val queryVec = emb.filter(col("vec_id") === 0)
      .select(quantize(col("embedding")).as("qe"))
      .head().getSeq[Long](0).toArray
    ivfProbe(s, store, queryVec, nprobe = 4, k = 10,
      excludeVecId = Some(0L))
  }

  /** Declared write-append-probe binding: the store is built WITHOUT
    * the day's batch (vec_id >= 16 with vec_id % 5 == 0 — the 16 seed
    * vectors stay in the corpus so the codebook matches the full
    * rebuild), the batch is then appended against the frozen
    * centroids, and vec 0's probe must return EXACTLY the
    * full-corpus answer — append-equals-rebuild is the property under
    * test, so the oracle is q68's (= q37c's). */
  def q88IvfAppend(s: SparkSession, d: String): DataFrame = {
    val store = graft.util.Ephemeral.fixedDir("graft_ivf_store_q88")
    val emb = embeddings(s, d)
    val batchPred = col("vec_id") >= 16 && col("vec_id") % 5 === 0
    ivfWriteDf(emb.filter(!batchPred), store)
    ivfAppend(s, store, emb.filter(batchPred))
    val queryVec = emb.filter(col("vec_id") === 0)
      .select(quantize(col("embedding")).as("qe"))
      .head().getSeq[Long](0).toArray
    ivfProbe(s, store, queryVec, nprobe = 4, k = 10,
      excludeVecId = Some(0L))
  }

  /** Probe the stored IVF layout: rank the centroids against the query
    * vector on the driver ([[annModel]], one model-read job), then read
    * only the nprobe best cells' parquet partitions and re-rank exactly
    * inside them. */
  def ivfProbe(s: SparkSession, storeDir: String,
      queryVec: Array[Long], nprobe: Int = 4, k: Int = 10,
      excludeVecId: Option[Long] = None): DataFrame = {
    val qv = array(queryVec.map(lit(_)).toIndexedSeq: _*)
    val cells = annModel(s, storeDir, codebook = false)
      .probeCells(queryVec, nprobe)
    val hits = s.read.schema(IvfVectorsSchema).parquet(s"$storeDir/vectors")
      .filter(col("cell_id").isin(cells: _*)) // partition prune
    excludeVecId.foldLeft(hits)((df, id) => df.filter(col("vec_id") =!= id))
      .select(col("vec_id"), col("label"), col("cell_id"),
        LongArrayDot(col("qe"), qv).as("dot_e12"))
      .orderBy(col("dot_e12").desc, col("vec_id"))
      .limit(k)
  }

  /** Declared write-then-probe binding of the stored IVF layout
    * (VERDICT r4 #3, the Similarity twin of q67): lay the corpus out
    * partition-by-cell in run-scoped tmpfs scratch (Ephemeral — the
    * probe reads it lazily, deletion happens at JVM exit), then answer
    * vec_id 0's query through `ivfProbe`'s centroid-rank + pruned
    * partition reads. Produces exactly q37c's rows (IvfStoreSpec asserts
    * the parity and the pruned plan shape), so the oracle is q37c's —
    * which is the point: the STORED path now sits under the driver's
    * hash gate, not only under ScalaTest. */
  def q68IvfProbe(s: SparkSession, d: String): DataFrame = {
    // fixedDir + overwrite-mode writes: see q67 — one store resident
    // per query key, not one per invocation
    val store = graft.util.Ephemeral.fixedDir("graft_ivf_store_q68")
    ivfWrite(s, d, store)
    val queryVec = embeddings(s, d).filter(col("vec_id") === 0)
      .select(quantize(col("embedding")).as("qe"))
      .head().getSeq[Long](0).toArray
    ivfProbe(s, store, queryVec, nprobe = 4, k = 10, excludeVecId = Some(0L))
  }

  // O-59/O-60 scale path for PAIRWISE embedding near-dup: BANDED
  // sign-LSH (round-3 keyed the pairwise join on one FULL 8-bit bucket —
  // 256 possible keys forever, so at 100x corpus the within-bucket pair
  // count grows as n^2/256 over a 256-key-skewed shuffle; a scale
  // ceiling). Now: nBands independent bands of bandBits planes each —
  // candidates share at least one FULL band key, then exact integer
  // re-verification at the same threshold as q36d. Band-key cardinality
  // is 2^bandBits PER BAND (4096 at the q36f default, up to 2^64), so
  // the key space grows with corpus size by config, not code change: at
  // 100 TB you'd run ~log2(n) bits per band. Structure mirrors q36b's
  // MinHash banding, including carrying qe through the band join so
  // verification happens inside it (dot is a function of the pair, so
  // distinct-ing (pair, dot) equals the candidates->verify plan).
  // Quantized projections => deterministic => oracle-checked; the result
  // is a subset of q36d's, with recall at true-near-dup cosine asserted
  // in TierCSpec. LSH math: P(bit agrees) = 1 - theta/pi, so a pair at
  // cosine c collides on one band with (1 - acos(c)/pi)^bandBits and
  // anywhere with 1-(1-p^bandBits)^nBands — ~92% at cosine 0.95 under
  // the 8x12 default, ~0 for unrelated pairs (the point: candidates
  // stay ~linear).
  /** Generic banded sign-LSH embedding near-dup over any
    * (vec_id, embedding) table; q36f binds the 8-band x 12-bit default
    * and q36d's 0.4-cosine verification threshold. */
  def embeddingNearDupLsh(emb: DataFrame, nBands: Int = NdBands,
      bandBits: Int = BandBits,
      minDot: Long = NdMinDot): DataFrame = {
    val banded = lshBandRows(emb, nBands, bandBits)
    // shuffle-hash: the self-join's two sides are the SAME plan, so the
    // band exchange is computed once and reused; a signature table never
    // broadcasts at 100 TB (same reasoning as q36b).
    banded.as("a").hint("shuffle_hash")
      .join(banded.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        LongArrayDot(col("a.qe"), col("b.qe")).as("dot_e12"))
      .filter(col("dot_e12") >= minDot)
      .distinct()
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The q36f verify threshold (quantized-dot e12 scale), exposed so
    * the unified cluster store's stored-layout replay of the emb_lsh
    * pair rule cannot drift from the in-query default (round 13). */
  private[graft] val NdMinDot: Long = 400000000000L

  /** (vec_id, qe, band, bkey): the q36f sign-LSH band rows, factored
    * out (round 13) so the in-query pair join and the unified cluster
    * store's PERSISTED emb_lsh index share one definition of the
    * quantize + plane-mask + band-key pipeline. */
  private[graft] def lshBandRows(emb: DataFrame, nBands: Int = NdBands,
      bandBits: Int = BandBits): DataFrame = {
    require(bandBits <= 64, "a band key packs into one long")
    emb
      .select(col("vec_id"), quantize(col("embedding")).as("qe"))
      .select(col("vec_id"), col("qe"),
        explode(array((0 until nBands).map(b => struct(lit(b).as("band"),
          SignLshSignature(col("qe"), (0 until bandBits).map(j =>
            planeMask(b * bandBits + j))).as("bkey"))): _*)).as("bb"))
      .select(col("vec_id"), col("qe"), col("bb.band").as("band"),
        col("bb.bkey").as("bkey"))
  }

  def q36fEmbeddingNeardupLsh(s: SparkSession, d: String): DataFrame =
    embeddingNearDupLsh(embeddings(s, d))

  // Embedding-cosine near-duplicate pairs (north-star dedup family):
  // (a < b) pairs with quantized cosine >= 0.4. Exact integer compare.
  /** All-pairs variant — a corpus-wide crossJoin, O(n^2) in the CORPUS:
    * retired as a declared query in round 9 (it was the tree's last
    * unbounded cartesian — VERDICT r8 "What's wrong" #1) and kept ONLY
    * as the small-N test oracle the TierC recall/subset specs compare
    * the scale paths against. The declared exact operator is
    * [[embeddingNearDupBlocked]]; the declared sub-quadratic recall
    * path is [[embeddingNearDupLsh]] (q36f). */
  private[graft] def embeddingNearDup(emb: DataFrame): DataFrame = {
    // quantize per SIDE (n rows), not per pair (n^2): the cross join
    // then runs only the codegen'd integer dot per pair. 20x over the
    // naive zip_with/aggregate-in-the-join formulation at sf0.1.
    val a = emb
      .select(col("vec_id").as("vec_a"), quantize(col("embedding")).as("qa"))
    val b = emb
      .select(col("vec_id").as("vec_b"), quantize(col("embedding")).as("qb"))
    a.crossJoin(b)
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        LongArrayDot(col("qa"), col("qb")).as("dot_e12"))
      .filter(col("dot_e12") >= 400000000000L)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** CELL-BLOCKED exact embedding near-dup (q36d since round 9): the
    * q81 confinement applied to the pair-emitting operator — assign
    * every vector to its trained coarse cell (row-local
    * [[coarseAssign]] against [[trainedCentroids]], the shared IVF
    * machinery), then run the exact integer compare ONLY within cells,
    * keeping the (vec_a < vec_b) canonicalization and the 0.4-cosine
    * threshold. Declared semantics are "near-dup pairs whose members
    * share a coarse cell" — the SemDeDup blocking contract (Abbas et
    * al. 2023): near-identical vectors land in the same cell at
    * near-dup cosine, so in-cell pairs are the pairs a curation
    * pipeline acts on, and the quadratic is bounded by max cell size
    * (quantizer-capped, never corpus-scaled). At 100 TB the cell
    * exchange is the stored partition-by-cell layout (q68) and the
    * self-join is partition-local; the previous corpus-wide crossJoin
    * was 10,000x the pair work at 100x the data.
    *
    * The self-join's two sides are the SAME plan (one exchange,
    * reused, shuffle-hash — the q36f/q81 reasoning; a corpus never
    * broadcasts). */
  def embeddingNearDupBlocked(emb: DataFrame,
      minDot: Long = 400000000000L, nCells: Int = 16): DataFrame = {
    val quantized = emb.filter(col("vec_id").isNotNull)
      .select(col("vec_id"), quantize(col("embedding")).as("qe"))
    val assigned = coarseAssign(quantized, trainedCentroids(quantized, nCells))
    assigned.as("a").hint("shuffle_hash")
      .join(assigned.as("b").hint("shuffle_hash"),
        col("a.cell_id") === col("b.cell_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        LongArrayDot(col("a.qe"), col("b.qe")).as("dot_e12"))
      .filter(col("dot_e12") >= minDot)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  def q36dEmbeddingNeardup(s: SparkSession, d: String): DataFrame =
    embeddingNearDupBlocked(embeddings(s, d))

  // O-27/O-56: custom typed Aggregator — per-label vector centroid sums
  // (exact integer per-dimension sums + count; mean = sum/n downstream).
  // Partial aggregation merges primitive arrays map-side, so the shuffle
  // carries one 64-long buffer per (label, partition), not the vectors.
  def labelCentroids(emb: DataFrame): DataFrame = {
    val centroid = udaf(graft.functions.CentroidAgg)
    emb
      .select(col("label"), quantize(col("embedding")).as("qe"))
      .groupBy(col("label"))
      .agg(centroid(col("qe")).as("sums"), count(lit(1)).as("n_vecs"))
      .select(col("label"), posexplode(col("sums")).as(Seq("dim_idx", "sum_q")),
        col("n_vecs"))
      .select(col("label"), col("dim_idx"), col("sum_q"), col("n_vecs"))
      .orderBy(col("label"), col("dim_idx"))
  }

  def q47CentroidUdaf(s: SparkSession, d: String): DataFrame =
    labelCentroids(embeddings(s, d))

  // O-81: product-quantization encoding — the compression half of the
  // canonical 100 TB ANN layout (IVF-PQ): each vector becomes M
  // sub-space codebook indices (here 8 codes over 8-dim sub-vectors =
  // 8 small ints replacing 256 bytes of float32), so a memory-resident
  // index holds billions of vectors. Codebook = the sub-vectors of the
  // first K vectors by id (deterministic sampled init — the k-means++
  // seeding step of a real trainer, which is exactly the part that must
  // be reproducible); assignment = exact argmin of quantized squared L2
  // via the identity |a-b|^2 = aa - 2ab + bb on the integer domain, so
  // the DuckDB oracle replays every code bit-for-bit.
  /** Generic PQ encode over any (vec_id, embedding) table: per-vector
    * space-joined code string (codes are engine-portable as text — the
    * driver compare stringifies columns) plus the total quantized
    * squared reconstruction-proxy error (sum of per-sub-space argmin
    * distances; 0 for the codebook's own vectors).
    *
    * Deterministic tie-break without engine-specific arg_min: pack
    * (dist, seed) into one BIGINT as dist*64+seed (dist <= ~2^42 at
    * unit norm, seed < K <= 64) and take the integer MIN — a plain
    * partially-aggregated min that both engines order identically.
    *
    * Scale shape: codebook = K*M tiny rows (broadcast); corpus side is
    * one scan fanned out M-fold, a broadcast join, codegen'd integer
    * dots (LongArrayDot — no interpreted zip_with in the hot path), and
    * two partial-agg'd groupBys whose keys are (vec_id, m) then vec_id
    * — the vectors themselves never shuffle, only M packed longs per
    * vector.
    *
    * Input contract: embeddings must be non-null, dim-length vectors
    * (the fixture guarantee). A wrong-length vector yields NULL
    * sub-space distances (LongArrayDot's unequal-length semantics),
    * which drop out of the min/sum rather than failing the job. */
  /** (m, seed, cv): the deterministic sampled codebook — sub-vectors of
    * the first k vectors by id. Tiny (k*m rows) at any corpus size. */
  private def pqSubVectors(emb: DataFrame, m: Int, subDim: Int): DataFrame =
    emb.filter(col("vec_id").isNotNull)
      .select(col("vec_id"), quantize(col("embedding")).as("q"))
      .select(col("vec_id"), explode(array((0 until m).map(i =>
        struct(lit(i).as("m"),
          slice(col("q"), i * subDim + 1, subDim).as("sv"))): _*)).as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv"))
      .withColumn("aa", LongArrayDot(col("sv"), col("sv")))

  /** (vec_id, m, packed): per-sub-space argmin vs the codebook, packed
    * as dist*64+seed (the integer tie-break both engines agree on) —
    * shared by the declared encoder (q74's store writer consumes the
    * same codes). */
  private[graft] def pqPacked(emb: DataFrame, m: Int, k: Int,
      dim: Int): DataFrame = {
    // the *64 packing reserves 6 bits for the seed id; a wider codebook
    // needs a wider pack factor, so fail loudly instead of colliding
    require(k >= 1 && k <= 64, s"pq codebook size $k not in [1,64]")
    require(m >= 1 && dim % m == 0,
      s"dim $dim not divisible into $m sub-spaces")
    val sub = pqSubVectors(emb, m, dim / m)
    val seeds = sub.filter(col("vec_id") < k)
      .select(col("m"), col("vec_id").as("seed"), col("sv").as("cv"),
        col("aa").as("bb"))
    pqPackedAgainst(sub, seeds)
  }

  /** The argmin-encode against an EXPLICIT (m, seed, cv, bb) codebook
    * — factored out so the incremental path (ivfPqAppend) encodes a
    * batch against the STORE'S frozen codebook instead of re-deriving
    * seeds from the batch (whose first-k rows are not the model). */
  private def pqPackedAgainst(sub: DataFrame,
      seeds: DataFrame): DataFrame =
    sub.join(broadcast(seeds), "m")
      .withColumn("dist", col("aa") -
        LongArrayDot(col("sv"), col("cv")) * 2 + col("bb"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(col("dist") * 64 + col("seed")).as("packed"))

  /** (vec_id, codes): the m-sorted code array a packed table folds to
    * — shared by the store writer, the incremental append, and (as a
    * string) the declared encoder. */
  private[graft] def packedToCodes(packed: DataFrame): DataFrame =
    packed.groupBy(col("vec_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("m"), col("packed")))),
        x => x.getField("packed") % 64).as("codes"))

  def pqEncode(emb: DataFrame, m: Int = 8, k: Int = 16,
      dim: Int = 64): DataFrame =
    pqPacked(emb, m, k, dim)
      .groupBy(col("vec_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("m"), col("packed")))),
          x => (x.getField("packed") % 64).cast("string"))).as("codes"),
        sum(expr("packed DIV 64")).as("err"))
      .orderBy(col("vec_id"))

  def q73PqEncode(s: SparkSession, d: String): DataFrame =
    pqEncode(embeddings(s, d))

  // O-83: coarse-quantizer training round — ONE distributed Lloyd
  // (k-means) update of the IVF centroids: assign every vector to its
  // nearest current centroid (broadcast, same rule the IVF family
  // uses), then emit each cell's exact integer per-dimension sums +
  // count. The new centroid is sum/n downstream (the q47 convention:
  // integer outputs are engine- and order-exact; the division is the
  // consumer's one float step). This is the textbook scalable k-means
  // iteration — broadcast centroids, one corpus scan, partial-agg'd
  // primitive-array sums, shuffle = one 64-long buffer per (cell,
  // partition) — and iterating it is the CC loop's hygiene problem
  // (materialize per round), already solved in Dedup.connectedComponents.
  /** One Lloyd update over any (vec_id, embedding) table: per-cell
    * integer centroid sums and member counts, cells = argmax quantized
    * dot vs the first-k sampled centroids (ties to the lower cell_id,
    * exactly the IVF assignment). */
  def kmeansUpdate(emb: DataFrame, k: Int = 16): DataFrame = {
    val centroid = udaf(graft.functions.CentroidAgg)
    val quantized = emb.filter(col("vec_id").isNotNull)
      .select(col("vec_id"), quantize(col("embedding")).as("qe"))
    val centroids = quantized.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell_id"), col("qe").as("ce"))
    coarseAssign(quantized, centroids)
      .groupBy(col("cell_id"))
      .agg(centroid(col("qe")).as("sums"), count(lit(1)).as("n_vecs"))
      .select(col("cell_id"),
        posexplode(col("sums")).as(Seq("dim_idx", "sum_q")),
        col("n_vecs"))
      .select(col("cell_id"), col("dim_idx"), col("sum_q"), col("n_vecs"))
      .orderBy(col("cell_id"), col("dim_idx"))
  }

  def q75KmeansUpdate(s: SparkSession, d: String): DataFrame =
    kmeansUpdate(embeddings(s, d))

  // O-82: IVF-PQ stored layout + ADC probe — the combination that IS
  // the industry-standard billion-vector index: coarse cells prune the
  // corpus (O-72's IVF layout), PQ codes (O-81) replace the vectors
  // inside each cell, and a probe scans CODES, never raw vectors,
  // against a per-query lookup table (asymmetric distance computation:
  // the query stays full-precision, the corpus is 8 bytes/vector).
  // Both model tables are k-bounded, so every consumer reads them in
  // ONE job ([[annModel]]) and derives the rest on the driver: the
  // probe's cell rank and lookup table, the append's frozen encode.
  // A probe is then one pruned code scan scored row-locally
  // ([[graft.functions.AdcEstimate]]) into a top-k.
  /** Write-time layout: vectors partitioned by coarse cell, each row
    * carrying ONLY (vec_id, label, codes) — the raw embedding is not
    * stored in the cells; plus the two tiny model tables (codebook,
    * centroids). Write cost: the assignment pass and the encode pass
    * share the one corpus scan's exchange; the (vec_id)-keyed join that
    * zips them shuffles ids+codes, not vectors. */
  def ivfPqWrite(s: SparkSession, d: String, storeDir: String,
      m: Int = 8, k: Int = 16, dim: Int = 64): Unit =
    ivfPqWriteDf(embeddings(s, d), storeDir, m, k, dim)

  /** The same layout over any (vec_id, embedding, label) DataFrame —
    * the form the retrain-then-rebuild binding (q91) composes with:
    * a rebuild IS this writer over corpus ∪ batch (the model tables —
    * trained centroids + codebook — are re-derived from the data
    * passed in, which is exactly what "retrain" means here).
    *
    * Plan shape (round 11): both model tables are k-bounded, so the
    * PQ codebook is collected ONCE (k rows) and the whole encode —
    * cell assignment AND codes — runs as two row-local codegen
    * expressions ([[graft.functions.ArgmaxCodebookDot]],
    * [[graft.functions.PqEncodeCodes]]) over a single corpus scan
    * straight into the partitioned write: no explode, no join, no
    * aggregation anywhere in the vectors job. (The previous
    * compositional encode — 8x sub-vector explode, broadcast seed
    * join, two wide groupBys, then a vec_id join back onto the
    * assignment — survives as q73's declared encoder and is the
    * independent implementation PqEncodeSpec pins this one against.)
    * The codebook table is materialized from the same collected model
    * rather than re-scanned. */
  def ivfPqWriteDf(emb: DataFrame, storeDir: String,
      m: Int = 8, k: Int = 16, dim: Int = 64): Unit = {
    require(k >= 1 && k <= 64, s"pq codebook size $k not in [1,64]")
    require(m >= 1 && dim % m == 0,
      s"dim $dim not divisible into $m sub-spaces")
    val s = emb.sparkSession
    import s.implicits._
    val subDim = dim / m
    val quantized = emb.filter(col("vec_id").isNotNull)
      .select(col("vec_id"), col("label"),
        quantize(col("embedding")).as("qe"))
    // q75-trained cells, not raw seeds (see trainedCentroids scaladoc).
    // Collected ONCE (round 18, guide §2.4 aggregate-once): the
    // trained table is k-bounded but its PLAN is a full-corpus
    // assign+aggregate, and the previous form executed that plan
    // twice — once inside coarseAssign's collect and once more for
    // the centroids-table write. One collect now feeds both.
    val cents = collectCentroids(trainedCentroids(quantized, 16))
    // the PQ model: first-k full vectors, collected (k-bounded by
    // definition), sliced into the per-sub-space codebook driver-side
    val seeds = quantized.filter(col("vec_id") < k)
      .select(col("vec_id"), col("qe")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
      .filter(_._2.length == dim)
      .sortBy(_._1).toIndexedSeq
    if (seeds.isEmpty)
      // degenerate corpus: a zero-row partitionBy write keeps no
      // schema-bearing file (the Dedup.clusterLabelsTable trap), so
      // the empty vectors table is written UNPARTITIONED with cell_id
      // as a plain column — consumers filter on cell_id either way,
      // they just lose directory pruning on a store with nothing to
      // prune
      quantized.limit(0)
        .select(col("vec_id"), col("label"),
          lit(null).cast("array<bigint>").as("codes"),
          lit(0).cast("int").as("cell_id"))
        .storeWrite.mode("overwrite").parquet(s"$storeDir/vectors")
    else
      coarseAssignCollected(quantized, cents)
        .withColumn("codes", graft.functions.PqEncodeCodes(col("qe"),
          seeds.map(_._1),
          (0 until m).flatMap(mi => seeds.flatMap(
            _._2.slice(mi * subDim, (mi + 1) * subDim))), m, subDim))
        .select(col("vec_id"), col("label"), col("codes"),
          col("cell_id"))
        .storeWrite.mode("overwrite").partitionBy("cell_id")
        .parquet(s"$storeDir/vectors")
    seeds.flatMap { case (id, qe) =>
      (0 until m).map(mi =>
        (mi, id, qe.slice(mi * subDim, (mi + 1) * subDim)))
    }.toDF("m", "seed", "cv")
      .storeWrite.mode("overwrite").parquet(s"$storeDir/codebook")
    // the centroids table writes from the collected rows — a local
    // relation, NOT a re-execution of the training aggregation
    cents.toSeq.toDF("cell_id", "ce")
      .storeWrite.mode("overwrite").parquet(s"$storeDir/centroids")
  }

  /** O-82 incremental path for the IVF-PQ layout (the ivfAppend
    * reasoning applied to the code store): each new vector is assigned
    * against the store's FROZEN centroids and encoded against its
    * FROZEN codebook (both k-bounded model tables, collected once and
    * riding as codegen reference objects — assignment and encode are
    * row-local maps over the batch), then appended into its
    * cell partition. Ingest cost is O(batch); probes immediately see
    * corpus ∪ batch THROUGH THE STALE MODEL — which is exactly the
    * drift q84's recall panel detects and q91's retrain repairs. */
  def ivfPqAppend(s: SparkSession, storeDir: String, emb: DataFrame,
      m: Int = 8, dim: Int = 64): Unit = {
    val subDim = dim / m
    val model = annModel(s, storeDir, codebook = true)
    val quantized = emb.filter(col("vec_id").isNotNull)
      .select(col("vec_id"), col("label"),
        quantize(col("embedding")).as("qe"))
    // the store's FROZEN codebook is k x m rows, read with the centroids
    // in one job: encode the batch row-locally (the writer's plan shape:
    // one batch scan, two codegen expressions, the partitioned append)
    val cbRows = model.codebook
    if (cbRows.isEmpty) return // empty model: nothing can encode
    val seedIds = cbRows.filter(_._1 == 0).map(_._2).toIndexedSeq
    require(cbRows.length == m * seedIds.length &&
      cbRows.forall(_._3.length == subDim),
      s"store codebook is not $m sub-spaces x ${seedIds.length} " +
        s"seeds of $subDim dims")
    coarseAssignCollected(quantized, model.centroids)
      .withColumn("codes", graft.functions.PqEncodeCodes(col("qe"),
        seedIds, cbRows.flatMap(_._3).toIndexedSeq, m, subDim))
      .select(col("vec_id"), col("label"), col("codes"), col("cell_id"))
      .storeWrite.mode("append").partitionBy("cell_id")
      .parquet(s"$storeDir/vectors")
  }

  /** The IVF-PQ code store's compaction twin (ivfPqAppend appends one
    * file set per touched cell per batch — the same small-files leak
    * every standing index bounds; 8-byte code rows, never vectors). */
  def ivfPqCompact(s: SparkSession, storeDir: String,
      maxFilesPerCell: Int = 4): Seq[Int] =
    BucketedStore.compactBuckets(s, s"$storeDir/vectors", "cell_id",
      Seq(col("vec_id"), col("label"), col("codes")),
      Seq("vec_id"), maxFilesPerCell)

  /** ADC probe in two engine jobs: ONE model read ([[annModel]]), a
    * driver-side rank of the nprobe cells and build of the m x k
    * lookup table of dot(query-sub, codebook-entry) — once per QUERY,
    * independent of corpus size — then one scan of only the probed
    * cells' parquet partitions, where each code row's estimate is the
    * row-local [[graft.functions.AdcEstimate]] kernel and the top k is
    * a TakeOrderedAndProject: no explode, no join, no exchange. The
    * corpus-sized side touches nprobe/k of the table and never a raw
    * vector. The estimate is exactly the sum of the row's matching
    * lookup-table terms (the inner-join semantics of the compositional
    * form that IvfStoreSpec keeps as its reference): a row with no
    * matching term is not a candidate. A vec_id stored twice (a
    * replayed append before compaction) is two candidate rows, each
    * with its own estimate. */
  def ivfPqProbe(s: SparkSession, storeDir: String, queryVec: Array[Long],
      nprobe: Int = 4, k: Int = 10, m: Int = 8,
      excludeVecId: Option[Long] = None): DataFrame =
    adcScored(s, storeDir, queryVec, nprobe, m, excludeVecId)
      .orderBy(col("est_dot_e12").desc, col("vec_id"))
      .limit(k)

  /** Every candidate row of the probed cells with its ADC estimate
    * (vec_id, label, cell_id, est_dot_e12): [[ivfPqProbe]] before its
    * top-k. */
  private def adcScored(s: SparkSession, storeDir: String,
      queryVec: Array[Long], nprobe: Int, m: Int,
      excludeVecId: Option[Long]): DataFrame = {
    val model = annModel(s, storeDir, codebook = true)
    val hits = s.read.schema(PqVectorsSchema).parquet(s"$storeDir/vectors")
      .filter(col("cell_id").isin(model.probeCells(queryVec, nprobe): _*))
    excludeVecId.foldLeft(hits)((df, id) => df.filter(col("vec_id") =!= id))
      .select(col("vec_id"), col("label"), col("cell_id"),
        graft.functions.AdcEstimate(col("codes"),
          model.lutRows(queryVec, m), m).as("est_dot_e12"))
      .filter(col("est_dot_e12").isNotNull)
  }

  /** Declared write-then-probe binding (the q67/q68 pattern): lay the
    * corpus out as IVF cells of PQ codes in run-scoped tmpfs scratch,
    * then answer vec_id 0's query via the ADC path. The honest benched
    * cost is the corpus-wide write + the code-only probe. */
  def q74IvfPqProbe(s: SparkSession, d: String): DataFrame = {
    val store = graft.util.Ephemeral.fixedDir("graft_ivfpq_store_q74")
    ivfPqWrite(s, d, store)
    val queryVec = embeddings(s, d).filter(col("vec_id") === 0)
      .select(quantize(col("embedding")).as("qe"))
      .head().getSeq[Long](0).toArray
    ivfPqProbe(s, store, queryVec, nprobe = 4, k = 10,
      excludeVecId = Some(0L))
  }

  /** Declared O-143 binding (IVF-PQ): the q74 geometry with the same
    * retraction slice as q88b — build the full-corpus code store once
    * per (JVM, sf), retract vec_id % 7 == 2 on a hard-linked clone,
    * answer vec 0's ADC probe. The model (trained centroids +
    * codebook) is FROZEN — a survivors-only retrain would differ by
    * design — so the oracle is q74's full replay (model trained over
    * the full corpus) with the retracted slice excluded from the
    * candidate set: exactly what "delete the rows, keep the model"
    * must produce. */
  def q74cIvfPqRetract(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val pristine = graft.util.Ephemeral.fixedDirBuiltOnce(
      graft.util.Ephemeral.sfKey("graft_ivfpq_retract_q74c", d))(
      dir => ivfPqWriteDf(emb, dir))
    val store = graft.util.Ephemeral.cloneDir(pristine, "q74c_store")
    ivfPqRetract(s, store,
      emb.filter(col("vec_id") >= 16 && col("vec_id") % 7 === 2)
        .select(col("vec_id"), col("embedding")))
    val queryVec = emb.filter(col("vec_id") === 0)
      .select(quantize(col("embedding")).as("qe"))
      .head().getSeq[Long](0).toArray
    ivfPqProbe(s, store, queryVec, nprobe = 4, k = 10,
      excludeVecId = Some(0L))
  }

  // O-112: ADC candidate re-ranking — the refinement stage every
  // production IVF-PQ deployment runs (Jégou et al. 2011 §V: ADC ranks
  // 8-byte codes, so its top-k is approximate twice over — coarse cells
  // prune and PQ quantizes; re-ranking the top-c ADC CANDIDATES by
  // exact distance over their full vectors recovers most of the recall
  // the codes gave up, at the cost of c point-reads instead of a corpus
  // scan). q74 stops at ADC; this is the quality knob between it and
  // the exact q37 scan.
  /** Re-rank the ADC top-`nCandidates` by exact quantized dot over the
    * candidates' full vectors, then keep the top `k`.
    *
    * Scale shape: the candidate set is c rows by construction (the ADC
    * probe's LIMIT), so it BROADCASTS against the raw-vector table —
    * the corpus side is one scan + broadcast hash join, no shuffle, and
    * only the c joined rows are quantized and dotted (at a production
    * layout the raw vectors live cell-partitioned beside the code
    * store, so the fetch is further partition-pruned to the probed
    * cells; the fixture reads the embeddings table). The re-rank sort
    * is c rows — driver-scale.
    * Every arithmetic step is exact integer, so the oracle replays
    * both the ADC candidate cut and the exact re-rank bit-for-bit. */
  def ivfPqProbeRerank(s: SparkSession, storeDir: String, emb: DataFrame,
      queryVec: Array[Long], nprobe: Int = 4, nCandidates: Int = 40,
      k: Int = 10, m: Int = 8,
      excludeVecId: Option[Long] = None): DataFrame = {
    // the cut is taken in ONE task: it feeds a broadcast, and a top-k
    // over a multi-task scan there adds a shuffle stage to merge the
    // tasks' cuts (a collect merges them on the driver instead)
    val cand = adcScored(s, storeDir, queryVec, nprobe, m, excludeVecId)
      .coalesce(1)
      .orderBy(col("est_dot_e12").desc, col("vec_id"))
      .limit(nCandidates)
      .select(col("vec_id"), col("est_dot_e12"))
    val qv = array(queryVec.map(lit(_)).toIndexedSeq: _*)
    // join first, then quantize: only the c candidates' vectors pay it
    emb.select(col("vec_id"), col("label"), col("embedding"))
      .join(broadcast(cand), Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("est_dot_e12"),
        LongArrayDot(quantize(col("embedding")), qv).as("dot_e12"))
      .orderBy(col("dot_e12").desc, col("vec_id"))
      .limit(k)
  }

  /** Declared build-probe-rerank binding: q74's layout (same fixed
    * store key — one resident store per JVM however many of q74/q84/
    * q99 run), vec 0's query, ADC top-40 re-ranked to an exact top-10.
    * The honest benched cost is the corpus-wide write + the code-only
    * probe + the broadcast-bounded re-rank scan. */
  def q99AdcRerank(s: SparkSession, d: String): DataFrame = {
    val store = graft.util.Ephemeral.fixedDir("graft_ivfpq_store_q74")
    ivfPqWrite(s, d, store)
    val queryVec = embeddings(s, d).filter(col("vec_id") === 0)
      .select(quantize(col("embedding")).as("qe"))
      .head().getSeq[Long](0).toArray
    ivfPqProbeRerank(s, store, embeddings(s, d), queryVec,
      nprobe = 4, nCandidates = 40, k = 10, excludeVecId = Some(0L))
  }

  // O-76 embedding outlier scoring: each vector's exact integer squared
  // L2 distance to its own label's centroid, top-OutlierK per label —
  // the anomaly/mislabel screen of an embedding-quality pipeline (the
  // vectors a curation pass reviews or drops before training). Exact
  // cross-engine math: the centroid is the FLOOR-DIVIDED per-dimension
  // mean of the quantized sums (both engines' % takes the dividend's
  // sign, so `s - ((s % n + n) % n)` is an exact multiple of n and the
  // one division is exact in double); distances are then pure BIGINT
  // (|diff| <= 2e6, squared and summed over 64 dims <= 2.6e14).
  //
  // Scale: one partial-aggregated shuffle for the centroids (the same
  // CentroidAgg buffer as q47 — one 64-long array per (label,
  // partition)), a broadcast of the |labels|-row centroid table back
  // onto the scan, then a per-label top-k window over rows carrying
  // only (label, vec_id, dist2) — never the vectors. At 100 TB the only
  // corpus-wide exchange is the top-k window's hash on label; skewed
  // label cardinalities would take the q49 salting treatment.
  private val OutlierK = 5

  /** s13's flag threshold on the quantized squared L2 distance (scale
    * 1e12 for unit-norm vectors): the ~95th percentile of the fixture's
    * dist2 distribution, stable across all three SFs (flags 33/35/58
    * vectors at sf0.001/0.01/0.1). */
  private[graft] val OutlierScreenDist2 = 1030000000000L

  /** Generic per-label outlier scan over any (vec_id, label, embedding)
    * table: (label, vec_id, dist2, rnk) for the k most distant vectors
    * from their label centroid, ties broken by vec_id. */
  /** (label, c): exact floor-divided per-dimension integer centroid of
    * each label's quantized vectors. Floor division without engine-
    * specific semantics: both engines' % takes the dividend's sign, so
    * `s - ((s % n + n) % n)` is an exact multiple of n, and the
    * integral division (Spark `div` / DuckDB `//` — not double `/`,
    * whose exactness ends at 2^53) is exact at any magnitude. Shared
    * by q79 and the s13 stream screen (the static broadcast side
    * there). */
  private[graft] def flooredLabelCentroids(emb: DataFrame): DataFrame = {
    val centroidAgg = udaf(graft.functions.CentroidAgg)
    emb
      .select(col("label"), quantize(col("embedding")).as("qe"))
      .groupBy(col("label"))
      .agg(centroidAgg(col("qe")).as("sums"), count(lit(1)).as("n"))
      .select(col("label"),
        expr("transform(sums, s -> (s - ((s % n + n) % n)) div n)")
          .as("c"))
  }

  /** (label, vec_id, dist2) appended to any (vec_id, label, embedding)
    * rows joined against a (label, c) centroid table — row-local past
    * the broadcast; stateless, so the same code runs on a stream. */
  private[graft] def centroidDist2(vecs: DataFrame,
      cent: DataFrame): DataFrame =
    vecs
      .select(col("vec_id"), col("label"),
        quantize(col("embedding")).as("qe"))
      .join(broadcast(cent), Seq("label"))
      .withColumn("d", zip_with(col("qe"), col("c"), (a, b) => a - b))
      .select(col("label"), col("vec_id"),
        LongArrayDot(col("d"), col("d")).as("dist2"))

  def labelOutliers(emb: DataFrame, k: Int = OutlierK): DataFrame = {
    val byLabel = Window.partitionBy(col("label"))
      .orderBy(col("dist2").desc, col("vec_id"))
    centroidDist2(emb, flooredLabelCentroids(emb))
      .withColumn("rnk", row_number().over(byLabel))
      .filter(col("rnk") <= k)
      .orderBy(col("label"), col("rnk"))
  }

  def q79EmbeddingOutliers(s: SparkSession, d: String): DataFrame =
    labelOutliers(embeddings(s, d))

  // O-111: seeded kNN label propagation — classifier-free labeling, the
  // curation move behind quality/domain classifiers trained from a
  // small curated seed set (FineWeb-Edu-style filtering without
  // shipping a model): every corpus vector takes the majority label of
  // its k nearest seeds by exact quantized cosine, with the vote count
  // as the confidence and agreement with the existing label as the
  // audit column (disagreements are the mislabel-review queue, the
  // q79 screen's supervised sibling).
  /** Propagate the labels of the first `nSeeds` vectors (the curated
    * seed set — ascending vec_id is the deterministic stand-in for a
    * human-labeled table) onto every other vector: k-nearest-seed
    * majority with the q37 rank rule (dot DESC, seed id ASC) and the
    * deterministic majority (count DESC, label ASC).
    *
    * Scale shape: the seed set is bounded by the labeling budget (a
    * few thousand rows at any corpus size), so it collects ONCE and
    * rides as [[graft.functions.KnnMajorityLabel]]'s reference arrays;
    * the corpus side is one scan with the whole vote — dots, top-k,
    * majority — row-local inside whole-stage codegen: NO data-dependent
    * exchange anywhere (the q65b posture, pinned in PlanShapeSpec).
    * The composable alternative (broadcast join + per-vector window +
    * majority groupBy) pays two corpus-sized shuffles for the same
    * answer. Seeds that cannot vote — NULL/wrong-length/NULL-element
    * vectors, NULL or negative labels (labels are ids; negative is
    * out of the packed-long domain) — are dropped from the panel on
    * BOTH sides (the oracle states label >= 0 — a NULL label fails
    * the comparison — and len(list_filter(qe, not-null)) = dim, which
    * rejects NULL vectors, wrong lengths, AND null elements). */
  def knnLabelPropagation(emb: DataFrame, nSeeds: Int = 32, k: Int = 5,
      dim: Int = 64): DataFrame = {
    val quantized = emb.filter(col("vec_id").isNotNull)
      .select(col("vec_id"), col("label"),
        quantize(col("embedding")).as("qe"))
    val seeds = quantized.filter(col("vec_id") < nSeeds)
      .collect() // bounded by the labeling budget, never the corpus
      .flatMap { r =>
        if (r.isNullAt(1) || r.isNullAt(2) || r.getInt(1) < 0) None
        else {
          val raw = r.getSeq[Any](2)
          if (raw.length != dim || raw.exists(_ == null)) None
          else Some((r.getLong(0), r.getInt(1).toLong,
            raw.map(_.asInstanceOf[Long])))
        }
      }
      .sortBy(_._1).toIndexedSeq
    require(seeds.nonEmpty, s"no well-formed seed vectors below $nSeeds")
    quantized.filter(col("vec_id") >= nSeeds)
      .withColumn("packed", graft.functions.KnnMajorityLabel(col("qe"),
        seeds.map(_._2), seeds.flatMap(_._3), dim, k))
      .select(col("vec_id"), col("label"),
        col("packed").bitwiseAND(lit(0xFFFFFFFFL)).cast("int")
          .as("plabel"),
        shiftright(col("packed"), 32).cast("int").as("votes"))
      .withColumn("agree", col("label") === col("plabel"))
      .orderBy(col("vec_id"))
  }

  def q98KnnLabelProp(s: SparkSession, d: String): DataFrame =
    knnLabelPropagation(embeddings(s, d))

  // O-88 exact kNN join within label blocks: every vector's k nearest
  // same-label neighbors by exact quantized squared L2 — the kNN-GRAPH
  // construction step (near-dup graphs for O-66's clustering, diversity
  // sampling, and the edge lists graph-ANN indexes are seeded from).
  // Blocked-exact shape: the self-join is bounded by the label block,
  // never all-pairs across the corpus; at 100 TB the same code runs per
  // IVF cell (q37c/q68 assignment machinery) so block size is capped by
  // |cell| regardless of corpus growth — the standard blocked kNN join.
  // Spark prunes the per-vector rank to a running top-k inside the
  // window sort (InferWindowGroupLimit), so the full pair set never
  // materializes past its own stage. Tie-break (dist2, neighbor_id) is
  // engine-exact integer ordering.
  private val KnnK = 3

  /** Generic blocked exact kNN join over any (vec_id, label, embedding)
    * table: (label, vec_id, neighbor_id, dist2, rnk), k nearest
    * same-label neighbors per vector. */
  def knnJoin(emb: DataFrame, k: Int = KnnK): DataFrame = {
    // dist2 via the integer identity |a-b|^2 = aa - 2ab + bb (the q73
    // convention): the self-norms are computed once per VECTOR, so the
    // per-PAIR work is a single codegen LongArrayDot — a zip_with
    // difference array here would be an interpreted HOF allocation per
    // pair (measured ~2x the whole query)
    val a = emb.select(col("vec_id"), col("label"),
      quantize(col("embedding")).as("qa"))
      .withColumn("aa", LongArrayDot(col("qa"), col("qa")))
    val b = emb.select(col("vec_id").as("neighbor_id"), col("label"),
      quantize(col("embedding")).as("qb"))
      .withColumn("bb", LongArrayDot(col("qb"), col("qb")))
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist2"), col("neighbor_id"))
    a.join(b, Seq("label"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("label"), col("vec_id"), col("neighbor_id"),
        (col("aa") + col("bb") -
          lit(2L) * LongArrayDot(col("qa"), col("qb"))).as("dist2"))
      .withColumn("rnk", row_number().over(byVec))
      .filter(col("rnk") <= k)
      .orderBy(col("vec_id"), col("rnk"))
  }

  def q80KnnJoin(s: SparkSession, d: String): DataFrame =
    knnJoin(embeddings(s, d))

  // O-89: SemDeDup-style cell-blocked semantic dedup — the embedding
  // family's PRUNED-CORPUS deliverable (Abbas et al. 2023: cluster
  // embeddings so the pairwise check is local, then prune near-identical
  // members within each cluster). q36d/q36f emit near-dup PAIRS; this
  // emits the per-vector keep/drop decision the pipeline actually ships,
  // and its quadratic is bounded by the CELL, never the corpus.
  //
  // Deterministic greedy rule (order-fixed, non-recursive — both engines
  // replay it exactly): vector v is DROPPED iff some vector u in the
  // same coarse cell has u.vec_id < v.vec_id and quantized dot(u, v) >=
  // the q36d near-dup threshold. "Keep the earliest of every in-cell
  // similar group" — the SemDeDup keep-one-representative step with
  // vec_id as the fixed priority (the paper keeps a random/centroid-
  // ranked one; a stable id rank is the reproducible choice).
  //
  // Scale: assignment is the shared coarseAssign rule (at 100 TB it is
  // the WRITE-TIME layout — q68's partition-by-cell store — and the
  // cells come from q75-trained centroids, so cell size is capped by
  // the quantizer, not corpus growth). The in-cell self-join reuses one
  // exchange (same plan both sides, shuffle-hash), per-pair work is a
  // single codegen LongArrayDot, and the dropped-id set — bounded by
  // the duplicate count, a small fraction of any deduped corpus — is
  // the broadcast side of the final flag join. Vectors shuffle once
  // (the cell exchange); at the stored layout they never shuffle at
  // all (cells are parquet partitions, the join is partition-local).
  /** Generic cell-blocked semantic dedup over any (vec_id, label,
    * embedding) table: (vec_id, label, cell_id, kept), kept = no
    * earlier same-cell vector within the near-dup dot threshold. */
  def semanticDedup(emb: DataFrame, minDot: Long = 400000000000L,
      nCells: Int = 16): DataFrame = {
    val quantized = emb.filter(col("vec_id").isNotNull)
      .select(col("vec_id"), col("label"),
        quantize(col("embedding")).as("qe"))
    val assigned = coarseAssign(quantized, trainedCentroids(quantized, nCells))
    val dropped = assigned.as("a").hint("shuffle_hash")
      .join(assigned.as("b").hint("shuffle_hash"),
        col("a.cell_id") === col("b.cell_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(LongArrayDot(col("a.qe"), col("b.qe")) >= minDot)
      .select(col("b.vec_id").as("vec_id")).distinct()
    assigned
      .join(broadcast(dropped.withColumn("is_dup", lit(true))),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("cell_id"),
        col("is_dup").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  def q81SemanticDedup(s: SparkSession, d: String): DataFrame =
    semanticDedup(embeddings(s, d))

  // O-92: ANN recall audit — the governance metric every production
  // ANN deployment watches (VERDICT r8 #3): recall@10 of the declared
  // approximate probes (q74's IVF-PQ ADC, its q99 re-rank tier, q37b's
  // multi-probe sign-LSH) against the exact q37-rule answer, for a
  // FIXED 8-probe panel (round 10; a single probe was an existence
  // proof a lucky/unlucky query vector could mask). The adc vs adc_rr
  // rows decompose the loss: their gap is what PQ quantization costs,
  // the rr row's gap to 10 is what the coarse-cell prune costs — the
  // panel localizes WHICH approximation drifted. Deterministic by
  // construction — every side is exact integer arithmetic, so the
  // oracle replays the approximations themselves and the hit counts
  // bit-for-bit. Reported per probe as exact integer hits out of k
  // plus per-method min/sum (no float recall — the driver compare
  // stringifies, and hits/k is the consumer's one division; min is
  // the page threshold, sum/P the mean).
  //
  // Scale: ONE layout build + one pruned union-of-cells code scan for
  // the whole panel (panelAdc), one exact corpus scan and one
  // bucketed scan shared across probes via broadcast panels — cost is
  // O(corpus scan), not O(P probes). At 100 TB this query IS the
  // nightly recall job: it alerts on recall drift when the corpus
  // moves away from its trained centroids (the re-train trigger; see
  // SCALE.md "Recall governance").
  /** The fixed recall-audit probe panel (round 10, closing O-92's
    * "fixed probe panel" promise): 8 ids that exist at every fixture
    * scale, mixing coarse-quantizer seeds (< 16) with ordinary corpus
    * vectors. A single probe is an existence proof a lucky query can
    * fake; the panel's per-probe rows localize drift and its min is
    * the alert threshold a nightly job pages on. */
  private[graft] val ProbePanel: Seq[Long] =
    Seq(0L, 3L, 7L, 11L, 17L, 42L, 137L, 311L)

  /** Exact top-k for EVERY panel probe in one corpus scan: broadcast
    * the P probe vectors, one codegen dot per (row, probe), window
    * top-k per probe — per-probe rows identical to q37's
    * orderBy-limit rule (same total order). */
  private[graft] def panelExact(emb: DataFrame, panel: Seq[Long],
      k: Int): DataFrame = {
    val probes = broadcast(emb.filter(col("vec_id").isin(panel: _*))
      .select(col("vec_id").as("probe_id"),
        quantize(col("embedding")).as("qv")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("dot_e12").desc, col("vec_id"))
    emb.select(col("vec_id"), quantize(col("embedding")).as("qe"))
      .crossJoin(probes)
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        LongArrayDot(col("qe"), col("qv")).as("dot_e12"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("probe_id"), col("vec_id"))
  }

  /** Sign-LSH top-k for every panel probe in one bucketed scan (the
    * q37b path, panel-broadcast like [[panelExact]]). */
  private def panelLsh(emb: DataFrame, panel: Seq[Long],
      k: Int): DataFrame = {
    val masks = (0 until NPlanes).map(planeMask)
    val bucketed = emb
      .select(col("vec_id"), quantize(col("embedding")).as("qe"))
      .withColumn("bucket", SignLshSignature(col("qe"), masks))
    val probes = broadcast(bucketed.filter(col("vec_id").isin(panel: _*))
      .select(col("vec_id").as("probe_id"), col("qe").as("qv"),
        col("bucket").as("qbucket")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("dot_e12").desc, col("vec_id"))
    bucketed.join(probes, expr("bit_count(bucket ^ qbucket) <= 3"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        LongArrayDot(col("qe"), col("qv")).as("dot_e12"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("probe_id"), col("vec_id"))
  }

  /** ADC top-k for every panel probe against ONE stored layout: the
    * per-probe nprobe cell ranking and the panel LUT are driver
    * computations over the one model read ([[annModel]]: k x P
    * integer dots — the documented bounded point-read, same math as
    * ivfPqProbe's), then the whole panel shares ONE partition-pruned
    * read of the UNION of probed cells, one broadcast panel LUT keyed
    * (probe_id, m, code),
    * and a window top-k per probe confined to that probe's own cells
    * via the broadcast (probe_id, cell_id) table. Cost: one pruned
    * code scan for the panel, vs P full probes. */
  private[graft] def panelAdc(s: SparkSession, store: String, emb: DataFrame,
      panel: Seq[Long], nprobe: Int, k: Int, m: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("est_dot_e12").desc, col("vec_id"))
    panelAdcCandidates(s, store, emb, panel, nprobe, m)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("probe_id"), col("vec_id"), col("est_dot_e12"))
  }

  /** The panel's FULL ADC candidate table — every vector of every
    * probed cell with its estimated dot AND the cell's RANK in that
    * probe's coarse ordering. A smaller nprobe's candidate set is
    * exactly the cell_rank prefix, so ONE pruned scan at maxNprobe
    * serves every nprobe tier below it ([[panelAdc]] is the
    * rank-oblivious top-k consumer; q84b's sweep windows each prefix).
    */
  private[graft] def panelAdcCandidates(s: SparkSession, store: String,
      emb: DataFrame, panel: Seq[Long], maxNprobe: Int,
      m: Int): DataFrame = {
    import s.implicits._
    val pvs = emb.filter(col("vec_id").isin(panel: _*))
      .select(col("vec_id"), quantize(col("embedding")).as("qe"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1).toSeq
    val model = annModel(s, store, codebook = true)
    // ivfPqProbe's rank rule per probe: (qdot DESC, cell_id)
    val probeCells = pvs.flatMap { case (pid, qv) =>
      model.probeCells(qv, maxNprobe).zipWithIndex
        .map { case (cid, r) => (pid, cid, r + 1) }
    }
    val cellSet = probeCells.map(_._2).distinct
    val lut = pvs.flatMap { case (pid, qv) =>
      model.lutRows(qv, m).map { case (mi, code, ld) => (pid, mi, code, ld) }
    }.toDF("probe_id", "m", "code", "ld")
    val pcDf = probeCells.toDF("probe_id", "cell_id", "cell_rank")
    s.read.schema(PqVectorsSchema).parquet(s"$store/vectors")
      .filter(col("cell_id").isin(cellSet: _*)) // partition prune
      .join(broadcast(pcDf), Seq("cell_id"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("cell_rank"),
        posexplode(col("codes")).as(Seq("m", "code")))
      .join(broadcast(lut), Seq("probe_id", "m", "code"))
      // cell_rank is functionally determined by (probe_id, vec_id):
      // a vector lives in exactly one cell
      .groupBy(col("probe_id"), col("vec_id"), col("cell_rank"))
      .agg(sum(col("ld")).as("est_dot_e12"))
  }

  /** O-112's refinement audited panel-wide: a probe's ADC top-c
    * CANDIDATE table ((probe_id, vec_id) rows — P x c by construction)
    * re-ranked by exact dot over the candidates' full vectors. The
    * candidates broadcast against the raw-vector scan (the q99 shape,
    * shared across the panel), and only the joined P x c rows are
    * quantized; the re-rank window runs over P x c rows —
    * driver-scale. */
  private def panelAdcRerank(emb: DataFrame, panel: Seq[Long],
      cand: DataFrame, k: Int): DataFrame = {
    val probes = broadcast(emb.filter(col("vec_id").isin(panel: _*))
      .select(col("vec_id").as("probe_id"),
        quantize(col("embedding")).as("qv")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("dot_e12").desc, col("vec_id"))
    emb.select(col("vec_id"), col("embedding"))
      .join(broadcast(cand.select(col("probe_id"), col("vec_id"))),
        Seq("vec_id"))
      .join(probes, Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        LongArrayDot(quantize(col("embedding")), col("qv")).as("dot_e12"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("probe_id"), col("vec_id"))
  }

  def q84AnnRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE layout build for the whole panel, into q74's own fixed store
    // key (VERDICT r9 #7: the audit previously re-ran q74 wholesale,
    // paying the write per audited method) — mode("overwrite") writes
    // of identical content make the share order-independent.
    val store = graft.util.Ephemeral.fixedDir("graft_ivfpq_store_q74")
    ivfPqWrite(s, d, store)
    val emb = embeddings(s, d)
    val exact = Dedup.materializeBounded(
      panelExact(emb, ProbePanel, 10)) // P x k rows, probed per method
    val panelDf = ProbePanel.toDF("probe_id")
    // ONE pruned code scan serves BOTH adc tiers: the ADC top-10 is a
    // rank-prefix of the top-40 candidate cut (same (est DESC, vec_id)
    // total order), so the audit materializes the P x 40 table once
    // and re-ranks it two ways instead of scanning the cells twice
    val cand40 = Dedup.materializeBounded(panelAdc(s, store, emb,
      ProbePanel, nprobe = 4, k = 40, m = 8))
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("est_dot_e12").desc, col("vec_id"))
    val sides = Seq(
      ("ivfpq_adc", cand40
        .withColumn("rn", row_number().over(wAdc))
        .filter(col("rn") <= 10)
        .select(col("probe_id"), col("vec_id"))),
      // the re-rank tier (q99) audited beside the raw ADC: the gap
      // between the two rows is exactly the recall PQ quantization
      // costs, and the gap to 10 is what the coarse cells cost —
      // the panel now localizes WHICH approximation drifted
      ("ivfpq_adc_rr", panelAdcRerank(emb, ProbePanel, cand40, 10)),
      ("sign_lsh", panelLsh(emb, ProbePanel, 10)))
    val wm = Window.partitionBy(col("method"))
    sides.map { case (meth, approx) =>
      panelHits(meth, approx, exact, panelDf)
    }.reduce(_ unionByName _)
      .withColumn("min_hits", min(col("hits")).over(wm))
      .withColumn("sum_hits", sum(col("hits")).over(wm))
      .orderBy(col("method"), col("probe_id"))
  }

  // O-124 (q84b): NPROBE-SWEEP recall table — the q94/q45h "sweep the
  // decision" move applied to the ANN probe knob: nprobe is the
  // latency/recall dial every IVF deployment tunes (more probed cells
  // = more point-reads per query = higher recall), and tuning it by
  // re-running the probe per candidate value pays the pruned scan N
  // times. This sweep pays it ONCE: the candidate table carries each
  // vector's CELL RANK in its probe's coarse ordering, a smaller
  // nprobe's candidate set is exactly the rank prefix, so all four
  // tiers' top-10s are windows over one materialized scan — then each
  // tier audits against the same exact panel (the q84 presentation:
  // per-probe hits with per-tier min/sum). The output is the
  // recall-vs-nprobe curve a team reads to pick the cheapest nprobe
  // meeting their recall floor.
  def q84bNprobeSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val store = graft.util.Ephemeral.fixedDir("graft_ivfpq_store_q74")
    ivfPqWrite(s, d, store)
    val emb = embeddings(s, d)
    val exact = Dedup.materializeBounded(
      panelExact(emb, ProbePanel, 10))
    val cand = Dedup.materializeBounded(
      panelAdcCandidates(s, store, emb, ProbePanel, 4, 8))
    val panelDf = ProbePanel.toDF("probe_id")
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("est_dot_e12").desc, col("vec_id"))
    val wn = Window.partitionBy(col("nprobe"))
    (1 to 4).map { np =>
      panelHits(s"np$np",
        cand.filter(col("cell_rank") <= np)
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
          .select(col("probe_id"), col("vec_id")),
        exact, panelDf)
        .withColumn("nprobe", lit(np))
    }.reduce(_ unionByName _)
      .select(col("nprobe"), col("probe_id"), col("hits"), col("k"))
      .withColumn("min_hits", min(col("hits")).over(wn))
      .withColumn("sum_hits", sum(col("hits")).over(wn))
      .orderBy(col("nprobe"), col("probe_id"))
  }

  // O-138 (q84c): RECALL-FLOOR nprobe selection — the operational
  // closure of the q84b sweep (round 16; SCALE.md's 10x measurement
  // showed fixed-nprobe recall degrading 27/80 -> 14/80 -> 5/80 as
  // the corpus grows, and the stated operational rule was "re-run
  // the sweep and pick the cheapest nprobe meeting the recall
  // floor" — this query IS that pick, so the tuning decision is an
  // oracle-checked artifact instead of a human reading a curve).
  // Rule: the SMALLEST nprobe whose panel sum_hits meets the floor
  // (24 of 80 = 30% recall); if no tier meets it, the largest swept
  // tier is chosen — the honest fallback, surfacing as a `chosen`
  // row whose sum_hits is visibly below the floor (the signal to
  // retrain cells, q91, rather than probe wider).
  /** One row per swept nprobe tier with the panel's sum/min hits and
    * the chosen flag. All-integer (hit counts), so the oracle
    * replays bit-for-bit. Scale shape: q84b's one pruned candidate
    * scan + a 4-row aggregate — the decision adds nothing
    * corpus-sized. */
  def q84cNprobeFloor(s: SparkSession, d: String): DataFrame = {
    val agg = Dedup.materializeBounded(q84bNprobeSweep(s, d)
      .select(col("nprobe"), col("sum_hits"), col("min_hits"))
      .distinct()) // 4 rows: the sweep's per-tier window values
    val chosen = agg.agg(
      coalesce(min(when(col("sum_hits") >= RecallFloorHits,
          col("nprobe"))),
        max(col("nprobe"))).as("chosen_np"))
    agg.crossJoin(broadcast(chosen))
      .select(col("nprobe"), col("sum_hits"), col("min_hits"),
        (col("nprobe") === col("chosen_np")).as("chosen"))
      .orderBy(col("nprobe"))
  }

  /** 30% of the 8-probe x k=10 panel. */
  private val RecallFloorHits = 24L

  /** Per-probe hit counts of one approximate method against the exact
    * panel — left-joined FROM the panel so a zero-hit probe still
    * reports 0 (shared by q84's audit and q91's before/after drift
    * readout). */
  private[graft] def panelHits(method: String, approx: DataFrame,
      exact: DataFrame, panelDf: DataFrame): DataFrame =
    panelDf.join(
        approx.join(exact, Seq("probe_id", "vec_id"))
          .groupBy(col("probe_id"))
          .agg(count(lit(1)).as("h")),
        Seq("probe_id"), "left_outer")
      .select(lit(method).as("method"), col("probe_id"),
        coalesce(col("h"), lit(0L)).as("hits"), lit(10L).as("k"))

  // O-101 (q91): the declared RETRAIN binding that closes the ANN
  // model-lifecycle loop (VERDICT r10 #4). The production cadence the
  // store family documents is: batches land against a FROZEN model
  // (q88/ivfPqAppend), the nightly recall panel (q84) watches for
  // drift, and when it drifts the codebook+centroids retrain OFFLINE
  // and the layout rebuilds. q91 declares that whole loop once: build
  // the store WITHOUT the drifted day, append the drifted day against
  // the frozen model, read the panel (phase 'before' — the paging
  // signal), then retrain on corpus ∪ batch (trainedCentroids = q75's
  // Lloyd round with the division applied; the codebook re-derives
  // from the same first-k construction q73 declares) and REBUILD the
  // layout from scratch — after which the store is byte-equal to a
  // never-appended build over the full corpus (the q88
  // append-equals-rebuild property, lifted to the model tables;
  // pinned in IvfStoreSpec) — and read the panel again (phase
  // 'after').
  //
  // Oracle: both phases have closed forms because ivfPqAppend is a
  // pure function of (vector, frozen model): the 'before' store
  // equals a from-scratch layout whose MODEL trained on the base
  // corpus only (assignment and codes are row-local maps, so
  // append-time rows get exactly what build-time rows get under the
  // same model), and the 'after' store equals the full-corpus q74
  // layout — so the oracle re-binds q74's replay SQL with the
  // training CTE restricted to the base corpus for 'before' and
  // unrestricted for 'after', against the same full-corpus exact
  // panel.
  def q91AnnRetrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val store = graft.util.Ephemeral.fixedDir("graft_ivfpq_store_q91")
    val emb = embeddings(s, d)
    // the drifted day: every third vector outside the seed range —
    // big enough (~1/3 of the corpus) that the frozen cells genuinely
    // misshape, deterministic at every fixture scale
    val driftPred = col("vec_id") >= 16 && col("vec_id") % 3 === 1
    ivfPqWriteDf(emb.filter(!driftPred), store)
    ivfPqAppend(s, store, emb.filter(driftPred))
    val exact = Dedup.materializeBounded(panelExact(emb, ProbePanel, 10))
    val panelDf = ProbePanel.toDF("probe_id")
    def phasePanel(phase: String): DataFrame = {
      val wp = Window.partitionBy(col("phase"))
      panelHits(phase, panelAdc(s, store, emb, ProbePanel,
          nprobe = 4, k = 10, m = 8), exact, panelDf)
        .withColumnRenamed("method", "phase")
        .withColumn("min_hits", min(col("hits")).over(wp))
        .withColumn("sum_hits", sum(col("hits")).over(wp))
    }
    // the 'before' readout must MATERIALIZE before the rebuild: the
    // panel plan holds the store's pre-rebuild file listing (the
    // documented snapshot caveat on neardupClusterStoreUpdate)
    val before = Dedup.materializeBounded(phasePanel("before"))
    ivfPqWriteDf(emb, store) // retrain on corpus ∪ batch + rebuild
    before.unionByName(phasePanel("after"))
      .orderBy(col("phase"), col("probe_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q37_similarity_topk" -> (q37SimilarityTopk _),
    "q37b_similarity_lsh" -> (q37bSimilarityLsh _),
    "q37c_similarity_ivf" -> (q37cSimilarityIvf _),
    "q68_ivf_probe" -> (q68IvfProbe _),
    "q88_ivf_append" -> (q88IvfAppend _),
    "q88b_ivf_retract" -> (q88bIvfRetract _),
    "q74c_ivfpq_retract" -> (q74cIvfPqRetract _),
    "q36d_embedding_neardup" -> (q36dEmbeddingNeardup _),
    "q36f_embedding_neardup_lsh" -> (q36fEmbeddingNeardupLsh _),
    "q47_centroid_udaf" -> (q47CentroidUdaf _),
    "q73_pq_encode" -> (q73PqEncode _),
    "q74_ivfpq_probe" -> (q74IvfPqProbe _),
    "q75_kmeans_update" -> (q75KmeansUpdate _),
    "q79_embedding_outliers" -> (q79EmbeddingOutliers _),
    "q80_knn_join" -> (q80KnnJoin _),
    "q81_semantic_dedup" -> (q81SemanticDedup _),
    "q84_ann_recall" -> (q84AnnRecall _),
    "q84b_nprobe_sweep" -> (q84bNprobeSweep _),
    "q84c_nprobe_floor" -> (q84cNprobeFloor _),
    "q91_ann_retrain" -> (q91AnnRetrain _),
    "q98_knn_label_prop" -> (q98KnnLabelProp _),
    "q99_adc_rerank" -> (q99AdcRerank _),
  )

  private val dotSql =
    """CAST(list_sum([CAST(round(CAST(%s[i] AS DOUBLE)*1000000, 0) AS BIGINT)
      | * CAST(round(CAST(%s[i] AS DOUBLE)*1000000, 0) AS BIGINT)
      | FOR i IN generate_series(1, len(%s))]) AS BIGINT)""".stripMargin

  /** DuckDB list literal of plane p's +-1 components. */
  private def planeSql(p: Int): String =
    planeComponents(p).mkString("[", ",", "]")

  /** DuckDB list literal of the first n plane MASKS (one BIGINT each —
    * the banded oracle unpacks components via (m >> (i-1)) & 1, keeping
    * a 64-plane signature to ~1.3 KB of SQL instead of ~20 KB of
    * component lists). */
  private def maskListSql(n: Int): String =
    (0 until n).map(p => s"CAST(${planeMask(p)} AS BIGINT)")
      .mkString("[", ",", "]")

  private val qeSql =
    "[CAST(round(CAST(e AS DOUBLE)*1000000, 0) AS BIGINT) FOR e IN embedding]"

  /** Integer dot product of two quantized BIGINT list columns. */
  private def qdotSql(a: String, b: String): String =
    s"CAST(list_sum([$a[i] * $b[i] FOR i IN generate_series(1, len($a))])" +
      " AS BIGINT)"

  /** CTE block replaying [[trainedCentroids]]: seed-assign round (argmax
    * dot, ties to lower cell) then per-cell floor-divided integer means
    * (the q79 division convention) — emitted as a `cent(cell_id, ce)`
    * CTE over an existing `q(vec_id, qe)` CTE. Shared by the q81 and
    * q74 oracles so the trained-assignment semantics are stated once. */
  private val trainedCentSql = trainedCentSqlOver("q")

  /** The same block with the TRAINING corpus parameterized (q91: the
    * 'before' phase's model trained on the base corpus only, while
    * assignment/encode still run over the full one — exactly what a
    * frozen-model append produces). `src` must be a CTE with
    * (vec_id, qe). */
  private def trainedCentSqlOver(src: String): String =
    s"""cent0 AS (SELECT vec_id AS cell_id, qe AS ce FROM $src
       |  WHERE vec_id < 16),
       |dots0 AS (
       |  SELECT $src.vec_id, $src.qe, cent0.cell_id,
       |    ${qdotSql(s"$src.qe", "cent0.ce")} AS cdot
       |  FROM $src, cent0),
       |a0 AS (
       |  SELECT vec_id, qe, cell_id FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cdot DESC, cell_id) AS rn
       |    FROM dots0) WHERE rn = 1),
       |ex0 AS (
       |  SELECT cell_id, CAST(i AS INT) AS d, qe[i] AS v
       |  FROM a0, UNNEST(generate_series(1, len(qe))) AS t(i)),
       |cs0 AS (
       |  SELECT cell_id, d, CAST(sum(v) AS BIGINT) AS s, count(*) AS n
       |  FROM ex0 GROUP BY 1, 2),
       |cent AS (
       |  SELECT cell_id,
       |    list(CAST((s - ((s % n + n) % n)) // n AS BIGINT) ORDER BY d)
       |      AS ce
       |  FROM cs0 GROUP BY cell_id)""".stripMargin

  /** IVF result in SQL (coarse assignment by max centroid dot, probe =
    * the 4 cells nearest the query, exact re-rank inside them) — the
    * oracle of q37c (in-query IVF), q68 (stored-layout probe), and —
    * with `exclude` — q88b (retracted-store probe: assignment and the
    * probe's cell ranking run over the FULL corpus model, only the
    * candidate set loses the retracted slice — which for this seed-
    * centroid layout equals the survivors' own rebuild). */
  private def ivfOracleSqlExcluding(exclude: String): String =
    s"""WITH q AS (
       |  SELECT vec_id, label, $qeSql AS qe FROM embeddings),
       |cent AS (SELECT vec_id AS cell_id, qe AS ce FROM q
       |  WHERE vec_id < 16),
       |dots AS (
       |  SELECT q.vec_id, q.label, q.qe, cent.cell_id,
       |    ${qdotSql("q.qe", "cent.ce")} AS cdot
       |  FROM q, cent),
       |assigned AS (
       |  SELECT vec_id, label, qe, cell_id FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY cdot DESC, cell_id) AS rn
       |    FROM dots) WHERE rn = 1),
       |qv AS (SELECT qe AS qq FROM q WHERE vec_id = 0),
       |probe AS (
       |  SELECT cell_id FROM cent, qv
       |  ORDER BY ${qdotSql("ce", "qv.qq")} DESC, cell_id LIMIT 4)
       |SELECT a.vec_id, a.label, a.cell_id,
       |  ${qdotSql("a.qe", "qv.qq")} AS dot_e12
       |FROM assigned a JOIN probe USING (cell_id), qv
       |WHERE a.vec_id != 0$exclude
       |ORDER BY dot_e12 DESC, vec_id LIMIT 10""".stripMargin

  private val ivfOracleSql: String = ivfOracleSqlExcluding("")

  /** The q88b/q74c retraction slice as a SQL exclusion clause. */
  private val retractExcludeSql =
    " AND NOT (a.vec_id >= 16 AND a.vec_id % 7 = 2)"

  /** q37's exact-scan oracle for an arbitrary probe id (round 10: the
    * q84 panel re-binds it once per panel member; the q37 entry stays
    * the vec 0 binding). */
  private def q37OracleSqlFor(pid: Long): String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings
         |  WHERE vec_id = $pid)
         |SELECT vec_id, label,
         |  ${dotSql.format("embedding", "qv", "embedding")} AS dot_e12
         |FROM embeddings, q WHERE vec_id != $pid
         |ORDER BY dot_e12 DESC, vec_id LIMIT 10""".stripMargin

  private val q37OracleSql: String = q37OracleSqlFor(0L)

  private def q37bOracleSqlFor(pid: Long): String =
    s"""WITH q AS (
         |  SELECT vec_id, label, $qeSql AS qe FROM embeddings),
         |b AS (
         |  SELECT vec_id, label, qe,
         |    CAST(${(0 until NPlanes).map(p =>
              s"(CASE WHEN ${qdotSql("qe", planeSql(p))} >= 0 " +
                s"THEN ${1L << p} ELSE 0 END)").mkString(" + ")}
         |      AS BIGINT) AS bucket
         |  FROM q),
         |qv AS (SELECT qe AS qq, bucket AS qbucket FROM b
         |  WHERE vec_id = $pid)
         |SELECT b.vec_id, b.label, b.bucket,
         |  ${qdotSql("b.qe", "qv.qq")} AS dot_e12
         |FROM b, qv
         |WHERE b.vec_id != $pid
         |  AND bit_count(xor(b.bucket, qv.qbucket)) <= 3
         |ORDER BY dot_e12 DESC, vec_id LIMIT 10""".stripMargin

  private val q37bOracleSql: String = q37bOracleSqlFor(0L)

  // q37c's assignment/probe CTEs + q73's code CTEs + the ADC lookup
  // table: est_dot_e12 sums lut(m, code) over the probed cells' codes
  // — the oracle replays the approximation itself, not the exact dot
  /** The q84b sweep's per-(nprobe, probe_id) hit terms — ONE
    * generator shared by the q84b and q84c oracles (q84c is the
    * sweep's aggregate + the floor pick, so its evidence base must
    * be literally the same SQL). */
  private lazy val q84bPerSql: String =
    (1 to 4).flatMap { np =>
      ProbePanel.map { pid =>
        s"""SELECT CAST($np AS INT) AS nprobe,
           |    CAST($pid AS BIGINT) AS probe_id,
           |    CAST(count(*) AS BIGINT) AS hits
           |  FROM (SELECT vec_id
           |        FROM (${q74OracleSqlTrained(pid, "q", 10, np)})) a
           |  JOIN (SELECT vec_id FROM (${q37OracleSqlFor(pid)})) e
           |    USING (vec_id)""".stripMargin
      }
    }.mkString("", "\nUNION ALL\n", "")

  private def q74OracleSqlFor(pid: Long): String =
    q74OracleSqlTrained(pid, "q")

  /** q74's replay with the model-training corpus parameterized: src
    * "q" is the standard full-corpus layout; src "qb" (injected as a
    * base-corpus CTE) replays a frozen-model store after an append —
    * assignment, codes, probe, and LUT all still run over the full
    * corpus, only the trained centroids see the restricted set. (The
    * codebook CTE keeps `vec_id < 16` over the full corpus: seeds are
    * below the drift predicate's floor, so base and full agree —
    * matching the store, whose appended batch encodes against the
    * frozen codebook.) */
  private def q74OracleSqlTrained(pid: Long, src: String,
      limit: Int = 10, nprobe: Int = 4, exclude: String = ""): String = {
    val baseCte =
      if (src == "q") ""
      else s"""
         |$src AS (
         |  SELECT * FROM q
         |  WHERE NOT (vec_id >= 16 AND vec_id % 3 = 1)),""".stripMargin
    s"""WITH q AS (
         |  SELECT vec_id, label, $qeSql AS qe FROM embeddings
         |  WHERE vec_id IS NOT NULL),$baseCte
         |${trainedCentSqlOver(src)},
         |dots AS (
         |  SELECT q.vec_id, cent.cell_id,
         |    ${qdotSql("q.qe", "cent.ce")} AS cdot
         |  FROM q, cent),
         |assigned AS (
         |  SELECT vec_id, cell_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY cdot DESC, cell_id) AS rn
         |    FROM dots) WHERE rn = 1),
         |qv AS (SELECT qe AS qq FROM q WHERE vec_id = $pid),
         |probe AS (
         |  SELECT cell_id FROM cent, qv
         |  ORDER BY ${qdotSql("ce", "qv.qq")} DESC, cell_id
         |  LIMIT $nprobe),
         |sub AS (
         |  SELECT vec_id, m, qe[m*8+1 : m*8+8] AS sv
         |  FROM q, UNNEST(generate_series(0, 7)) AS t(m)),
         |wa AS (
         |  SELECT vec_id, m, sv,
         |    CAST(list_sum([sv[i]*sv[i] FOR i IN generate_series(1, 8)])
         |      AS BIGINT) AS aa
         |  FROM sub),
         |seeds AS (
         |  SELECT m, vec_id AS seed, sv AS cv, aa AS bb
         |  FROM wa WHERE vec_id < 16),
         |best AS (
         |  SELECT s.vec_id, s.m,
         |    min((s.aa - 2*CAST(list_sum(
         |      [s.sv[i]*c.cv[i] FOR i IN generate_series(1, 8)])
         |      AS BIGINT) + c.bb) * 64 + c.seed) AS packed
         |  FROM wa s JOIN seeds c USING (m)
         |  GROUP BY s.vec_id, s.m),
         |qsub AS (
         |  SELECT m, qq[m*8+1 : m*8+8] AS qs
         |  FROM qv, UNNEST(generate_series(0, 7)) AS t(m)),
         |lut AS (
         |  SELECT c.m, c.seed AS code,
         |    CAST(list_sum([qs[i]*c.cv[i] FOR i IN generate_series(1, 8)])
         |      AS BIGINT) AS ld
         |  FROM seeds c JOIN qsub USING (m)),
         |est AS (
         |  SELECT b.vec_id, CAST(sum(l.ld) AS BIGINT) AS est_dot_e12
         |  FROM best b JOIN lut l ON l.m = b.m AND l.code = b.packed % 64
         |  GROUP BY b.vec_id)
         |SELECT a.vec_id, q.label, a.cell_id, e.est_dot_e12
         |FROM assigned a
         |JOIN probe USING (cell_id)
         |JOIN est e ON e.vec_id = a.vec_id
         |JOIN q ON q.vec_id = a.vec_id
         |WHERE a.vec_id != $pid$exclude
         |ORDER BY est_dot_e12 DESC, a.vec_id LIMIT $limit""".stripMargin
  }

  private val q74OracleSql: String = q74OracleSqlFor(0L)

  val oracles: Map[String, String] = Map(
    // same quantization, sub-slicing, aa-2ab+bb distance, and packed
    // (dist*64+seed) integer argmin as the Spark side; codes join to a
    // string via ORDER BY m (mirrors the sorted-collect_list transform)
    "q73_pq_encode" ->
      s"""WITH q AS (
         |  SELECT vec_id, $qeSql AS qv FROM embeddings
         |  WHERE vec_id IS NOT NULL),
         |sub AS (
         |  SELECT vec_id, m, qv[m*8+1 : m*8+8] AS sv
         |  FROM q, UNNEST(generate_series(0, 7)) AS t(m)),
         |wa AS (
         |  SELECT vec_id, m, sv,
         |    CAST(list_sum([sv[i]*sv[i] FOR i IN generate_series(1, 8)])
         |      AS BIGINT) AS aa
         |  FROM sub),
         |seeds AS (
         |  SELECT m, vec_id AS seed, sv AS cv, aa AS bb
         |  FROM wa WHERE vec_id < 16),
         |best AS (
         |  SELECT s.vec_id, s.m,
         |    min((s.aa - 2*CAST(list_sum(
         |      [s.sv[i]*c.cv[i] FOR i IN generate_series(1, 8)])
         |      AS BIGINT) + c.bb) * 64 + c.seed) AS packed
         |  FROM wa s JOIN seeds c USING (m)
         |  GROUP BY s.vec_id, s.m)
         |SELECT vec_id,
         |  string_agg(CAST(packed % 64 AS VARCHAR), ' ' ORDER BY m)
         |    AS codes,
         |  CAST(sum(packed // 64) AS BIGINT) AS err
         |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    // q37c's assignment CTEs + q47's per-dimension sum shape: the
    // Lloyd update's new centroids as exact integer sums + counts
    "q75_kmeans_update" ->
      s"""WITH q AS (
         |  SELECT vec_id, $qeSql AS qe FROM embeddings
         |  WHERE vec_id IS NOT NULL),
         |cent AS (SELECT vec_id AS cell_id, qe AS ce FROM q
         |  WHERE vec_id < 16),
         |dots AS (
         |  SELECT q.vec_id, q.qe, cent.cell_id,
         |    ${qdotSql("q.qe", "cent.ce")} AS cdot
         |  FROM q, cent),
         |assigned AS (
         |  SELECT vec_id, qe, cell_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY cdot DESC, cell_id) AS rn
         |    FROM dots) WHERE rn = 1),
         |ex AS (
         |  SELECT cell_id, CAST(i - 1 AS INT) AS dim_idx, qe[i] AS v
         |  FROM assigned, UNNEST(generate_series(1, len(qe))) AS t(i))
         |SELECT cell_id, dim_idx, CAST(sum(v) AS BIGINT) AS sum_q,
         |  count(*) AS n_vecs
         |FROM ex GROUP BY cell_id, dim_idx
         |ORDER BY cell_id, dim_idx""".stripMargin,
    "q74_ivfpq_probe" -> q74OracleSql,
    "q37b_similarity_lsh" -> q37bOracleSql,
    "q37c_similarity_ivf" -> ivfOracleSql,
    // q68 computes the SAME rows through the stored layout (write-time
    // cell assignment + pruned partition reads), so its oracle IS
    // q37c's: identical results via a different physical path is the
    // property under test.
    "q68_ivf_probe" -> ivfOracleSql,
    // append-equals-rebuild: the appended store's probe must produce
    // the full-corpus IVF answer bit-for-bit
    "q88_ivf_append" -> ivfOracleSql,
    // retract-equals-rebuild: the retracted store's probe = the
    // full-corpus IVF answer minus the retracted candidates (which,
    // seeds surviving, IS the survivors' own rebuild answer)
    "q88b_ivf_retract" -> ivfOracleSqlExcluding(retractExcludeSql),
    // rows-exact deletion under the FROZEN model: full q74 replay
    // (model CTEs over the whole corpus) with the retracted slice
    // excluded from the candidate set only
    "q74c_ivfpq_retract" ->
      q74OracleSqlTrained(0L, "q", exclude = retractExcludeSql),
    "q37_similarity_topk" -> q37OracleSql,
    // Banded sign-LSH twin: per-plane sign bits from the mask literals,
    // band keys packed from bandBits-bit slices, candidates share >= one
    // full band key (DISTINCT collapses multi-band matches, as Spark's
    // distinct() does).
    "q36f_embedding_neardup_lsh" ->
      s"""WITH q AS (
         |  SELECT vec_id, $qeSql AS qe FROM embeddings),
         |sigs AS (
         |  SELECT vec_id, qe,
         |    [CASE WHEN list_sum([qe[i] *
         |          (CASE WHEN (m >> (i-1)) & 1 = 1 THEN 1 ELSE -1 END)
         |          FOR i IN generate_series(1, len(qe))]) >= 0
         |        THEN 1 ELSE 0 END
         |      FOR m IN ${maskListSql(NdBands * BandBits)}] AS bits
         |  FROM q),
         |bands AS (
         |  SELECT vec_id, qe, b,
         |    list_sum([CAST(bits[$BandBits*b + j] AS BIGINT)
         |        * (CAST(1 AS BIGINT) << (j-1))
         |      FOR j IN generate_series(1, $BandBits)]) AS bkey
         |  FROM sigs, UNNEST(generate_series(0, ${NdBands - 1})) AS t(b))
         |SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b,
         |  ${qdotSql("x.qe", "y.qe")} AS dot_e12
         |FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey
         |WHERE x.vec_id < y.vec_id
         |  AND ${qdotSql("x.qe", "y.qe")} >= 400000000000
         |ORDER BY vec_a, vec_b""".stripMargin,
    // q81's trained-cell assignment CTEs, then the exact pair compare
    // confined to shared cells — the blocked semantics the Spark side
    // declares (round 9; the previous oracle was the corpus-wide
    // all-pairs join)
    "q36d_embedding_neardup" ->
      s"""WITH q AS (
         |  SELECT vec_id, $qeSql AS qe FROM embeddings
         |  WHERE vec_id IS NOT NULL),
         |$trainedCentSql,
         |dots AS (
         |  SELECT q.vec_id, q.qe, cent.cell_id,
         |    ${qdotSql("q.qe", "cent.ce")} AS cdot
         |  FROM q, cent),
         |assigned AS (
         |  SELECT vec_id, qe, cell_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY cdot DESC, cell_id) AS rn
         |    FROM dots) WHERE rn = 1)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${qdotSql("a.qe", "b.qe")} AS dot_e12
         |FROM assigned a JOIN assigned b
         |  ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
         |WHERE ${qdotSql("a.qe", "b.qe")} >= 400000000000
         |ORDER BY vec_a, vec_b""".stripMargin,
    "q47_centroid_udaf" ->
      """WITH q AS (
        |  SELECT label,
        |    [CAST(round(CAST(e AS DOUBLE)*1000000, 0) AS BIGINT)
        |     FOR e IN embedding] AS qe
        |  FROM embeddings),
        |ex AS (
        |  SELECT label, CAST(i - 1 AS INT) AS dim_idx, qe[i] AS v
        |  FROM q, UNNEST(generate_series(1, len(qe))) AS t(i))
        |SELECT label, dim_idx,
        |  CAST(sum(v) AS BIGINT) AS sum_q,
        |  count(*) AS n_vecs
        |FROM ex GROUP BY label, dim_idx
        |ORDER BY label, dim_idx""".stripMargin,
    // q47's sum CTEs extended by the exact floor-divided centroid and
    // the integer squared-distance re-aggregation; row_number replays
    // the (dist2 DESC, vec_id) tie-break.
    "q79_embedding_outliers" ->
      s"""WITH q AS (
        |  SELECT vec_id, label,
        |    [CAST(round(CAST(e AS DOUBLE)*1000000, 0) AS BIGINT)
        |     FOR e IN embedding] AS qe
        |  FROM embeddings),
        |ex AS (
        |  SELECT vec_id, label, CAST(i AS INT) AS d, qe[i] AS v
        |  FROM q, UNNEST(generate_series(1, len(qe))) AS t(i)),
        |cs AS (
        |  SELECT label, d, CAST(sum(v) AS BIGINT) AS s, count(*) AS n
        |  FROM ex GROUP BY 1, 2),
        |c AS (
        |  SELECT label, d,
        |    CAST((s - ((s % n + n) % n)) // n AS BIGINT) AS cd
        |  FROM cs),
        |dist AS (
        |  SELECT e.vec_id, e.label,
        |    CAST(sum((e.v - c.cd) * (e.v - c.cd)) AS BIGINT) AS dist2
        |  FROM ex e JOIN c ON e.label = c.label AND e.d = c.d
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT label, vec_id, dist2,
        |    CAST(row_number() OVER (PARTITION BY label
        |      ORDER BY dist2 DESC, vec_id) AS INT) AS rnk
        |  FROM dist)
        |SELECT label, vec_id, dist2, rnk FROM r WHERE rnk <= $OutlierK
        |ORDER BY label, rnk""".stripMargin,
    // label-blocked self-join with the same quantized integer L2 and
    // (dist2, neighbor_id) row_number tie-break
    "q80_knn_join" ->
      s"""WITH q AS (
         |  SELECT vec_id, label,
         |    [CAST(round(CAST(e AS DOUBLE)*1000000, 0) AS BIGINT)
         |     FOR e IN embedding] AS qe
         |  FROM embeddings),
         |p AS (
         |  SELECT a.label, a.vec_id, b.vec_id AS neighbor_id,
         |    CAST(list_sum([(a.qe[i] - b.qe[i]) * (a.qe[i] - b.qe[i])
         |      FOR i IN generate_series(1, len(a.qe))]) AS BIGINT)
         |      AS dist2
         |  FROM q a JOIN q b
         |    ON a.label = b.label AND a.vec_id != b.vec_id),
         |r AS (
         |  SELECT label, vec_id, neighbor_id, dist2,
         |    CAST(row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist2, neighbor_id) AS INT) AS rnk
         |  FROM p)
         |SELECT label, vec_id, neighbor_id, dist2, rnk FROM r
         |WHERE rnk <= $KnnK
         |ORDER BY vec_id, rnk""".stripMargin,
    // same coarse-assignment CTEs as the IVF oracles, then the greedy
    // drop rule as a LEFT JOIN against the in-cell earlier-id near-dups
    "q81_semantic_dedup" ->
      s"""WITH q AS (
         |  SELECT vec_id, label, $qeSql AS qe FROM embeddings
         |  WHERE vec_id IS NOT NULL),
         |$trainedCentSql,
         |dots AS (
         |  SELECT q.vec_id, q.label, q.qe, cent.cell_id,
         |    ${qdotSql("q.qe", "cent.ce")} AS cdot
         |  FROM q, cent),
         |assigned AS (
         |  SELECT vec_id, label, qe, cell_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY cdot DESC, cell_id) AS rn
         |    FROM dots) WHERE rn = 1),
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assigned a JOIN assigned b
         |    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
         |  WHERE ${qdotSql("a.qe", "b.qe")} >= 400000000000)
         |SELECT a.vec_id, a.label, a.cell_id, d.vec_id IS NULL AS kept
         |FROM assigned a LEFT JOIN dropped d USING (vec_id)
         |ORDER BY a.vec_id""".stripMargin,
    // the three probes' own oracle queries as derived tables (DuckDB
    // allows WITH inside a subquery), re-bound once per panel probe
    // (round 10), then hits = |method top-10 ∩ exact top-10| per
    // (method, probe) plus per-method min/sum windows — the oracle
    // replays both approximations AND the exact scan for every panel
    // member, so the recall figures are engine-exact integers
    "q84_ann_recall" -> {
      val terms = ProbePanel.flatMap { pid =>
        Seq(
          s"""SELECT 'ivfpq_adc' AS method,
             |    CAST($pid AS BIGINT) AS probe_id,
             |    CAST(count(*) AS BIGINT) AS hits
             |  FROM (SELECT vec_id FROM (${q74OracleSqlFor(pid)})) a
             |  JOIN (SELECT vec_id FROM (${q37OracleSqlFor(pid)})) e
             |    USING (vec_id)""".stripMargin,
          // the re-rank tier: the same ADC replay cut at LIMIT 40,
          // then the exact integer re-rank over the candidates' full
          // vectors (the q99 oracle shape, re-bound per panel probe)
          s"""SELECT 'ivfpq_adc_rr', CAST($pid AS BIGINT),
             |    CAST(count(*) AS BIGINT)
             |  FROM (
             |    SELECT vec_id FROM (
             |      WITH qr AS (
             |        SELECT vec_id, $qeSql AS qe FROM embeddings
             |        WHERE vec_id IS NOT NULL),
             |      qpv AS (SELECT qe AS qq FROM qr WHERE vec_id = $pid),
             |      cand AS (SELECT vec_id
             |        FROM (${q74OracleSqlTrained(pid, "q", 40)}))
             |      SELECT qr.vec_id
             |      FROM qr, qpv, cand c WHERE c.vec_id = qr.vec_id
             |      ORDER BY ${qdotSql("qr.qe", "qpv.qq")} DESC,
             |        qr.vec_id LIMIT 10)) a
             |  JOIN (SELECT vec_id FROM (${q37OracleSqlFor(pid)})) e
             |    USING (vec_id)""".stripMargin,
          s"""SELECT 'sign_lsh', CAST($pid AS BIGINT),
             |    CAST(count(*) AS BIGINT)
             |  FROM (SELECT vec_id FROM (${q37bOracleSqlFor(pid)})) a
             |  JOIN (SELECT vec_id FROM (${q37OracleSqlFor(pid)})) e
             |    USING (vec_id)""".stripMargin)
      }
      s"""WITH per AS (
         |${terms.mkString("", "\nUNION ALL\n", "")})
         |SELECT method, probe_id, hits, CAST(10 AS BIGINT) AS k,
         |  min(hits) OVER (PARTITION BY method) AS min_hits,
         |  CAST(sum(hits) OVER (PARTITION BY method) AS BIGINT)
         |    AS sum_hits
         |FROM per ORDER BY method, probe_id""".stripMargin
    },
    // the same per-probe replay terms as q84's adc tier, re-bound per
    // nprobe (the probe CTE's LIMIT parameterized) — each tier's
    // top-10 against the same exact panel
    "q84b_nprobe_sweep" ->
      s"""WITH per AS (
         |$q84bPerSql)
         |SELECT nprobe, probe_id, hits, CAST(10 AS BIGINT) AS k,
         |  min(hits) OVER (PARTITION BY nprobe) AS min_hits,
         |  CAST(sum(hits) OVER (PARTITION BY nprobe) AS BIGINT)
         |    AS sum_hits
         |FROM per ORDER BY nprobe, probe_id""".stripMargin,
    // q84c: the sweep's per-tier aggregate + the floor rule (smallest
    // tier with sum_hits >= 24, else the largest tier)
    "q84c_nprobe_floor" ->
      s"""WITH per AS (
         |$q84bPerSql),
         |agg AS (
         |  SELECT nprobe, CAST(sum(hits) AS BIGINT) AS sum_hits,
         |    CAST(min(hits) AS BIGINT) AS min_hits
         |  FROM per GROUP BY nprobe),
         |pick AS (
         |  SELECT coalesce(
         |    (SELECT min(nprobe) FROM agg WHERE sum_hits >= 24),
         |    (SELECT max(nprobe) FROM agg)) AS chosen_np)
         |SELECT nprobe, sum_hits, min_hits,
         |  nprobe = chosen_np AS chosen
         |FROM agg, pick ORDER BY nprobe""".stripMargin,
    // before = the frozen-model appended store (its closed form: a
    // from-scratch layout whose model trained on the base corpus
    // only); after = the retrained full-corpus layout (= q74's).
    // Both phases replay the ADC approximation per panel probe
    // against the full-corpus exact scan.
    "q91_ann_retrain" -> {
      val terms = Seq(("before", "qb"), ("after", "q")).flatMap {
        case (phase, src) => ProbePanel.map { pid =>
          s"""SELECT '$phase' AS phase,
             |    CAST($pid AS BIGINT) AS probe_id,
             |    CAST(count(*) AS BIGINT) AS hits
             |  FROM (SELECT vec_id
             |        FROM (${q74OracleSqlTrained(pid, src)})) a
             |  JOIN (SELECT vec_id FROM (${q37OracleSqlFor(pid)})) e
             |    USING (vec_id)""".stripMargin
        }
      }
      s"""WITH per AS (
         |${terms.mkString("", "\nUNION ALL\n", "")})
         |SELECT phase, probe_id, hits, CAST(10 AS BIGINT) AS k,
         |  min(hits) OVER (PARTITION BY phase) AS min_hits,
         |  CAST(sum(hits) OVER (PARTITION BY phase) AS BIGINT)
         |    AS sum_hits
         |FROM per ORDER BY phase, probe_id""".stripMargin
    },

    // q98: the kNN vote replayed as its window formulation — rank
    // seeds per vector by (dot DESC, sid), top-5, then the majority
    // with (count DESC, label) — the exact rules KnnMajorityLabel's
    // one codegen loop implements (same quantization, same integer
    // dots, same tie-breaks).
    "q98_knn_label_prop" ->
      s"""WITH q AS (
         |  SELECT vec_id, label, $qeSql AS qe FROM embeddings
         |  WHERE vec_id IS NOT NULL),
         |seeds AS (
         |  SELECT vec_id AS sid, label AS slabel, qe AS sqe FROM q
         |  WHERE vec_id < 32 AND label >= 0
         |    AND len(list_filter(qe, e -> e IS NOT NULL)) = 64),
         |dots AS (
         |  SELECT q.vec_id, q.label, s.sid, s.slabel,
         |    ${qdotSql("q.qe", "s.sqe")} AS d
         |  FROM q, seeds s WHERE q.vec_id >= 32),
         |topk AS (
         |  SELECT vec_id, label, slabel FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d DESC NULLS LAST, sid)
         |      AS rn
         |    FROM dots) WHERE rn <= 5),
         |votes AS (
         |  SELECT vec_id, label, slabel, count(*) AS v
         |  FROM topk GROUP BY 1, 2, 3)
         |SELECT vec_id, label, CAST(plabel AS INT) AS plabel,
         |  CAST(v AS INT) AS votes, label = plabel AS agree
         |FROM (
         |  SELECT vec_id, label, slabel AS plabel, v,
         |    row_number() OVER (
         |      PARTITION BY vec_id ORDER BY v DESC, slabel) AS rn
         |  FROM votes) WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,

    // q99: q74's ADC replay with LIMIT 40 as the candidate cut, then
    // the exact integer re-rank over the candidates' full vectors —
    // both stages deterministic, so the oracle reproduces the refined
    // top-10 bit-for-bit.
    "q99_adc_rerank" ->
      s"""WITH q AS (
         |  SELECT vec_id, label, $qeSql AS qe FROM embeddings
         |  WHERE vec_id IS NOT NULL),
         |qv AS (SELECT qe AS qq FROM q WHERE vec_id = 0),
         |cand AS (
         |  SELECT vec_id, est_dot_e12
         |  FROM (${q74OracleSqlTrained(0L, "q", 40)}))
         |SELECT q.vec_id, q.label, c.est_dot_e12,
         |  ${qdotSql("q.qe", "qv.qq")} AS dot_e12
         |FROM q, qv, cand c
         |WHERE c.vec_id = q.vec_id
         |ORDER BY dot_e12 DESC, q.vec_id LIMIT 10""".stripMargin,
  )
}
