package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Similarity

/** ann_serve: an interactive IVF-PQ session. Re-ranked top-10 probes for
  * queries near corpus neighbourhoods, with appends interleaved at a
  * fixed probe:append ratio and a compaction after the probes that
  * follow each append. One round of the loop is that whole cycle, so
  * every run measures each op however slow the machine is.
  *
  * Every probe's answer is checked against a replay of the engine's
  * documented probe (coarse cells by centroid dot, ADC over the stored
  * codes, the top-`Candidates` cut, exact re-rank), computed here from
  * the store's own model tables and codes; every compaction must keep
  * the stored rows. `ann_serve_selfprobe` is the same session plus one
  * more check after each append: a self-probe of a freshly appended
  * vector must rank it first. */
object AnnServe {

  val K = 10
  val NProbe = 4
  val Candidates = 40
  val ProbesPerAppend = 4
  val WarmProbes = 2
  // every append is compacted back to one file per cell: a run's window
  // holds about one append, and its compaction must rewrite the cells
  // the append touched (at the engine's default of 4 files per cell it
  // would find nothing to do)
  val MaxFilesPerCell = 1

  /** The store's quantization of one float: round(x * 1e6), half up. */
  def quantize(v: Array[Float]): Array[Long] =
    v.map(x => BigDecimal(x.toDouble * 1000000)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)

  private def dot(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def vecRows(spark: SparkSession, sh: Gen.VecShape,
      vecs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    vecs.map { case (i, v) => (i, sh.label(i), v) }.toDF("vec_id", "label",
      "embedding")
  }

  /** The store as a probe reads it: coarse centroids, the PQ codebook
    * ((sub-space, seed) -> sub-vector), and every stored code row
    * (vec_id -> (cell, codes)). */
  private final case class Model(centroids: Seq[(Long, Array[Long])],
      codebook: Map[(Int, Long), Array[Long]],
      rows: Map[Long, (Long, Seq[Long])])

  private def num(x: Any): Long = x.asInstanceOf[Number].longValue

  private def readModel(spark: SparkSession, store: String): Model = {
    val cents = spark.read.parquet(s"$store/centroids")
      .select("cell_id", "ce").collect()
      .map(r => (num(r.get(0)), r.getSeq[Long](1).toArray)).toSeq
    val book = spark.read.parquet(s"$store/codebook")
      .select("m", "seed", "cv").collect()
      .map(r => (num(r.get(0)).toInt, num(r.get(1))) -> r.getSeq[Long](2).toArray)
      .toMap
    val rows = spark.read.parquet(s"$store/vectors")
      .select("vec_id", "cell_id", "codes").collect()
      .map(r => num(r.get(0)) -> (num(r.get(1)), r.getSeq[Long](2).toVector))
    require(rows.map(_._1).distinct.length == rows.length,
      "the store holds a vec_id twice")
    Model(cents, book, rows.toMap)
  }

  /** The probe the engine documents, replayed over `md`: the `NProbe`
    * cells of highest centroid dot (ties to the lower cell), the ADC
    * estimate of every code row in them, the top `Candidates` by
    * estimate (ties to the lower id), re-ranked by exact dot over the
    * live vectors; the top `K` ids. */
  private def replay(md: Model, live: collection.Map[Long, Array[Long]],
      q: Array[Long], m: Int = 8): Seq[Long] = {
    val sub = q.length / m
    val cells = md.centroids.map { case (c, ce) => (c, dot(ce, q)) }
      .sortBy { case (c, d) => (-d, c) }.take(NProbe).map(_._1).toSet
    val lut = md.codebook.map { case ((mi, seed), cv) =>
      (mi, seed) -> dot(cv, q.slice(mi * sub, (mi + 1) * sub)) }
    md.rows.iterator.collect { case (id, (cell, codes)) if cells(cell) =>
      (id, codes.zipWithIndex.flatMap { case (c, mi) => lut.get((mi, c)) }.sum)
    }.toSeq.sortBy { case (id, e) => (-e, id) }.take(Candidates)
      .flatMap { case (id, _) => live.get(id).map(v => (id, dot(v, q))) }
      .sortBy { case (id, d) => (-d, id) }.take(K).map(_._1)
  }

  def run(ctx: Ctx, selfProbe: Boolean): Map[String, Double] = {
    val spark = ctx.spark
    val sh = Gen.VecShape(ctx.seed)
    ctx.info ++= Seq("corpus_vectors" -> sh.corpus, "clusters" -> sh.clusters,
      "dim" -> sh.dim, "append_batch" -> sh.appendBatch, "k" -> K,
      "nprobe" -> NProbe, "candidates" -> Candidates,
      "probes_per_append" -> ProbesPerAppend, "warmup_probes" -> WarmProbes,
      "appends_per_compact" -> 1,
      "max_files_per_cell" -> MaxFilesPerCell, "self_probe" -> selfProbe)

    val embDir = s"${ctx.work}/ann/vectors"
    val corpus = Gen.parMap(0L until sh.corpus)(i => i -> sh.vector(i))
    vecRows(spark, sh, corpus).coalesce(1)
      .write.mode("overwrite").parquet(embDir)
    ctx.info("corpus_mb") = Ctx.dirMb(embDir)
    ctx.mark("inputs")
    def emb = spark.read.parquet(embDir)

    // set-up: build the IVF-PQ store
    val store = s"${ctx.work}/ann/store"
    Similarity.ivfPqWriteDf(emb, store)
    var model = readModel(spark, store)
    ctx.mark("setup")

    // live corpus, quantized, for the replay and the exact top-10
    val live = scala.collection.mutable.HashMap.empty[Long, Array[Long]]
    live ++= Gen.parMap(corpus) { case (i, v) => i -> quantize(v) }
    if (model.rows.keySet != live.keySet)
      ctx.fail(s"the store holds ${model.rows.size} code rows for " +
        s"${live.size} corpus vectors")
    def exactTop(q: Array[Long]): Seq[Long] =
      live.iterator.map { case (id, v) => (id, dot(v, q)) }.toSeq
        .sortBy { case (id, d) => (-d, id) }.take(K).map(_._1)

    var nextId = sh.corpus.toLong
    var appends = 0
    var probes = 0
    val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    def probe(timed: Boolean): Unit = {
      val p = probes
      probes += 1
      val q = quantize(sh.query(p))
      ctx.op("probe", "Similarity.probe", timed)(Similarity.ivfPqProbeRerank(
        spark, store, emb, q, NProbe, Candidates, K).collect()
        .map(_.getAs[Long]("vec_id")).toSeq) { ids =>
        val want = replay(model, live, q)
        if (ids.length != K || ids.distinct.length != K ||
            !ids.forall(live.contains))
          Some(s"probe $p returned ${ids.mkString(",")} of ${live.size} live")
        else if (ids != want)
          Some(s"probe $p returned ${ids.mkString(",")}, the replay of " +
            s"the store's probe ${want.mkString(",")}")
        else {
          if (timed) recalls += exactTop(q).intersect(ids).size.toDouble / K
          None
        }
      }
    }
    def append(): Unit = {
      val ids = nextId until nextId + sh.appendBatch
      val vecs = ids.map(i => i -> sh.vector(i))
      val batchDir = s"${ctx.work}/ann/append$appends"
      ctx.aside(vecRows(spark, sh, vecs).coalesce(1).write.parquet(batchDir))
      val batch = spark.read.parquet(batchDir)
      ctx.op("append", "Similarity.append")(
        Similarity.ivfPqAppend(spark, store, batch))().foreach(_ => ctx.aside {
        // the raw vector table the re-rank reads grows with the store
        new java.io.File(batchDir).listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .foreach(f => require(f.renameTo(new java.io.File(embDir,
            s"append$appends-${f.getName}"))))
        vecs.foreach { case (i, v) => live(i) = quantize(v) }
        nextId += sh.appendBatch
        val before = model.rows
        model = readModel(spark, store)
        if (model.rows.keySet != live.keySet ||
            before.exists { case (id, r) => model.rows(id) != r })
          ctx.fail(s"append $appends: the store holds ${model.rows.size} " +
            s"code rows for ${live.size} live vectors, or changed old rows")
        if (selfProbe) {
          // a freshly appended vector must be its own nearest neighbour
          val self = ids(Gen.pick(ids.size, ctx.seed, 70, appends))
          val top = Similarity.ivfPqProbeRerank(spark, store, emb,
            quantize(sh.vector(self)), NProbe, Candidates, K).collect()
            .map(_.getAs[Long]("vec_id"))
          if (!top.headOption.contains(self))
            ctx.fail(s"self-probe of appended vector $self ranked " +
              s"${top.mkString(",")}")
        }
      })
      appends += 1
    }
    def compact(): Unit =
      ctx.op("compact", "Similarity.compact")(
        Similarity.ivfPqCompact(spark, store, MaxFilesPerCell))()
        .foreach(_ => ctx.aside {
          val after = readModel(spark, store)
          if (after.rows != model.rows)
            ctx.fail(s"compaction $appends changed the stored code rows")
          model = after
        })

    // untimed warm-up probes compile the probe path
    (0 until WarmProbes).foreach(_ => probe(timed = false))
    ctx.mark("warmup")
    // the probes read the appended files before the compaction merges them
    val loopS = ctx.loop { _ =>
      append()
      (0 until ProbesPerAppend).foreach(_ => probe(timed = true))
      compact()
    }
    ctx.info("appends") = appends
    ctx.mark("loop")
    val overhead = ctx.overhead("probe", 3)(
      Similarity.ivfPqProbeRerank(spark, store, emb, quantize(sh.query(-2)),
        NProbe, Candidates, K).collect())
    val recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size

    Map("store_mb" -> Ctx.dirMb(store),
      "loop_s" -> loopS, "recall_at_10" -> recall,
      "trace_overhead_s" -> overhead,
      "probes_per_s" -> ctx.all("probe").size / loopS,
      "files_per_cell" -> Ctx.filesPerPartition(s"$store/vectors"),
      "vectors_mb" -> Ctx.dirMb(s"$store/vectors"))
  }
}
