package graft

import graft.ops.{Similarity, Tables}
import graft.functions.LongArrayDot
import graft.functions.VectorFunctions.quantize
import org.apache.spark.sql.functions._

/** IVF stored layout (Similarity.ivfWrite/ivfProbe): cell assignment is
  * a write-time partition column, so a probe reads only the nprobe
  * matching parquet partitions — directory pruning, not a filter over a
  * full scan. Asserts (1) result parity with the per-query IVF (q37c),
  * (2) the cell predicate runs as a PartitionFilter, (3) only files from
  * the probed cells' directories are read. */
class IvfStoreSpec extends SparkSpec {

  test("stored IVF probe prunes partitions and matches q37c") {
    val store = java.nio.file.Files.createTempDirectory("ivf_").toString
    Similarity.ivfWrite(spark, sf, store)

    // query vector 0, quantized — same probe q37c runs per-query
    val qv = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(quantize(col("embedding")).as("qe"))
      .collect().head.getSeq[Long](0).toArray
    val probe = Similarity.ivfProbe(spark, store, qv,
      excludeVecId = Some(0L))

    // (1) identical result to the per-query formulation
    val expected = SparkEntry.queries("q37c_similarity_ivf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    val got = probe.collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(got === expected)

    // (2) the cell filter is a partition filter on the scan
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*cell_id".r.findFirstIn(plan).isDefined,
      s"cell_id not pushed as a partition filter:\n$plan")

    // (3) only files under the probed cells' directories are read:
    // the executed scan's numFiles metric, not inputFiles (which lists
    // the relation pre-pruning)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val finalPlan = probe.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scanned = finalPlan.collectLeaves().collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains("vectors")) =>
        f.metrics("numFiles").value
    }
    val allFiles = spark.read.parquet(s"$store/vectors").inputFiles.length
    assert(scanned.nonEmpty)
    assert(scanned.head > 0 && scanned.head < allFiles,
      s"probe scanned ${scanned.head} of $allFiles files — no pruning")
  }

  test("stored IVF-PQ probe prunes partitions and stores no vectors") {
    val store = java.nio.file.Files.createTempDirectory("ivfpq_").toString
    Similarity.ivfPqWrite(spark, sf, store)

    // the cells persist codes only — the raw/quantized embedding never
    // reaches the vectors table (the whole point of PQ compression)
    val cols = spark.read.parquet(s"$store/vectors").columns.toSet
    assert(cols === Set("vec_id", "label", "codes", "cell_id"), cols)

    val qv = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(quantize(col("embedding")).as("qe"))
      .collect().head.getSeq[Long](0).toArray
    val probe = Similarity.ivfPqProbe(spark, store, qv,
      excludeVecId = Some(0L))
    assert(probe.count() === 10)

    // cell predicate pushed as a partition filter, same as the IVF store
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*cell_id".r.findFirstIn(plan).isDefined,
      s"cell_id not pushed as a partition filter:\n$plan")
    // the ADC estimate is row-local: the code scan feeds the top-k with
    // no exploded rows, no lookup-table join and no shuffle
    Seq("Exchange", "Generate", "Join").foreach(op =>
      assert(!plan.contains(op), s"$op in the ADC plan:\n$plan"))
  }

  test("ivfAppend equals full rebuild; ivfCompact bounds cell files") {
    val emb = Tables.embeddings(spark, sf)
    val storeFull = java.nio.file.Files
      .createTempDirectory("ivf_full_").toString
    Similarity.ivfWriteDf(emb, storeFull)
    val storeInc = java.nio.file.Files
      .createTempDirectory("ivf_inc_").toString
    val batch = col("vec_id") >= 16 && col("vec_id") % 5 === 0
    Similarity.ivfWriteDf(emb.filter(!batch), storeInc)
    Similarity.ivfAppend(spark, storeInc, emb.filter(batch))
    // append-equals-rebuild: identical probe answers
    val qv = emb.filter(col("vec_id") === 0)
      .select(quantize(col("embedding")).as("qe"))
      .collect().head.getSeq[Long](0).toArray
    def probeRows(store: String) =
      Similarity.ivfProbe(spark, store, qv, excludeVecId = Some(0L))
        .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(probeRows(storeInc) === probeRows(storeFull))
    // a few more appends accumulate files; compact bounds them to one
    // per cell, idempotently, and the probe answer is unchanged
    (0 until 3).foreach { _ =>
      Similarity.ivfAppend(spark, storeInc,
        emb.filter(col("vec_id") === 1L))
    }
    def maxFiles: Int = new java.io.File(s"$storeInc/vectors")
      .listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("cell_id="))
      .map(_.listFiles().count(f =>
        f.isFile && f.getName.endsWith(".parquet"))).max
    assert(maxFiles > 1)
    assert(Similarity.ivfCompact(spark, storeInc,
      maxFilesPerCell = 1).nonEmpty)
    assert(maxFiles === 1)
    assert(Similarity.ivfCompact(spark, storeInc,
      maxFilesPerCell = 1).isEmpty)
    // compaction's DISTINCT collapsed the triple-appended vec 1
    assert(spark.read.parquet(s"$storeInc/vectors")
      .filter(col("vec_id") === 1L).count() === 1L)
    assert(probeRows(storeInc) === probeRows(storeFull))
  }

  test("ivfPqAppend lands codes against the frozen model; " +
    "retrain-then-rebuild equals a from-scratch build (q91)") {
    val emb = Tables.embeddings(spark, sf)
    val drift = col("vec_id") >= 16 && col("vec_id") % 3 === 1
    val store = java.nio.file.Files
      .createTempDirectory("ivfpq_retrain_").toString
    Similarity.ivfPqWriteDf(emb.filter(!drift), store)
    Similarity.ivfPqAppend(spark, store, emb.filter(drift))
    // the frozen-model append covers the full corpus exactly once,
    // codes-only (no raw vectors slip in through the append path)
    val vecs = spark.read.parquet(s"$store/vectors")
    assert(vecs.count() === emb.count())
    assert(vecs.select("vec_id").distinct().count() === emb.count())
    assert(vecs.columns.toSet ===
      Set("vec_id", "label", "codes", "cell_id"))
    def rows(dir: String, t: String, order: Seq[String]): Seq[String] =
      spark.read.parquet(s"$dir/$t")
        .orderBy(order.map(col): _*).collect().map(_.toString).toSeq
    // retrain on corpus ∪ batch and rebuild in place; a never-appended
    // from-scratch build over the same corpus must be table-for-table
    // identical (the q88 append-equals-rebuild property lifted to the
    // model tables — what makes the q91 'after' phase oracle-closed)
    Similarity.ivfPqWriteDf(emb, store)
    val scratch = java.nio.file.Files
      .createTempDirectory("ivfpq_scratch_").toString
    Similarity.ivfPqWriteDf(emb, scratch)
    assert(rows(store, "vectors", Seq("vec_id")) ===
      rows(scratch, "vectors", Seq("vec_id")))
    assert(rows(store, "centroids", Seq("cell_id")) ===
      rows(scratch, "centroids", Seq("cell_id")))
    assert(rows(store, "codebook", Seq("m", "seed")) ===
      rows(scratch, "codebook", Seq("m", "seed")))
    // the code store compacts like every standing index: replayed
    // appends accumulate files, the pruned rewrite bounds them to one
    // per cell, DISTINCT reclaims the duplicate code rows, and the
    // table is value-identical after
    (0 until 3).foreach { _ =>
      Similarity.ivfPqAppend(spark, store,
        emb.filter(col("vec_id") === 1L))
    }
    assert(Similarity.ivfPqCompact(spark, store,
      maxFilesPerCell = 1).nonEmpty)
    assert(Similarity.ivfPqCompact(spark, store,
      maxFilesPerCell = 1).isEmpty)
    assert(spark.read.parquet(s"$store/vectors")
      .filter(col("vec_id") === 1L).count() === 1L)
    assert(rows(store, "vectors", Seq("vec_id")) ===
      rows(scratch, "vectors", Seq("vec_id")))
  }

  test("ivfRetract equals survivors-only rebuild, replays " +
    "idempotently, deletes emptied cells, and empties fully") {
    val emb = Tables.embeddings(spark, sf)
    val del = col("vec_id") >= 16 && col("vec_id") % 7 === 2
    val store = java.nio.file.Files
      .createTempDirectory("ivf_retract_").toString
    Similarity.ivfWriteDf(emb, store)
    Similarity.ivfRetract(spark, store, emb.filter(del))
    def vrows(dir: String): Seq[String] =
      spark.read.parquet(s"$dir/vectors")
        .select(col("vec_id"), col("label"), col("qe"),
          col("cell_id").cast("long"))
        .orderBy("vec_id").collect().map(_.toString).toSeq
    // retract-equals-rebuild: seeds survive, so the survivors-only
    // build derives the SAME centroids and the same assignment
    val rebuilt = java.nio.file.Files
      .createTempDirectory("ivf_rebuild_").toString
    Similarity.ivfWriteDf(emb.filter(!del), rebuilt)
    assert(vrows(store) === vrows(rebuilt))
    // replay: re-delivering the same retraction changes nothing
    Similarity.ivfRetract(spark, store, emb.filter(del))
    assert(vrows(store) === vrows(rebuilt))
    // emptied cell: delete EVERY remaining member of a cell that does
    // not hold probe vector 0 — its directory must be gone (a ghost
    // dir would keep serving retracted rows), loudly not silently
    val assigned = spark.read.parquet(s"$store/vectors")
      .select(col("vec_id"), col("cell_id").cast("int")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val cell0 = assigned.find(_._1 == 0L).get._2
    val victim = assigned.map(_._2).distinct.filter(_ != cell0).head
    val victimIds = assigned.filter(_._2 == victim).map(_._1).toSet
    Similarity.ivfRetract(spark, store,
      emb.filter(col("vec_id").isin(victimIds.toSeq: _*)))
    assert(!new java.io.File(s"$store/vectors/cell_id=$victim").exists)
    val qv = emb.filter(col("vec_id") === 0)
      .select(quantize(col("embedding")).as("qe"))
      .collect().head.getSeq[Long](0).toArray
    val probed = Similarity.ivfProbe(spark, store, qv,
      excludeVecId = Some(0L)).collect()
    assert(probed.nonEmpty &&
      probed.forall(r => !victimIds.contains(r.getLong(0))))
    // full retraction: every cell empties, and the schema'd probe
    // read sees an empty store instead of throwing
    Similarity.ivfRetract(spark, store, emb)
    assert(Similarity.ivfProbe(spark, store, qv).collect().isEmpty)
  }

  test("ivfPqRetract deletes exactly the retracted code rows under " +
    "the frozen model") {
    val emb = Tables.embeddings(spark, sf)
    val del = col("vec_id") >= 16 && col("vec_id") % 7 === 2
    val store = java.nio.file.Files
      .createTempDirectory("ivfpq_retract_").toString
    Similarity.ivfPqWriteDf(emb, store)
    def rows(t: String, order: Seq[String]): Seq[String] =
      spark.read.parquet(s"$store/$t")
        .orderBy(order.map(col): _*).collect().map(_.toString).toSeq
    val before = spark.read.parquet(s"$store/vectors")
      .select(col("vec_id"), col("label"), col("codes"),
        col("cell_id").cast("long"))
      .orderBy("vec_id").collect().map(r => (r.getLong(0), r.toString))
    val centBefore = rows("centroids", Seq("cell_id"))
    val cbBefore = rows("codebook", Seq("m", "seed"))
    Similarity.ivfPqRetract(spark, store, emb.filter(del))
    // rows-exact: the surviving table is the pristine table minus the
    // retracted ids — codes and cells untouched (the trained model is
    // FROZEN by contract; a survivors-only retrain would differ)
    val delIds = emb.filter(del).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val after = spark.read.parquet(s"$store/vectors")
      .select(col("vec_id"), col("label"), col("codes"),
        col("cell_id").cast("long"))
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(after === before.filterNot(p => delIds(p._1)).map(_._2).toSeq)
    assert(rows("centroids", Seq("cell_id")) === centBefore)
    assert(rows("codebook", Seq("m", "seed")) === cbBefore)
  }

  private val PqVectors =
    "vec_id BIGINT, label INT, codes ARRAY<BIGINT>, cell_id INT"

  /** The compositional ADC probe — the SQL centroid rank, `posexplode`
    * of every code row, an inner join against a broadcast (m, code, ld)
    * lookup table and a per-vector `sum` — kept as the independent
    * reference for the row-local kernel. It scores every stored row for
    * every query in one pass; `answer` then cuts one probe from it:
    * the nprobe best cells, the excluded id, (estimate DESC, vec_id),
    * the top k. */
  private final class CompositionalAdc(store: String,
      queries: Seq[(Long, Array[Long])], m: Int = 8) {
    import spark.implicits._
    private val qdf = broadcast(queries.map { case (id, q) => (id, q.toSeq) }
      .toDF("qid", "qv"))
    private val subDim = queries.head._2.length / m
    // per query, every cell in the order a probe ranks them
    private val cellOrder: Map[Long, Seq[Long]] = spark.read
      .schema("cell_id BIGINT, ce ARRAY<BIGINT>").parquet(s"$store/centroids")
      .crossJoin(qdf)
      .select(col("qid"), col("cell_id"),
        LongArrayDot(col("ce"), col("qv")).as("qdot"))
      .orderBy(col("qid"), col("qdot").desc, col("cell_id"))
      .collect().toSeq.groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)) }
    private val lut = spark.read
      .schema("m INT, seed BIGINT, cv ARRAY<BIGINT>").parquet(s"$store/codebook")
      .crossJoin(qdf)
      .select(col("qid"), col("m"), col("seed").as("code"),
        LongArrayDot(col("cv"),
          slice(col("qv"), col("m") * subDim + 1, lit(subDim))).as("ld"))
    private val scored: Map[Long, Seq[(Long, Int, Int, Long)]] = spark.read
      .schema(PqVectors).parquet(s"$store/vectors")
      .select(col("vec_id"), col("label"), col("cell_id"),
        posexplode(col("codes")).as(Seq("m", "code")))
      .join(broadcast(lut), Seq("m", "code"))
      .groupBy(col("qid"), col("vec_id"), col("label"), col("cell_id"))
      .agg(sum(col("ld")).as("est"))
      .collect().toSeq
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(r =>
        (r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4))) }

    def answer(qid: Long, nprobe: Int, k: Int,
        exclude: Option[Long]): Seq[(Long, Int, Int, Long)] = {
      val cells = cellOrder.getOrElse(qid, Nil).take(nprobe).toSet
      scored.getOrElse(qid, Nil)
        .filter(r => cells(r._3.toLong) && !exclude.contains(r._1))
        .sortBy(r => (-r._4, r._1)).take(k)
    }
  }

  /** `ivfPqProbe` against [[CompositionalAdc]] for every query x nprobe
    * {1, 4, 16} x k {10, 40, more than the store holds} x
    * excludeVecId {its own id, none}; returns the number of probes
    * that found candidates. The probes run four at a time. */
  private def assertAdcParity(store: String,
      queries: Seq[(Long, Array[Long])], stored: Long): Int = {
    val ref = new CompositionalAdc(store, queries)
    val grid = for {
      (qid, q) <- queries; nprobe <- Seq(1, 4, 16)
      k <- Seq(10, 40, stored.toInt + 1); ex <- Seq(Some(qid), None)
    } yield (qid, q, nprobe, k, ex)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val got = try grid.map { case (_, q, nprobe, k, ex) =>
        pool.submit(new java.util.concurrent.Callable[Seq[(Long, Int, Int, Long)]] {
          def call() = Similarity.ivfPqProbe(spark, store, q, nprobe, k,
            excludeVecId = ex).collect().toSeq
            .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
        })
      }.map(_.get())
      finally pool.shutdown()
    grid.zip(got).foreach { case ((qid, _, nprobe, k, ex), rows) =>
      assert(rows === ref.answer(qid, nprobe, k, ex),
        s"query $qid nprobe $nprobe k $k exclude $ex")
    }
    got.count(_.nonEmpty)
  }

  test("ivfPqProbe equals the compositional ADC after an append, after " +
    "a retraction that empties a cell, and on an empty store") {
    val emb = Tables.embeddings(spark, sf)
    val batch = col("vec_id") >= 16 && col("vec_id") % 5 === 0
    val store = java.nio.file.Files
      .createTempDirectory("ivfpq_parity_").toString
    Similarity.ivfPqWriteDf(emb.filter(!batch), store)
    Similarity.ivfPqAppend(spark, store, emb.filter(batch))
    val vecs = emb.select(col("vec_id"), quantize(col("embedding")))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    val queries = (0 until 20).map(i => vecs(i * vecs.length / 20))
    val n = vecs.length.toLong
    assert(assertAdcParity(store, queries, n) > 0)

    // empty the cell of the first query's best cell: its nprobe-1 probe
    // now finds nothing, and no probe returns a retracted row
    val cellOf = spark.read.schema(PqVectors).parquet(s"$store/vectors")
      .select(col("vec_id"), col("cell_id")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val victim = cellOf(queries.head._1)
    val victimIds = cellOf.collect { case (id, c) if c == victim => id }
    Similarity.ivfPqRetract(spark, store,
      emb.filter(col("vec_id").isin(victimIds.toSeq: _*)))
    assert(!new java.io.File(s"$store/vectors/cell_id=$victim").exists)
    assert(Similarity.ivfPqProbe(spark, store, queries.head._2, nprobe = 1)
      .collect().isEmpty)
    assert(assertAdcParity(store, queries, n) > 0)

    val empty = java.nio.file.Files
      .createTempDirectory("ivfpq_parity_empty_").toString
    Similarity.ivfPqWriteDf(emb.filter(lit(false)), empty)
    assert(assertAdcParity(empty, queries, n) === 0)
  }

  test("IVF-PQ probe runs no inference job, two jobs in all, and plans " +
    "its ADC as pruned scan, filter and top-k") {
    val store = java.nio.file.Files.createTempDirectory("ivfpq_jobs_").toString
    Similarity.ivfPqWrite(spark, sf, store)
    val qv = Tables.embeddings(spark, sf).filter(col("vec_id") === 0)
      .select(quantize(col("embedding")).as("qe"))
      .collect().head.getSeq[Long](0).toArray
    def probe = Similarity.ivfPqProbe(spark, store, qv,
      excludeVecId = Some(0L))
    // the model tables read under a declared schema: no inference job
    val (rows, outside) = nonQueryJobs(probe.collect())
    assert(rows.length === 10)
    assert(outside.isEmpty, outside)
    // one job reads both model tables, one scans the probed cells
    val (_, jobs) = jobDescriptions(probe.collect())
    assert(jobs.length === 2, jobs)
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters: [cell_id"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    Seq("Exchange", "Generate", "Join").foreach(op =>
      assert(!plan.contains(op), s"$op in the ADC plan:\n$plan"))
  }
}
