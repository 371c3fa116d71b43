package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** O-133/O-134: the incremental curation funnel (q87e) and its stream
  * twin's append protocol (s23). The core property is COMPOSITIONAL
  * incremental-equals-full-recompute: each stage's standing-store
  * admission is individually proven (q83, q85), but the verdict-r14
  * gap was the composition — so the split test here drives the exact
  * s23 protocol (two sequential halves, exact-survivor hash + band
  * appends between) and asserts the summed per-stage counts equal the
  * one-shot run against pristine stores. */
class IncrementalFunnelSpec extends SparkSpec {

  private def injected = ops.TextAnalysis.injectPii(
    ops.Tables.documents(spark, sf))

  private def batchAll: DataFrame = injected
    .filter(col("doc_id") >= 250)
    .unionByName(injected.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + ops.Dedup.ReKeyOffset))

  private def counts(df: DataFrame): Seq[(Int, String, Long)] =
    df.collect().map(r =>
      (r.getInt(0), r.getString(1), r.getLong(2))).toSeq.sortBy(_._1)

  /** One full pass over `batch` against the stores at `dir`,
    * returning the 8 stage counts; when `append` is set, runs s23's
    * steady-state index appends (exact-survivor hashes + band rows)
    * after screening — the protocol that makes a later half see this
    * half's documents. */
  private def runOnce(dir: String, batch: DataFrame,
      append: Boolean): Seq[(Int, String, Long)] = {
    val frames = ops.Dedup.incrementalFunnelFrames(spark, dir, batch)
    if (append) {
      val exactSurv = frames(2)._3
      ops.Dedup.dedupIndexWriteHashes(
        exactSurv.select(sha2(col("text").cast("binary"), 256)
          .as("content_hash")), s"$dir/exact", "append")
      ops.Dedup.neardupIndexWrite(exactSurv, s"$dir/neardup", "append")
    }
    val admitted = ops.Dedup.manifestAppendReadBack(spark, dir,
      frames.last._3, frames.head._3)
    counts(ops.Dedup.funnelCounts(
      frames :+ ((7, "manifest_append", admitted))))
  }

  test("q87e: stage counts are load-bearing — the planted re-keyed " +
    "exact duplicates all drop at the exact screen") {
    val got = counts(ops.Dedup.q87eIncrementalFunnel(spark, sf))
    assert(got.map(_._2) === Seq("input", "pii_scrub", "exact_screen",
      "neardup_screen", "repetition", "quality", "decontaminate",
      "manifest_append"))
    val byName = got.map(t => t._2 -> t._3).toMap
    // the 50 re-keyed corpus copies are exact duplicates of standing
    // corpus docs: the screen must reject every one of them
    assert(byName("exact_screen") <= byName("input") - 50)
    // monotone non-increasing from stage 1 on; manifest read-back
    // equals the admitted set
    got.map(_._3).sliding(2).foreach { case Seq(a, b) => assert(b <= a) }
    assert(byName("manifest_append") === byName("decontaminate"))
    assert(byName("manifest_append") > 0)
  }

  test("incremental-equals-full-recompute composes: two sequential " +
    "halves with the s23 append protocol sum to the one-shot counts") {
    val oneDir = java.nio.file.Files
      .createTempDirectory("incfunnel_one_").toString
    ops.Dedup.incrementalFunnelStoresBuild(spark, sf, oneDir)
    val oneShot = runOnce(oneDir, batchAll, append = false)

    val splitDir = java.nio.file.Files
      .createTempDirectory("incfunnel_split_").toString
    ops.Dedup.incrementalFunnelStoresBuild(spark, sf, splitDir)
    // the s23 split: ids ascending across halves (the split-invariance
    // precondition — arrival order must be id order)
    val loHalf = batchAll.filter(col("doc_id") < 275)
    val hiHalf = batchAll.filter(col("doc_id") >= 275)
    val first = runOnce(splitDir, loHalf, append = true)
    val second = runOnce(splitDir, hiHalf, append = true)
    val summed = first.zip(second).map { case ((i, n, a), (j, m, b)) =>
      assert(i === j && n === m); (i, n, a + b)
    }
    assert(summed === oneShot,
      "splitting the batch changed the summed funnel counts — the " +
        "standing-store admission chain does not compose")
    // both halves did real work (guards against a degenerate split)
    assert(first.head._3 > 0 && second.head._3 > 0)
  }

  // ---- O-136/O-137: the unified five-family admission screen -------

  private def batchUnified: DataFrame =
    batchAll.unionByName(ops.Dedup.mediaBatchDocs(spark))

  /** One q87g admission pass (frames only — no manifest mutation);
    * when `append` is set, runs s24's steady-state protocol (exact
    * hashes + the FULL q61d unified store update over the
    * exact-stage survivors). */
  private def runUnifiedOnce(dir: String, batch: DataFrame,
      append: Boolean): Seq[(Int, String, Long)] = {
    val frames = ops.Dedup.incrementalFunnelFrames(spark, dir, batch,
      ndScreen = Some(("unified_screen", (s2: DataFrame) =>
        ops.Dedup.unifiedScreen(spark, dir, sf, s2))))
    if (append) {
      val exactSurv = frames(2)._3
      ops.Dedup.dedupIndexWriteHashes(
        exactSurv.select(sha2(col("text").cast("binary"), 256)
          .as("content_hash")), s"$dir/exact", "append")
      val ids = exactSurv.select(col("doc_id"))
      ops.UnifiedClusters.unifiedClusterStoreUpdate(spark,
        s"$dir/unified", exactSurv,
        ops.Tables.embeddings(spark, sf)
          .join(ids.withColumnRenamed("doc_id", "vec_id"),
            Seq("vec_id"), "left_semi"),
        ops.Dedup.mediaBatchImgSigs(spark)
          .join(ids, Seq("doc_id"), "left_semi"),
        ops.Dedup.mediaBatchAudSigs(spark)
          .join(ids, Seq("doc_id"), "left_semi"))
    }
    val admitted = ops.Dedup.manifestAppendReadBack(spark, dir,
      frames.last._3, frames.head._3)
    counts(ops.Dedup.funnelCounts(
      frames :+ ((7, "manifest_append", admitted))))
  }

  test("q87g: every media-only duplicate passes the exact screen " +
    "and is rejected by the unified screen's perceptual families") {
    // the query's own memoized pristine store (read-only here)
    val dir = graft.util.Ephemeral.fixedDirBuiltOnce(
      graft.util.Ephemeral.sfKey("q87g_pristine", sf))(
      d => ops.Dedup.incrementalUnifiedStoresBuild(spark, sf, d))
    val frames = ops.Dedup.incrementalFunnelFrames(spark, dir,
      batchUnified,
      ndScreen = Some(("unified_screen", (s2: DataFrame) =>
        ops.Dedup.unifiedScreen(spark, dir, sf, s2))))
    def ids(i: Int) = frames(i)._3.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    val media = (32L to 95L)
      .map(_ + ops.Dedup.MediaReKeyOffset).toSet
    val s2Ids = ids(2); val s3Ids = ids(3)
    // unique single-token texts: no exact/text-family signal at all
    assert(media.subsetOf(s2Ids),
      "media rows must pass the exact screen (unique texts)")
    // every media row's payload hashes identically to a standing
    // attachment (and group-mates band-match) — the perceptual
    // families must reject ALL of them; the s23-era MinHash screen
    // admitted every one (no shingles to band)
    assert(media.intersect(s3Ids).isEmpty,
      s"media duplicates admitted: ${media.intersect(s3Ids).toSeq.sorted
        .take(5)}")
    // the screen is not degenerate: real text-batch docs survive
    assert(s3Ids.nonEmpty)
  }

  test("q87g: an emb_lsh-only duplicate (same embedding, disjoint " +
    "text) is rejected at admission — the r15 gap") {
    import spark.implicits._
    def docsOf(rs: (Long, String)*) =
      rs.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    def embOf(ids: Long*) = ids.toSeq
      .map(i => (i, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val img0 = Seq.empty[(Long, Long)].toDF("doc_id", "ahash")
    val aud0 = Seq.empty[(Long, Long)].toDF("doc_id", "ehash")
    val store = java.nio.file.Files
      .createTempDirectory("unifunnel_lsh_").toString
    ops.UnifiedClusters.unifiedClusterStoreWrite(
      docsOf(1L -> (1 to 40).map(i => s"a$i").mkString(" ")),
      embOf(1L), img0, aud0, store)
    // batch doc 5: token set DISJOINT from doc 1 (zero shared
    // shingles, SimHash far), embedding identical — only the
    // paraphrase family can see the duplicate
    val batch = docsOf(5L -> (1 to 40).map(i => s"c$i").mkString(" "))
    val dropped = ops.UnifiedClusters.unifiedWeldDropIds(spark, store,
        batch, embOf(5L), img0, aud0)
      .collect().map(_.getLong(0)).toSet
    assert(dropped === Set(5L))
    // and the weld really is emb_lsh-only: no text-family edge
    val fams = ops.UnifiedClusters.unifiedMergeNewEdgesPlan(spark,
        store, batch, embOf(5L), img0, aud0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(fams.toSet === Set((1L, 5L, "emb_lsh")), fams.mkString(","))
  }

  test("q87g/s24: the unified admission chain composes — two " +
    "sequential halves with the s24 update protocol sum to the " +
    "one-shot counts") {
    val oneDir = java.nio.file.Files
      .createTempDirectory("unifunnel_one_").toString
    ops.Dedup.incrementalUnifiedStoresBuild(spark, sf, oneDir)
    val oneShot = runUnifiedOnce(oneDir, batchUnified, append = false)

    val splitDir = java.nio.file.Files
      .createTempDirectory("unifunnel_split_").toString
    ops.Dedup.incrementalUnifiedStoresBuild(spark, sf, splitDir)
    // ids ascending across halves (media + re-key ids are largest)
    val loHalf = batchUnified.filter(col("doc_id") < 275)
    val hiHalf = batchUnified.filter(col("doc_id") >= 275)
    val first = runUnifiedOnce(splitDir, loHalf, append = true)
    val second = runUnifiedOnce(splitDir, hiHalf, append = true)
    val summed = first.zip(second).map { case ((i, n, a), (j, m, b)) =>
      assert(i === j && n === m); (i, n, a + b)
    }
    assert(summed === oneShot,
      "splitting the batch changed the summed funnel counts — the " +
        "edge-local weld rule should be split-invariant")
    assert(first.head._3 > 0 && second.head._3 > 0)
  }

  // ---- O-142: funnel-store retraction with promotion ----------------

  test("q87h: deleting an exact group's manifested survivor PROMOTES " +
    "the min-id surviving member — hash kept, band rows and manifest " +
    "row added, admission equals a rebuild over the survivors") {
    import spark.implicits._
    def docsOf(rs: (Long, String)*) =
      rs.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    val textX = (1 to 40).map(i => s"x$i").mkString(" ")
    val textY = (1 to 40).map(i => s"y$i").mkString(" ")
    // doc 1 is the exact group {1, 2}'s manifested survivor; doc 3
    // is unrelated
    val corpus = docsOf(1L -> textX, 2L -> textX, 3L -> textY)
    def build(dir: String, docs: org.apache.spark.sql.DataFrame): Unit =
      ops.Dedup.incrementalStoresBuildFrom(spark, docs, dir)(surv =>
        ops.Dedup.neardupIndexWrite(surv, s"$dir/neardup"))
    val retracted = java.nio.file.Files
      .createTempDirectory("incfunnel_retract_").toString
    build(retracted, corpus)
    ops.Dedup.incrementalStoresRetract(spark, retracted,
      ops.TextAnalysis.piiScrubText(corpus), Seq(1L).toDF("doc_id"))
    val rebuilt = java.nio.file.Files
      .createTempDirectory("incfunnel_rebuilt_").toString
    build(rebuilt, corpus.filter(col("doc_id") =!= 1L))
    // state probes: survivorship passed to doc 2 — its band rows and
    // manifest row exist, doc 1's are gone, and X's hash SURVIVED
    assert(spark.read.parquet(s"$retracted/manifest")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      === Set(2L, 3L))
    assert(ops.Dedup.bandIndexTable(spark, s"$retracted/neardup")
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
      === Set(2L, 3L))
    // admission equality through the consumer: 9 is an exact copy of
    // X (must screen out — the hash stayed), 10 a one-token near-dup
    // of X (must screen against the PROMOTED doc's band rows), 11
    // fresh (admitted)
    val batch = docsOf(9L -> textX,
      10L -> (1 to 40).map(i => if (i == 20) "qq" else s"x$i")
        .mkString(" "),
      11L -> (1 to 40).map(i => s"z$i").mkString(" "))
    def run(dir: String): Seq[(Int, String, Long)] = {
      val frames = ops.Dedup.incrementalFunnelFrames(spark, dir, batch)
      val admitted = ops.Dedup.manifestAppendReadBack(spark, dir,
        frames.last._3, frames.head._3)
      counts(ops.Dedup.funnelCounts(
        frames :+ ((7, "manifest_append", admitted))))
    }
    val a = run(retracted)
    val b = run(rebuilt)
    assert(a === b,
      "admission against the retracted stores diverged from a " +
        "rebuild over the survivors")
    val byName = a.map(t => t._2 -> t._3).toMap
    // the decisive stages: 9 out at exact (hash kept through the
    // survivor), 10 out at near-dup (the promoted doc's band rows)
    assert(byName("exact_screen") === 2L)
    assert(byName("neardup_screen") === 1L)
  }

  test("q87e runs no job outside its queries: its scratch tables and " +
    "logged stores are read without a schema-inference job") {
    // the first run builds the pristine stores, once per JVM
    counts(ops.Dedup.q87eIncrementalFunnel(spark, sf))
    val (_, jobs) = nonQueryJobs(
      counts(ops.Dedup.q87eIncrementalFunnel(spark, sf)))
    // the fixture documents table is input, not engine-written: its
    // reader (Tables.documents) infers the schema
    val engine = jobs.filterNot(_._2 == "parquet at Tables.scala:18")
    assert(engine.isEmpty, jobs)
  }

  test("q87h hash ledger: retraction reads NO corpus text beyond the " +
    "deleted + promoted docs, refuses a store without the ledger, " +
    "ledger tracks survivors") {
    import spark.implicits._
    def docsOf(rs: (Long, String)*) =
      rs.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    val textX = (1 to 40).map(i => s"x$i").mkString(" ")
    val textY = (1 to 40).map(i => s"y$i").mkString(" ")
    // exact group {1, 2} with 1 its manifested survivor; 0 unrelated
    val corpus = docsOf(0L -> textY, 1L -> textX, 2L -> textX)
    def build(dir: String, docs: org.apache.spark.sql.DataFrame): Unit =
      ops.Dedup.incrementalStoresBuildFrom(spark, docs, dir)(surv =>
        ops.Dedup.neardupIndexWrite(surv, s"$dir/neardup"))
    val pristine = java.nio.file.Files
      .createTempDirectory("incfunnel_ledger_").toString
    build(pristine, corpus)
    assert(new java.io.File(s"$pristine/hashes").exists,
      "round-17 builds must write the hash ledger")
    val del = Seq(1L).toDF("doc_id")
    def tables(dir: String): Seq[Seq[String]] = Seq(
      spark.read.schema("content_hash STRING, bucket INT")
        .parquet(s"$dir/exact")
        .orderBy("content_hash").collect().map(_.toString).toSeq,
      ops.Dedup.bandIndexTable(spark, s"$dir/neardup")
        .orderBy("doc_id", "band").collect().map(_.toString).toSeq,
      spark.read.schema("doc_id BIGINT, source STRING, h STRING, kb INT")
        .parquet(s"$dir/manifest")
        .orderBy("doc_id").collect().map(_.toString).toSeq)
    def retractOn(dir: String,
        view: org.apache.spark.sql.DataFrame): Unit =
      ops.Dedup.incrementalStoresRetract(spark, dir,
        ops.TextAnalysis.piiScrubText(view), del)
    val honest = graft.util.Ephemeral.cloneDir(pristine, "ledger_honest")
    retractOn(honest, corpus)
    // a corpus view where the one doc that is neither deleted (1) nor
    // promoted (2) carries FORGED text — forged to textX, so that any
    // path which re-hashes doc 0's text would see a new min-id carrier
    // of the deleted hash and promote 0 instead of 2
    val forged = corpus.withColumn("text",
      when(col("doc_id") === 0L, lit(textX)).otherwise(col("text")))
    val blind = graft.util.Ephemeral.cloneDir(pristine, "ledger_blind")
    retractOn(blind, forged)
    // the ledger path never read doc 0's text: identical state
    assert(tables(blind) === tables(honest))
    def manifestIds(dir: String): Set[Long] = spark.read
      .schema("doc_id BIGINT, source STRING, h STRING, kb INT")
      .parquet(s"$dir/manifest")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(manifestIds(honest) === Set(0L, 2L))
    // negative control: the forged text is load-bearing — a rebuild
    // over the FORGED surviving corpus makes 0 the min-id carrier of
    // the deleted hash and manifests it instead of 2, so a retraction
    // that re-hashed doc 0 could not have matched the honest state
    val rebuiltForged = java.nio.file.Files
      .createTempDirectory("incfunnel_ledger_forged_").toString
    build(rebuiltForged, forged.filter(col("doc_id") =!= 1L))
    assert(tables(rebuiltForged) !== tables(honest))
    assert(manifestIds(rebuiltForged) === Set(0L))
    // a store without the ledger is refused, naming the missing path
    val noLedger = graft.util.Ephemeral.cloneDir(pristine, "ledger_none")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      assert(f.delete())
    }
    rm(new java.io.File(s"$noLedger/hashes"))
    val e = intercept[IllegalArgumentException](retractOn(noLedger, corpus))
    assert(e.getMessage.contains(s"$noLedger/hashes"), e.getMessage)
    // ledger maintenance: after retraction the ledger IS the
    // surviving corpus's projection (what a rebuild writes)
    val rebuilt = java.nio.file.Files
      .createTempDirectory("incfunnel_ledger_rebuilt_").toString
    build(rebuilt, corpus.filter(col("doc_id") =!= 1L))
    def ledgerRows(dir: String): Seq[String] =
      ops.Dedup.hashLedgerTable(spark, dir)
        .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(ledgerRows(honest) === ledgerRows(rebuilt))
  }

  test("s23/s24 counts read-back reads the committed counts under their " +
    "declared schema: no schema-inference job") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("counts_read_").toString
    Seq((1, "scrub", 5L), (2, "exact", 3L))
      .toDF("stage", "stage_name", "n_docs").write.parquet(s"$dir/batch_id=0")
    Seq((1, "scrub", 2L)).toDF("stage", "stage_name", "n_docs")
      .write.parquet(s"$dir/batch_id=1")
    val (df, jobs) = nonQueryJobs(
      streaming.Streams.committedCountsReadBack(spark, dir))
    assert(jobs.isEmpty, jobs)
    assert(df.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .toSeq === Seq((1, "scrub", 7L), (2, "exact", 3L)))
  }
}
