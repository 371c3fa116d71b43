package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** O-127: the unified multi-signal cluster store — incremental merge
  * equals the one-shot q61c recompute over corpus ∪ batch, the
  * persisting update rewrites only dirty label buckets, and replayed
  * updates are reclaimed by compaction. Five families since round 14
  * (audio ehash joined: verdict r13 #2). */
class UnifiedClustersSpec extends SparkSpec {

  private def docsAt(d: String) = ops.Tables.documents(spark, d)
  private def embAt(d: String) = ops.Tables.embeddings(spark, d)
  private lazy val imgSigs = functions.Multimodal.imageSignatures(
    functions.Multimodal.syntheticImages(spark)).localCheckpoint()
  private lazy val audSigs = functions.Multimodal.audioSignatures(
    functions.Multimodal.syntheticWavs(spark)).localCheckpoint()

  private def rows(df: DataFrame)
      : Seq[(Long, Long, Long, Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSeq.sortBy(_._1)

  /** The q61d fixture split at sf0.001, shared across tests: docs at
    * 250, embeddings at 250, images at 50 (group 16 straddles), audio
    * at 32 (group 10 straddles — the q45g geometry). */
  private def fixture(): (DataFrame, DataFrame, DataFrame, DataFrame,
      DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = docsAt(sf)
    val emb = embAt(sf)
    val batchDocs = docs.filter(col("doc_id") >= 250)
      .unionByName(docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + ops.Dedup.ReKeyOffset))
    (docs.filter(col("doc_id") < 250), batchDocs,
      emb.filter(col("vec_id") < 250), emb.filter(col("vec_id") >= 250),
      imgSigs.filter(col("doc_id") < 50), imgSigs.filter(col("doc_id") >= 50),
      audSigs.filter(col("doc_id") < 32), audSigs.filter(col("doc_id") >= 32))
  }

  /** One-shot expected table: unifiedDedupClusters over the FULL
    * corpus ∪ batch (every family's full fixture slice). */
  private def oneShot(): Seq[(Long, Long, Long, Long, Long, Long, Long)] = {
    val docs = docsAt(sf)
    val allDocs = docs.unionByName(docs.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + ops.Dedup.ReKeyOffset))
    rows(ops.Dedup.unifiedDedupClusters(allDocs, embAt(sf),
      Some(functions.Multimodal.imageAhashPairs(spark)),
      Some(functions.Multimodal.audioEhashPairs(spark))))
  }

  test("q61d: incremental unified merge equals the one-shot " +
    "multi-signal recompute over corpus ∪ batch") {
    val got = rows(ops.UnifiedClusters.q61dUnifiedClusterMerge(spark, sf))
    assert(got === oneShot())
    // the fixture genuinely exercises every family: at least one
    // cluster per provenance column across the table
    val byFam = got.map(r => (r._3, r._4, r._5, r._6, r._7))
    assert(byFam.exists(_._1 > 0), "no shingle edges in fixture")
    assert(byFam.exists(_._2 > 0), "no simhash edges in fixture")
    assert(byFam.exists(_._3 > 0), "no emb_lsh edges in fixture")
    assert(byFam.exists(_._4 > 0), "no img_ahash edges in fixture")
    assert(byFam.exists(_._5 > 0), "no ehash edges in fixture")
  }

  test("unifiedClusterStoreUpdate rewrites only dirty label buckets " +
    "and the read-back equals the read-only merge") {
    val (cd, bd, ce, be, ci, bi, ca, ba) = fixture()
    val store = java.nio.file.Files
      .createTempDirectory("uni_cluster_upd_").toString
    ops.UnifiedClusters.unifiedClusterStoreWrite(cd, ce, ci, ca, store)
    val merged = ops.UnifiedClusters.unifiedClusterMerge(
      spark, store, bd, be, bi, ba)
    val mergedRows = rows(merged)
    val before = spark.read.parquet(s"$store/clusters")
      .select(col("doc_id"), col("cluster_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(before.nonEmpty, "standing store must have clusters")
    ops.UnifiedClusters.unifiedClusterStoreUpdate(spark, store,
      bd, be, bi, ba)
    // the persisted label table now equals CC over the persisted
    // (provenance-tagged) edge set
    val labels = spark.read.parquet(s"$store/clusters")
    val expect = ops.Dedup.connectedComponents(
      ops.UnifiedClusters.edgesTable(spark, store)
        .select(col("doc_a"), col("doc_b")).distinct())
    assert(labels.select(col("doc_id"), col("cluster_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ===
      expect.select(col("doc_id"), col("cluster_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted)
    // a second read-only merge with an EMPTY batch reproduces the
    // same provenance table from the persisted store alone
    val replayed = rows(ops.UnifiedClusters.unifiedClusterMerge(
      spark, store, cd.limit(0), ce.limit(0), ci.limit(0), ca.limit(0)))
    assert(replayed === mergedRows)
    // staging marker cleared
    assert(!new java.io.File(s"$store/clusters_staging").exists())
  }

  test("untouched cluster buckets are byte-identical across an update") {
    import spark.implicits._
    def docsOf(rs: (Long, String)*) =
      rs.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    def txt(p: String) = (1 to 40).map(i => s"$p$i").mkString(" ")
    // two standing clusters in known pmod(doc_id, 64) buckets: {5, 6}
    // (alpha) and {70, 71} (beta -> kb 6, 7); bucket 7 must survive
    // an alpha-side weld byte-identically (the GenericApiSpec pin,
    // replayed over the unified store)
    val corpus = docsOf(5L -> txt("alpha"), 6L -> txt("alpha"),
      70L -> txt("beta"), 71L -> txt("beta"))
    val emb0 = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val img0 = Seq.empty[(Long, Long)].toDF("doc_id", "ahash")
    val aud0 = Seq.empty[(Long, Long)].toDF("doc_id", "ehash")
    val store = java.nio.file.Files
      .createTempDirectory("uni_cluster_prune_").toString
    ops.UnifiedClusters.unifiedClusterStoreWrite(corpus, emb0, img0,
      aud0, store)
    def bucketFiles(kb: Int): Seq[(String, Seq[Byte])] = {
      val dir = new java.io.File(s"$store/clusters/kb=$kb")
      if (!dir.exists()) Seq.empty
      else dir.listFiles().filter(_.isFile).sortBy(_.getName).toSeq
        .map(f => (f.getName,
          java.nio.file.Files.readAllBytes(f.toPath).toSeq))
    }
    val b7Before = bucketFiles(7)
    assert(b7Before.nonEmpty)
    ops.UnifiedClusters.unifiedClusterStoreUpdate(spark, store,
      docsOf(200L -> txt("alpha")), emb0, img0, aud0)
    assert(bucketFiles(7) === b7Before,
      "untouched bucket kb=7 must be byte-identical across the update")
    val after = spark.read.parquet(s"$store/clusters")
      .select(col("doc_id"), col("cluster_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(after.contains((200L, 5L)) && after.contains((70L, 70L)))
  }

  test("replayed updates duplicate only appended index rows and " +
    "compaction reclaims them (at-least-once posture)") {
    val (cd, bd, ce, be, ci, bi, ca, ba) = fixture()
    val store = java.nio.file.Files
      .createTempDirectory("uni_cluster_replay_").toString
    ops.UnifiedClusters.unifiedClusterStoreWrite(cd, ce, ci, ca, store)
    ops.UnifiedClusters.unifiedClusterStoreUpdate(spark, store,
      bd, be, bi, ba)
    val edgesOnce = ops.UnifiedClusters.edgesTable(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq.sorted
    val labelsOnce = spark.read.parquet(s"$store/clusters")
      .select(col("doc_id"), col("cluster_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // replay the SAME batch: labels must not change, and since round
    // 14 the anti-joined append adds NO duplicate edge rows either
    // (round-13 ADVICE #1) — only index rows duplicate, and
    // compaction's DISTINCT reclaims those
    ops.UnifiedClusters.unifiedClusterStoreUpdate(spark, store,
      bd, be, bi, ba)
    val labelsTwice = spark.read.parquet(s"$store/clusters")
      .select(col("doc_id"), col("cluster_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(labelsTwice === labelsOnce)
    val edgesTwice = ops.UnifiedClusters.edgesTable(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq.sorted
    assert(edgesTwice === edgesOnce,
      "a replayed batch must not append duplicate edge rows")
    ops.UnifiedClusters.unifiedClusterStoreCompact(spark, store,
      maxFilesPerBucket = 1)
    val edgesCompacted = ops.UnifiedClusters.edgesTable(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq.sorted
    assert(edgesCompacted === edgesOnce.distinct)
    // the post-compaction store still answers an empty-batch merge
    // with the same provenance table
    val replayed = ops.UnifiedClusters.unifiedClusterMerge(spark, store,
      cd.limit(0), ce.limit(0), ci.limit(0), ca.limit(0))
    assert(rows(replayed) === oneShot())
  }

  test("provenance rollup is replay-exact: raw duplicated edge rows " +
    "(the crash-window replay) cannot inflate n_* counts, even " +
    "before compaction") {
    val (cd, bd, ce, be, ci, bi, ca, ba) = fixture()
    val store = java.nio.file.Files
      .createTempDirectory("uni_cluster_rollupexact_").toString
    ops.UnifiedClusters.unifiedClusterStoreWrite(cd, ce, ci, ca, store)
    ops.UnifiedClusters.unifiedClusterStoreUpdate(spark, store,
      bd, be, bi, ba)
    val before = rows(
      ops.UnifiedClusters.unifiedClustersFromStore(spark, store))
    // plant the torn replay the normal update path can no longer
    // produce (its append is anti-joined): re-append existing edge
    // rows verbatim — the bytes a crash between the edge append and
    // the marker delete leaves behind when the batch is replayed
    val dupes = ops.UnifiedClusters.edgesTable(spark, store)
      .limit(7).localCheckpoint()
    dupes.write.mode("append").parquet(s"$store/edges")
    val after = rows(
      ops.UnifiedClusters.unifiedClustersFromStore(spark, store))
    assert(after === before,
      "duplicated edge rows inflated the provenance n_* counts " +
        "(round-14 verdict #5: the rollup must DISTINCT the edge set)")
    // compaction still reclaims the bytes, and the rollup is unchanged
    ops.UnifiedClusters.unifiedClusterStoreCompact(spark, store,
      maxFilesPerBucket = 1)
    assert(rows(ops.UnifiedClusters.unifiedClustersFromStore(
      spark, store)) === before)
  }

  test("shingle verify is replay-sound: duplicated index rows from a " +
    "replayed append cannot inflate Jaccard past the threshold") {
    import spark.implicits._
    def docsOf(rs: (Long, String)*) =
      rs.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    // A: 32 tokens -> 30 distinct shingles; B shares exactly its first
    // 14 tokens -> 12 shared shingles: true J = 12/48 = 0.25 < 0.5,
    // but with A's index rows DUPLICATED a row-counted inter doubles
    // to 24 -> 24/36 = 0.67 >= 0.5 — the false-weld the distinct-h
    // verify must refuse (round-13 review finding #1)
    val aToks = (1 to 32).map(i => s"w$i")
    val bToks = (1 to 14).map(i => s"w$i") ++ (15 to 32).map(i => s"x$i")
    val corpus = docsOf(1L -> (1 to 40).map(i => s"z$i").mkString(" "))
    val emb0 = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val img0 = Seq.empty[(Long, Long)].toDF("doc_id", "ahash")
    val aud0 = Seq.empty[(Long, Long)].toDF("doc_id", "ehash")
    val store = java.nio.file.Files
      .createTempDirectory("uni_cluster_replayjac_").toString
    ops.UnifiedClusters.unifiedClusterStoreWrite(corpus, emb0, img0,
      aud0, store)
    val batchA = docsOf(10L -> aToks.mkString(" "))
    // force duplicated INDEX rows without duplicated edges: replay
    // A's batch twice (the anti-join drops repeat edges, the index
    // appends land both times)
    ops.UnifiedClusters.unifiedClusterStoreUpdate(spark, store,
      batchA, emb0, img0, aud0)
    ops.UnifiedClusters.unifiedClusterStoreUpdate(spark, store,
      batchA, emb0, img0, aud0)
    val merged = ops.UnifiedClusters.unifiedClusterMerge(spark, store,
      docsOf(20L -> bToks.mkString(" ")), emb0, img0, aud0)
    // no cluster may contain the sub-threshold A-B pair: the pair
    // graph over {corpus, A, B} is empty, so the rollup has no rows
    assert(merged.count() === 0L,
      "a duplicated index must not weld a J=0.25 pair")
  }

  test("a late attachment batch (no doc rows) welds documents " +
    "ingested earlier, for both perceptual families") {
    import spark.implicits._
    def docsOf(rs: (Long, String)*) =
      rs.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    def txt(p: String) = (1 to 40).map(i => s"$p$i").mkString(" ")
    val emb0 = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val img0 = Seq.empty[(Long, Long)].toDF("doc_id", "ahash")
    val aud0 = Seq.empty[(Long, Long)].toDF("doc_id", "ehash")
    val store = java.nio.file.Files
      .createTempDirectory("uni_cluster_lateatt_").toString
    // corpus: one unrelated doc; batch 1: four textually-DISTINCT docs
    ops.UnifiedClusters.unifiedClusterStoreWrite(
      docsOf(1L -> txt("zeta")), emb0, img0, aud0, store)
    ops.UnifiedClusters.unifiedClusterStoreUpdate(spark, store,
      docsOf(10L -> txt("alpha"), 11L -> txt("beta"),
        20L -> txt("gamma"), 21L -> txt("delta")), emb0, img0, aud0)
    // schema'd reader: the store legitimately has ZERO cluster rows
    // here (no family has any edge yet), and an empty partitioned
    // write leaves no schema-bearing files
    val loneBefore = ops.UnifiedClusters
      .unifiedClustersFromStore(spark, store)
      .filter(col("cluster_size") > 1).count()
    assert(loneBefore === 0L, "no welds before the attachments arrive")
    // batch 2: ATTACHMENTS ONLY (the crawler fetched media late) —
    // an image pair welds 10<->11, an audio pair welds 20<->21; the
    // admission indices grown in batch 1 are what they match against
    ops.UnifiedClusters.unifiedClusterStoreUpdate(spark, store,
      docsOf(), emb0,
      Seq((10L, 0x0F0FL), (11L, 0x0F0FL)).toDF("doc_id", "ahash"),
      Seq((20L, 0x3CC3L), (21L, 0x3CC3L)).toDF("doc_id", "ehash"))
    val got = ops.UnifiedClusters.unifiedClustersFromStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(5),
        r.getLong(6))).toSeq.sortBy(_._1)
    assert(got === Seq((10L, 2L, 1L, 0L), (20L, 2L, 0L, 1L)))
  }

  test("layout v2 crash window: a band row without its emb_vec row is " +
    "band-discoverable but not verifiable, and the batch's replay " +
    "restores the weld") {
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
      .createTempDirectory("uni_cluster_v2crash_").toString
    // corpus: v1 (band rows + vec row, the complete build)
    ops.UnifiedClusters.unifiedClusterStoreWrite(
      docsOf(1L -> (1 to 40).map(i => s"a$i").mkString(" ")),
      embOf(1L), img0, aud0, store)
    // simulate the crash window: v2's BAND rows landed, its emb_vec
    // row did not (the two appends share a barrier with no order)
    graft.ops.Similarity.lshBandRows(embOf(2L))
      .withColumn("kb", pmod(xxhash64(col("band"), col("bkey")),
        lit(64)).cast("int"))
      .select(col("vec_id"), col("band"), col("bkey"), col("kb"))
      .repartition(1)
      .write.mode("append").partitionBy("kb").parquet(s"$store/emb_lsh")
    // batch v3 (identical direction): candidate (v1,v3) verifies —
    // v1 has its vec row — candidate (v2,v3) is SKIPPED silently
    ops.UnifiedClusters.unifiedClusterStoreUpdate(spark, store,
      docsOf(3L -> (1 to 40).map(i => s"c$i").mkString(" ")),
      embOf(3L), img0, aud0)
    val edges1 = ops.UnifiedClusters.edgesTable(spark, store)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges1.contains((1L, 3L)), edges1.toString)
    assert(!edges1.exists(e => e._1 == 2L || e._2 == 2L),
      "the vec-less band row must not produce an edge (nothing to verify)")
    // the REPLAY of v2's batch restores its vec row and re-derives
    // the skipped welds; v2's band rows are now duplicated — merely
    // unreclaimed bytes under the family posture
    ops.UnifiedClusters.unifiedClusterStoreUpdate(spark, store,
      docsOf(2L -> (1 to 40).map(i => s"b$i").mkString(" ")),
      embOf(2L), img0, aud0)
    val edges2 = ops.UnifiedClusters.edgesTable(spark, store)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges2.contains((1L, 2L)) && edges2.contains((2L, 3L)),
      edges2.toString)
    // and the cluster read-back welds all three
    val labels = ops.UnifiedClusters.unifiedClustersFromStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.toSeq === Seq((1L, 3L)))
  }

  test("torn store heals: a lingering staging marker forces the exact " +
    "full-CC rebuild and the merge still equals the one-shot") {
    val (cd, bd, ce, be, ci, bi, ca, ba) = fixture()
    val store = java.nio.file.Files
      .createTempDirectory("uni_cluster_torn_").toString
    ops.UnifiedClusters.unifiedClusterStoreWrite(cd, ce, ci, ca, store)
    // simulate a crash window: marker present over a consistent store
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(s"$store/clusters_staging"))
    val got = rows(ops.UnifiedClusters.unifiedClusterMerge(
      spark, store, bd, be, bi, ba))
    assert(got === oneShot())
  }

  // ---- O-140 (q61f): retraction --------------------------------------

  test("q61f: retracting a bridge doc SPLITS its component — the " +
    "stranded survivors leave the label table entirely") {
    import spark.implicits._
    def docsOf(rs: (Long, String)*) =
      rs.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    // three text-disjoint docs; doc 2 bridges via TWO image sig rows:
    // hash A shared with doc 1, hash B (64 bits from A — no band can
    // collide) shared with doc 3
    val docs = docsOf(
      1L -> (1 to 40).map(i => s"a$i").mkString(" "),
      2L -> (1 to 40).map(i => s"b$i").mkString(" "),
      3L -> (1 to 40).map(i => s"c$i").mkString(" "))
    val emb0 = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val aud0 = Seq.empty[(Long, Long)].toDF("doc_id", "ehash")
    val img = Seq((1L, 0L), (2L, 0L), (2L, -1L), (3L, -1L))
      .toDF("doc_id", "ahash")
    val store = java.nio.file.Files
      .createTempDirectory("uni_retract_bridge_").toString
    ops.UnifiedClusters.unifiedClusterStoreWrite(docs, emb0, img, aud0,
      store)
    val before = ops.UnifiedClusters.unifiedClustersFromStore(spark, store)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(before === Seq((1L, 3L)), s"expected one welded triple: $before")
    ops.UnifiedClusters.unifiedClusterStoreRetract(spark, store,
      docs.filter(col("doc_id") === 2L), emb0,
      img.filter(col("doc_id") === 2L), aud0)
    // docs 1 and 3 have no remaining edges: the component dissolves,
    // exactly as a rebuild over {1, 3} would produce
    assert(ops.UnifiedClusters.unifiedClustersFromStore(spark, store)
      .count() === 0L)
    // ghost-row check: the emptied/rewritten index buckets hold no
    // rows for doc 2, and the edge table no longer mentions it
    assert(spark.read.schema("doc_id BIGINT, ahash BIGINT, band INT, " +
        "ckey BIGINT, kb INT").parquet(s"$store/img_ahash")
      .filter(col("doc_id") === 2L).count() === 0L)
    assert(ops.UnifiedClusters.edgesTable(spark, store)
      .filter(col("doc_a") === 2L || col("doc_b") === 2L)
      .count() === 0L)
  }

  test("q61f: retract-equals-rebuild over the fixture slice, and the " +
    "retraction replays idempotently") {
    val docs = docsAt(sf)
    val emb = embAt(sf)
    val store = java.nio.file.Files
      .createTempDirectory("uni_retract_fix_").toString
    ops.UnifiedClusters.unifiedClusterStoreWrite(docs, emb, imgSigs,
      audSigs, store)
    def retractOnce(): Unit =
      ops.UnifiedClusters.unifiedClusterStoreRetract(spark, store,
        docs.filter(col("doc_id") < 40),
        emb.filter(col("vec_id") < 40),
        imgSigs.filter(col("doc_id") < 40),
        audSigs.filter(col("doc_id") < 40))
    retractOnce()
    val got = rows(
      ops.UnifiedClusters.unifiedClustersFromStore(spark, store))
    // rebuild over the SURVIVING inputs: pair restriction = both
    // endpoints outside the deleted range (banding is pair-local)
    def keep(p: org.apache.spark.sql.DataFrame) =
      p.filter(col("doc_a") >= 40 && col("doc_b") >= 40)
    val want = rows(ops.Dedup.unifiedDedupClusters(
      docs.filter(col("doc_id") >= 40),
      emb.filter(col("vec_id") >= 40),
      Some(keep(functions.Multimodal.imageAhashPairs(spark))),
      Some(keep(functions.Multimodal.audioEhashPairs(spark)))))
    assert(got === want)
    // the slice genuinely touched standing components (otherwise this
    // proves nothing): some cluster table rows changed vs pre-retract
    assert(got.nonEmpty)
    // replay: a second identical retraction is a no-op
    retractOnce()
    assert(rows(ops.UnifiedClusters
      .unifiedClustersFromStore(spark, store)) === got)
  }

  test("torn store read-back refuses: unifiedClustersFromStore has no " +
    "relabel to heal with, so it must not serve mixed-generation labels") {
    val (cd, _, ce, _, ci, _, ca, _) = fixture()
    val store = java.nio.file.Files
      .createTempDirectory("uni_cluster_tornread_").toString
    ops.UnifiedClusters.unifiedClusterStoreWrite(cd, ce, ci, ca, store)
    // clean store reads back fine
    assert(ops.UnifiedClusters.unifiedClustersFromStore(spark, store)
      .count() > 0)
    java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(s"$store/clusters_staging"))
    val e = intercept[IllegalArgumentException] {
      ops.UnifiedClusters.unifiedClustersFromStore(spark, store)
    }
    assert(e.getMessage.contains("torn"))
  }

  test("inParallel: a wave from a thread with no active session and no " +
    "job group does not keep an earlier wave's group") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val sc = spark.sparkContext
    val poolWidth = 8
    // every task of a wave blocks until all have started, so each wave
    // occupies every pool thread once; each task reports the job group
    // its thread sees
    def wave(): Seq[String] = {
      val started = new CountDownLatch(poolWidth)
      ops.UnifiedClusters.inParallel(Seq.fill(poolWidth)(() => {
        started.countDown()
        assert(started.await(60, TimeUnit.SECONDS), "pool not fully held")
        sc.getLocalProperty("spark.jobGroup.id")
      }))
    }
    sc.setJobGroup("g1", "tagged wave")
    val first = try wave() finally sc.clearJobGroup()
    assert(first === Seq.fill(poolWidth)("g1"))
    var second: Seq[String] = Nil
    var failure: Throwable = null
    val caller = new Thread(() =>
      try {
        org.apache.spark.sql.SparkSession.clearActiveSession()
        second = wave()
      } catch { case e: Throwable => failure = e })
    caller.start()
    caller.join()
    if (failure != null) throw failure
    assert(!second.contains("g1"), s"stale job group in $second")
  }

  test("Span: the update's concurrent wave and edges append carry their " +
    "span names as job descriptions; the caller's description is " +
    "restored after the call and after a span that throws") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val (cd, bd, ce, be, ci, bi, ca, ba) = fixture()
    val store = java.nio.file.Files
      .createTempDirectory("uni_cluster_span_").toString
    ops.UnifiedClusters.unifiedClusterStoreWrite(cd, ce, ci, ca, store)
    val sc = spark.sparkContext
    val key = "spark.job.description"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty(key))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      assert(sc.getLocalProperty(key) === null)
      ops.UnifiedClusters.unifiedClusterStoreUpdate(spark, store,
        bd, be, bi, ba)
      assert(sc.getLocalProperty(key) === null)
      intercept[IllegalStateException](util.Span(spark, "spec.throws")(
        throw new IllegalStateException("boom")))
      assert(sc.getLocalProperty(key) === null)
      // the bus delivers in order: once this job's start is seen, every
      // job the update submitted has been seen too
      util.Span(spark, "spec.marker")(spark.range(1).count())
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains("spec.marker") &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    val descs = seen.asScala.toSeq
    assert(descs.contains("spec.marker"), "listener bus did not drain")
    // six family index appends always, plus the label staging write
    // when any bucket is dirty — each at least one job, every one
    // submitted from a pool thread
    assert(descs.count(_ == "uni.update.stage_and_appends") >= 6, descs)
    assert(descs.contains("uni.update.edges_append"), descs)
  }
}
