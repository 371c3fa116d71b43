package graft

import org.apache.spark.sql.functions._

/** The library surface is generic over DataFrames, not bound to the
  * fixture files: every Tier-C family exposes a `DataFrame => DataFrame`
  * operator that the qNN fixture queries merely wrap. This spec drives
  * them with hand-built inputs. */
class GenericApiSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "en", "srcA", 28L, "the quick brown fox jumps high"),
      (2L, "en", "srcA", 28L, "the quick brown fox jumps high"),
      (3L, "en", "srcB", 30L, "a completely different sentence"),
      (4L, "fr", "srcB", 20L, "le chat et le chien et le loup")
    ).toDF("doc_id", "lang", "source", "n_chars", "text")
  }

  test("exactDedup collapses identical texts from any DataFrame") {
    val out = ops.Dedup.exactDedup(docs).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 3L, 4L))
    assert(out.find(_.getLong(0) == 1L).get.getLong(5) === 2L) // n_dups
  }

  test("nearDupPairs and the prefix variant agree on any DataFrame") {
    val naive = ops.Dedup.nearDupPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val prefix = ops.Dedup.nearDupPairsPrefix(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(naive === Seq((1L, 2L)))
    assert(prefix === naive)
  }

  test("minhashLshPairs and simhashPairs find the exact duplicate") {
    val mh = ops.Dedup.minhashLshPairs(docs).collect()
    assert(mh.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
    val sh = ops.Dedup.simhashPairs(docs).collect()
    assert(sh.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
  }

  test("text analysis generics run on any DataFrame") {
    assert(ops.TextAnalysis.textStats(docs).count() === 4)
    val lang = ops.TextAnalysis.langId(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(lang(1L) === "en")
    assert(lang(4L) === "fr")
    val kw = ops.TextAnalysis.tfidfTopK(docs)
    assert(kw.filter(col("doc_id") === 4L).count() === 5)
  }

  test("sampling generics run on any DataFrame, quota parameterized") {
    assert(ops.Sampling.hashSplit(docs).count() === 4)
    val q1 = ops.Sampling.sourceQuota(docs, quota = 1).collect()
    assert(q1.length === 2) // one doc per source
    assert(q1.map(_.getInt(2)).forall(_ === 1))
  }

  test("sourceMix resamples to exact integer target ratios") {
    import spark.implicits._
    // 6 docs of a, 6 of b, weights 2:1 -> W=3, T=min(6*3/2, 6*3/1)=9,
    // quotas k_a = 2*9/3 = 6, k_b = 9/3 = 3
    val sdocs = (1L to 6L).map((_, "a")) ++ (11L to 16L).map((_, "b"))
    val df = sdocs.toDF("doc_id", "source")
    val out = ops.Sampling.sourceMix(df, Map("a" -> 2), defaultWeight = 1)
      .collect()
    val perSource = out.groupBy(_.getString(1)).view.mapValues(_.length)
    assert(perSource.toMap === Map("a" -> 6, "b" -> 3))
    // zero weight drops the source entirely
    val dropped = ops.Sampling.sourceMix(df, Map("a" -> 0)).collect()
    assert(dropped.forall(_.getString(1) == "b"))
    // NULL sources must not participate in the weight sum / mixture cap
    // (they can never pass the quota equi-join): quotas are unchanged
    val withNull = sdocs.map { case (id, s) => (id, Option(s)) } ++
      Seq((100L, Option.empty[String]), (101L, Option.empty[String]))
    val dfNull = withNull.toDF("doc_id", "source")
    val outNull = ops.Sampling.sourceMix(dfNull, Map("a" -> 2)).collect()
    val perSourceNull = outNull.groupBy(_.getString(1)).view
      .mapValues(_.length)
    assert(perSourceNull.toMap === Map("a" -> 6, "b" -> 3))
  }

  test("prefix-filter pairs at a 3/10 floor contain exactly the 0.5 " +
      "pairs above 0.5") {
    // the PPJoin prunes are lossless at ANY rational threshold: the
    // pairs found with the sweep floor 3/10, re-filtered to jaccard >=
    // 1/2 (integer boundary), must equal the t=1/2 run pairwise
    val docs = ops.Tables.documents(spark, sf)
    val at30 = ops.Dedup.nearDupPairsPrefix(docs, 3, 10)
      .select("doc_a", "doc_b", "inter", "n_a", "n_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val at50 = ops.Dedup.nearDupPairsPrefix(docs)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at30.nonEmpty && at30.length >= at50.size)
    val refiltered = at30
      .filter { case (_, _, inter, na, nb) => inter * 3 >= na + nb }
      .map { case (a, b, _, _, _) => (a, b) }.toSet
    assert(refiltered === at50)
    // and the sweep is that pair set folded to a decision table: bin
    // counts sum to the floor run's pair count, cumulative is monotone
    val sweep = ops.Dedup.nearDupThresholdSweep(docs)
      .select("bin", "n_pairs", "n_at_least").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(sweep.map(_._2).sum === at30.length.toLong)
    assert(sweep.map(_._3).toSeq === sweep.map(_._3).toSeq.sorted.reverse)
  }

  test("tokenMix admits a greedy token-bounded prefix per source") {
    import spark.implicits._
    // 4 docs of a (3 tokens each = 12), 4 of b (3 each = 12), weights
    // 2:1 -> W=3, T=min(12*3/2, 12*3/1)=18, quotas q_a = 2*18/3 = 12
    // (all of a), q_b = 18/3 = 6 (two docs of b)
    val sdocs = ((1L to 4L).map((_, "a")) ++ (11L to 14L).map((_, "b")))
      .map { case (id, s) => (id, s, "x y z") }
    val df = sdocs.toDF("doc_id", "source", "text")
    val out = ops.Sampling.tokenMix(df, Map("a" -> 2), defaultWeight = 1)
      .collect()
    val perSource = out.groupBy(_.getString(1)).view.mapValues(_.length)
    assert(perSource.toMap === Map("a" -> 4, "b" -> 2))
    // greedy prefix: per source the selected cumulative tokens stay
    // within the quota, and one more doc would cross it
    out.groupBy(_.getString(1)).foreach { case (_, rows) =>
      val quota = rows.head.getLong(4)
      val maxCum = rows.map(_.getLong(3)).max
      assert(maxCum <= quota && maxCum + 3 > quota)
    }
    // a doc that would CROSS the boundary is dropped, not truncated:
    // same corpus but b's docs are 5 tokens (total 20) -> T =
    // min(12*3/2, 20*3) = 18, q_b = 6 -> only ONE 5-token b doc fits
    val uneven = ((1L to 4L).map((_, "a", "x y z")) ++
      (11L to 14L).map((_, "b", "v w x y z"))).toDF(
      "doc_id", "source", "text")
    val out2 = ops.Sampling.tokenMix(uneven, Map("a" -> 2)).collect()
    val bRows = out2.filter(_.getString(1) == "b")
    assert(bRows.length === 1 && bRows.head.getLong(3) === 5L)
  }

  test("decontaminate flags only docs overlapping the benchmark set") {
    import spark.implicits._
    // doc 2 shares 4 shingles with the benchmark doc ("the quick brown",
    // "quick brown fox", "brown fox jumps", "fox jumps over"); doc 3
    // shares none
    val sdocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "bench"),
      (2L, "the quick brown fox jumps over a sleepy cat", "train"),
      (3L, "completely different words here nothing shared at all", "train")
    ).toDF("doc_id", "text", "source")
    val out = ops.Dedup.decontaminate(sdocs, "bench", minShared = 3L)
      .collect()
    assert(out.map(r => (r.getLong(0), r.getLong(2))).toSeq ===
      Seq((2L, 4L)))
    // raising the threshold above the overlap clears the flag
    assert(ops.Dedup.decontaminate(sdocs, "bench", minShared = 5L)
      .count() === 0)
  }

  test("decontaminateScan equals the join-based decontaminate pointwise") {
    import spark.implicits._
    val sdocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "bench"),
      (2L, "the quick brown fox jumps over a sleepy cat", "train"),
      (3L, "completely different words here nothing shared at all", "train")
    ).toDF("doc_id", "text", "source")
    for (th <- Seq(1L, 3L, 5L)) {
      val join = ops.Dedup.decontaminate(sdocs, "bench", th).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      val scan = ops.Dedup.decontaminateScan(sdocs, "bench", th).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(scan === join, s"threshold $th")
    }
  }

  test("segmentDedup removes cross-doc segments and reassembles in order") {
    import spark.implicits._
    val a = "a1 a2 a3 a4 a5 a6 a7 a8"   // shared segment (docs 1 and 2)
    val b = "b1 b2 b3 b4 b5 b6 b7 b8"
    val c = "c1 c2 c3 c4 c5"            // short tail segment, doc 2 only
    val e = "e1 e2 e3 e4 e5 e6 e7 e8"   // docs 4 and 5 in full -> vanish
    val sdocs = Seq(
      (1L, s"$a $b"), (2L, s"$a $c"), (3L, "solo words only"),
      (4L, e), (5L, e)
    ).toDF("doc_id", "text")
    val out = ops.Dedup.segmentDedup(sdocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq === Seq(
      (1L, 2L, 1L, b),    // segment a removed, b survives
      (2L, 2L, 1L, c),    // segment a removed, short tail survives
      (3L, 1L, 1L, "solo words only")))
    // docs 4/5 (every segment duplicated) are gone entirely
    assert(!out.map(_._1).contains(4L) && !out.map(_._1).contains(5L))
    // a WITHIN-doc repeat is not cross-doc duplication: both copies stay
    val intra = Seq((7L, s"$b $b")).toDF("doc_id", "text")
    val kept = ops.Dedup.segmentDedup(intra).collect()
    assert(kept.map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((2L, 2L)))
  }

  test("chunkOverlap covers every token, last window reaches the end") {
    import spark.implicits._
    val sdocs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 words
      (2L, "x1 x2 x3"),                               // shorter than width
      (3L, (1 to 11).map(i => s"v$i").mkString(" "))  // short final window
    ).toDF("doc_id", "text")
    val out = ops.Sampling.chunkOverlap(sdocs, width = 4, stride = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(out.filter(_._1 == 1L).toSeq === Seq(
      (1L, 0, 0L, 4L, "w1 w2 w3 w4"),
      (1L, 1, 3L, 4L, "w4 w5 w6 w7"),
      (1L, 2, 6L, 4L, "w7 w8 w9 w10")))
    assert(out.filter(_._1 == 2L).toSeq === Seq((2L, 0, 0L, 3L, "x1 x2 x3")))
    val last = out.filter(_._1 == 3L).last
    assert(last === ((3L, 3, 9L, 2L, "v10 v11")))
  }

  test("labelOutliers ranks by exact integer distance to label centroid") {
    import spark.implicits._
    val emb = Seq(
      (1L, 0, Array(0.0f, 0.0f)), (2L, 0, Array(0.0f, 0.0f)),
      (3L, 0, Array(1.0f, 0.0f)),                       // the outlier
      (11L, 1, Array(0.5f, 0.5f)), (12L, 1, Array(0.5f, 0.5f))
    ).toDF("vec_id", "label", "embedding")
    val top = ops.Similarity.labelOutliers(emb, k = 1).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // label 0 centroid = floor(1e6/3) = 333333 on dim 0;
    // vec 3 dist2 = (1e6 - 333333)^2 = 666667^2
    assert(top.toSeq === Seq((0, 3L, 666667L * 666667L), (1, 11L, 0L)))
  }

  test("knnJoin returns each vector's k nearest same-label neighbors") {
    import spark.implicits._
    val emb = Seq(
      (1L, 0, Array(0.0f, 0.0f)),
      (2L, 0, Array(0.1f, 0.0f)),
      (3L, 0, Array(1.0f, 0.0f)),
      (11L, 1, Array(0.5f, 0.5f)), (12L, 1, Array(0.5f, 0.5f))
    ).toDF("vec_id", "label", "embedding")
    val out = ops.Similarity.knnJoin(emb, k = 1).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    // within label 0: 2 is nearest to both 1 and 3; identical vectors in
    // label 1 are each other's zero-distance neighbors
    assert(out.toSeq === Seq(
      (1L, 2L), (2L, 1L), (3L, 2L), (11L, 12L), (12L, 11L)))
    // k=2 keeps per-vector output bounded even with ties
    assert(ops.Similarity.knnJoin(emb, k = 2)
      .groupBy("vec_id").count().collect().map(_.getLong(1)).max <= 2)
  }

  test("connectedComponents resolves transitive chains and singleton pairs") {
    import spark.implicits._
    // chain 1-2-3-4 (min label must travel 3 hops), disjoint pair 9-8,
    // pair 5-6
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (9L, 8L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val out = ops.Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq === Seq(
      (1L, 1L, 4L, true), (2L, 1L, 4L, false),
      (3L, 1L, 4L, false), (4L, 1L, 4L, false),
      (5L, 5L, 2L, true), (6L, 5L, 2L, false),
      (8L, 8L, 2L, true), (9L, 8L, 2L, false)))
  }

  test("connectedComponents on an empty edge list returns no rows") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(ops.Dedup.connectedComponents(empty).count() === 0)
  }

  test("corpusMerge admits only new content across appended merges") {
    import spark.implicits._
    def docsOf(rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    val store = java.nio.file.Files
      .createTempDirectory("dedup_idx_").toString
    ops.Dedup.dedupIndexWrite(docsOf(1L -> "alpha", 2L -> "beta"), store)
    // batch 1: one corpus dup, one batch-internal dup pair, one new doc
    val admitted1 = ops.Dedup.corpusMerge(spark, store,
      docsOf(10L -> "beta", 11L -> "gamma", 12L -> "gamma"))
    assert(admitted1.select("doc_id").as[Long].collect().toSeq === Seq(11L))
    // append the admitted HASHES (the s16 per-batch path — corpusMerge
    // already computed content_hash, no re-hash): the index now covers
    // gamma too
    ops.Dedup.dedupIndexWriteHashes(
      admitted1.select(col("content_hash")), store, "append")
    val admitted2 = ops.Dedup.corpusMerge(spark, store,
      docsOf(20L -> "gamma", 21L -> "delta"))
    assert(admitted2.select("doc_id").as[Long].collect().toSeq === Seq(21L))
  }

  test("neardupMerge admits new docs, rejects stored near-dups and " +
    "intra-batch near-dups, and passes short docs through") {
    import spark.implicits._
    def docsOf(rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    val longA = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val longB = (1 to 40).map(i => s"beta$i").mkString(" ")
    val store = java.nio.file.Files
      .createTempDirectory("nd_idx_").toString
    ops.Dedup.neardupIndexWrite(docsOf(1L -> longA, 2L -> longB), store)
    // batch: an exact re-text of a stored doc (16/16 signature match),
    // a genuinely new doc, a batch-internal dup pair (higher id
    // dropped), and a doc too short to signature (passes through)
    val admitted = ops.Dedup.neardupMerge(spark, store, docsOf(
      10L -> longA,
      11L -> ((1 to 40).map(i => s"gamma$i").mkString(" ")),
      12L -> ((1 to 40).map(i => s"delta$i").mkString(" ")),
      13L -> ((1 to 40).map(i => s"delta$i").mkString(" ")),
      14L -> "tiny doc"))
    assert(admitted.select("doc_id").as[Long].collect().toSeq ===
      Seq(11L, 12L, 14L))
    // append the admitted band rows; the index now near-dup-rejects
    // gamma re-texts too
    ops.Dedup.neardupIndexWrite(docsOf(
      11L -> ((1 to 40).map(i => s"gamma$i").mkString(" "))),
      store, mode = "append")
    val admitted2 = ops.Dedup.neardupMerge(spark, store, docsOf(
      20L -> ((1 to 40).map(i => s"gamma$i").mkString(" ")),
      21L -> ((1 to 40).map(i => s"epsilon$i").mkString(" "))))
    assert(admitted2.select("doc_id").as[Long].collect().toSeq ===
      Seq(21L))
    // compaction: force small files with several more appends, compact,
    // assert the file bound, and the compacted store still rejects
    (0 until 4).foreach { i =>
      ops.Dedup.neardupIndexWrite(docsOf(
        (100L + i) -> ((1 to 40).map(j => s"fill${i}w$j").mkString(" "))),
        store, mode = "append")
    }
    def maxFiles: Int = new java.io.File(store).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("kb="))
      .map(_.listFiles().count(f =>
        f.isFile && f.getName.endsWith(".parquet"))).max
    assert(maxFiles > 1)
    val compacted = ops.Dedup.neardupIndexCompact(spark, store,
      maxFilesPerBucket = 1)
    assert(compacted.nonEmpty)
    assert(maxFiles === 1)
    // idempotent: a second pass finds nothing oversized
    assert(ops.Dedup.neardupIndexCompact(spark, store,
      maxFilesPerBucket = 1).isEmpty)
    val admitted3 = ops.Dedup.neardupMerge(spark, store, docsOf(
      30L -> longA, // still rejected after compaction
      31L -> ((1 to 40).map(i => s"zeta$i").mkString(" "))))
    assert(admitted3.select("doc_id").as[Long].collect().toSeq ===
      Seq(31L))
  }

  test("neardupClusterStore lifecycle: two incremental merges equal " +
    "the full recompute and weld batch docs into touched clusters") {
    import spark.implicits._
    def docsOf(rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    def txt(p: String) = (1 to 40).map(i => s"$p$i").mkString(" ")
    // standing corpus: a 2-cluster graph {1,2} (same text) plus
    // isolated docs 3, 4
    val corpus = docsOf(1L -> txt("alpha"), 2L -> txt("alpha"),
      3L -> txt("beta"), 4L -> txt("gamma"))
    val store = java.nio.file.Files
      .createTempDirectory("nd_cluster_").toString
    ops.Dedup.neardupClusterStoreWrite(corpus, store)
    def clusterRows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("is_canonical"))
        .as[(Long, Long, Long, Boolean)].collect().toSeq
        .sortBy(r => (r._2, r._1))
    assert(clusterRows(spark.read.parquet(s"$store/clusters")) ===
      Seq((1L, 1L, 2L, true), (2L, 1L, 2L, false)))
    // batch 1: a copy of beta (welds 3 into a NEW cluster — doc 3 had
    // no standing edges), a copy of alpha (touches cluster 1), and an
    // unrelated doc
    val batch1 = docsOf(10L -> txt("beta"), 11L -> txt("alpha"),
      12L -> txt("delta"))
    // collected BEFORE the store update: the merge plan snapshots the
    // pre-swap file listing (documented on neardupClusterStoreUpdate)
    val merged1 = clusterRows(
      ops.Dedup.neardupClusterMerge(spark, store, batch1))
    assert(merged1 === Seq(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (11L, 1L, 3L, false),
      (3L, 3L, 2L, true), (10L, 3L, 2L, false)))
    // full-recompute equality on corpus ∪ batch1
    assert(merged1 === clusterRows(
      ops.Dedup.connectedComponents(ops.Dedup.minhashLshPairs(
        corpus.unionByName(batch1)))))
    // persist, then batch 2 must near-dup-match batch-1 docs too:
    // a delta copy welds onto doc 12's (previously edgeless) doc
    ops.Dedup.neardupClusterStoreUpdate(spark, store, batch1)
    assert(clusterRows(spark.read.parquet(s"$store/clusters")) ===
      merged1)
    val batch2 = docsOf(20L -> txt("delta"), 21L -> txt("epsilon"))
    val merged2 = clusterRows(
      ops.Dedup.neardupClusterMerge(spark, store, batch2))
    assert(merged2 === clusterRows(
      ops.Dedup.connectedComponents(ops.Dedup.minhashLshPairs(
        corpus.unionByName(batch1).unionByName(batch2)))))
    // the new weld is there, and untouched clusters passed through
    assert(merged2.contains((20L, 12L, 2L, false)))
    assert(merged2.contains((1L, 1L, 3L, true)))
    // compaction bounds the edge table's file count under repeated
    // updates without changing the stored edges or the next merge
    ops.Dedup.neardupClusterStoreUpdate(spark, store, batch2)
    def edgeFiles: Int = new java.io.File(s"$store/edges").listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(edgeFiles > 1)
    val edgesBefore = spark.read.parquet(s"$store/edges")
      .as[(Long, Long)].collect().toSet
    ops.Dedup.neardupClusterStoreCompact(spark, store,
      maxFilesPerBucket = 1)
    assert(edgeFiles === 1)
    assert(spark.read.parquet(s"$store/edges")
      .as[(Long, Long)].collect().toSet === edgesBefore)
    val merged3 = clusterRows(ops.Dedup.neardupClusterMerge(spark, store,
      docsOf(30L -> txt("epsilon"))))
    assert(merged3 === clusterRows(
      ops.Dedup.connectedComponents(ops.Dedup.minhashLshPairs(
        corpus.unionByName(batch1).unionByName(batch2)
          .unionByName(docsOf(30L -> txt("epsilon")))))))
    // a missing/partial store fails with the layout's own vocabulary,
    // not a raw parquet path error
    val noStore = intercept[IllegalArgumentException] {
      ops.Dedup.neardupClusterMerge(spark,
        java.nio.file.Files.createTempDirectory("nd_empty_").toString,
        batch1)
    }
    assert(noStore.getMessage.contains("neardupClusterStoreWrite"))
  }

  test("an EDGELESS cluster store merges correctly (empty partitioned " +
    "label table stays readable)") {
    // a corpus with zero verified near-dup edges is a legitimate store
    // state (the sf0.1 q89 fixture corpus is one) — but its bucketed
    // label table is an empty partitionBy write, which emits NO
    // schema-bearing parquet files; the schema'd readers keep the
    // fail-fast check and the merge alive on exactly that store
    import spark.implicits._
    def docsOf(rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    def txt(p: String) = (1 to 40).map(i => s"$p$i").mkString(" ")
    val corpus = docsOf(1L -> txt("alpha"), 2L -> txt("beta"))
    val store = java.nio.file.Files
      .createTempDirectory("nd_edgeless_").toString
    ops.Dedup.neardupClusterStoreWrite(corpus, store)
    assert(ops.Dedup.clusterLabelsTable(spark, store).count() === 0L)
    // a batch copy of alpha welds doc 1 into its first-ever cluster
    val batch = docsOf(10L -> txt("alpha"))
    val merged = ops.Dedup.neardupClusterMerge(spark, store, batch)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("is_canonical"))
      .as[(Long, Long, Long, Boolean)].collect().toSeq
      .sortBy(_._1)
    assert(merged === Seq((1L, 1L, 2L, true), (10L, 1L, 2L, false)))
    ops.Dedup.neardupClusterStoreUpdate(spark, store, batch)
    assert(ops.Dedup.clusterLabelsTable(spark, store).count() === 2L)
  }

  test("neardupClusterStoreUpdate rewrites only dirty label buckets: " +
    "untouched bucket files are byte-identical across a merge") {
    import spark.implicits._
    def docsOf(rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    def txt(p: String) = (1 to 40).map(i => s"$p$i").mkString(" ")
    // two standing clusters chosen so their label rows land in known
    // pmod(doc_id, 64) buckets: {5,6} (alpha) -> kb 5,6 and {70,71}
    // (beta) -> kb 6,7. Bucket 6 holds rows of BOTH clusters.
    val corpus = docsOf(5L -> txt("alpha"), 6L -> txt("alpha"),
      70L -> txt("beta"), 71L -> txt("beta"))
    val store = java.nio.file.Files
      .createTempDirectory("nd_cluster_prune_").toString
    ops.Dedup.neardupClusterStoreWrite(corpus, store)
    def bucketFiles(kb: Int): Seq[(String, Seq[Byte])] = {
      val d = new java.io.File(s"$store/clusters/kb=$kb")
      if (!d.exists()) Seq.empty
      else d.listFiles().filter(_.isFile).sortBy(_.getName).toSeq
        .map(f => (f.getName,
          java.nio.file.Files.readAllBytes(f.toPath).toSeq))
    }
    val b7Before = bucketFiles(7)
    val b6Before = bucketFiles(6)
    assert(b7Before.nonEmpty && b6Before.nonEmpty)
    // the batch doc (kb 8) welds into the alpha cluster: dirty
    // buckets are {5, 6, 8} - bucket 7 (beta's doc 71) is untouched
    ops.Dedup.neardupClusterStoreUpdate(spark, store,
      docsOf(200L -> txt("alpha")))
    assert(bucketFiles(7) === b7Before,
      "untouched bucket kb=7 must be byte-identical across the merge")
    assert(bucketFiles(6) !== b6Before,
      "dirty bucket kb=6 must be rewritten")
    // bucket 6 still carries the untouched beta cluster's doc 70 row
    // (pass-through within a dirty bucket), and the read-back table
    // equals the full recompute
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("is_canonical"))
        .as[(Long, Long, Long, Boolean)].collect().toSeq
        .sortBy(r => (r._2, r._1))
    val after = rows(spark.read.parquet(s"$store/clusters"))
    assert(after.contains((70L, 70L, 2L, true)))
    assert(after === rows(
      ops.Dedup.connectedComponents(ops.Dedup.minhashLshPairs(
        corpus.unionByName(docsOf(200L -> txt("alpha")))))))
  }

  test("shuffleShardWrite materializes one file per shard in the " +
    "declared shuffled order, deterministically") {
    import spark.implicits._
    val docs = (0L until 100L).map(i => (i, s"src${i % 3}"))
      .toDF("doc_id", "source")
    val store = java.nio.file.Files
      .createTempDirectory("shuf_shards_").toString
    ops.Sampling.shuffleShardWrite(docs, store, nShards = 4)
    // one parquet file per shard dir
    val shardDirs = new java.io.File(store).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("shard="))
    assert(shardDirs.length === 4)
    assert(shardDirs.forall(_.listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet")) === 1))
    // file order (parquet preserves within-file row order) equals the
    // declared (shard, pos) order, and every doc is present once
    val declared = ops.Sampling.shuffleShards(docs, nShards = 4)
      .select(col("doc_id"), col("shard"))
      .as[(Long, Int)].collect().toSeq
    val written = (0 until 4).flatMap { sh =>
      spark.read.parquet(s"$store/shard=$sh")
        .select(col("doc_id")).as[Long].collect().toSeq
        .map(id => (id, sh))
    }
    assert(written === declared)
    // deterministic: a second write produces the identical layout
    val store2 = java.nio.file.Files
      .createTempDirectory("shuf_shards2_").toString
    ops.Sampling.shuffleShardWrite(docs, store2, nShards = 4)
    val written2 = (0 until 4).flatMap { sh =>
      spark.read.parquet(s"$store2/shard=$sh")
        .select(col("doc_id")).as[Long].collect().toSeq.map(id => (id, sh))
    }
    assert(written2 === written)
    // a different seed is a different epoch order over the same docs
    val epoch2 = ops.Sampling.shuffleShards(docs, nShards = 4,
      seed = "shuf2")
      .select(col("doc_id"), col("shard")).as[(Long, Int)].collect().toSeq
    assert(epoch2 !== declared)
    assert(epoch2.map(_._1).sorted === declared.map(_._1).sorted)
  }

  test("curationFunnel drops exactly one planted doc per stage") {
    import spark.implicits._
    // 2-letter prefixes keep the mean token length inside q62's 3-6
    // band (25 tokens of 3-4 chars: n_word_chars 91 in [75, 150])
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    val good1 = words("ab", 25).mkString(" ")
    // near-dup of good1: one interior token changed (jaccard ~0.77)
    val near1 = (words("ab", 12) ++ Seq("CHANGED") ++
      words("ab", 25).drop(13)).mkString(" ")
    val bench = words("bz", 25).mkString(" ")
    // shares the 12 shingles of bench's first 14 tokens (flagged at
    // >= 10) but only jaccard 12/34 ~ 0.35 (survives near-dup)
    val contaminated = (words("bz", 14) ++ words("uq", 11))
      .mkString(" ")
    val good2 = words("om", 25).mkString(" ")
    val docs = Seq(
      (1L, good1, "t1"), (2L, good1, "t1"), (3L, near1, "t1"),
      (4L, "too short doc here", "t1"), (5L, bench, "src0"),
      (6L, contaminated, "t1"), (7L, good2, "t1")
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val funnel = ops.Dedup.curationFunnel(docs)
      .select("stage_name", "n_docs")
      .as[(String, Long)].collect().toSeq
    val expectedTrain = ops.Sampling.hashSplit(
        Seq((1L, "t1"), (7L, "t1")).toDF("doc_id", "source"))
      .filter(col("split") === "train").count()
    assert(funnel === Seq(
      ("input", 7L),          // all docs
      ("exact_dedup", 6L),    // doc 2 = exact copy of doc 1
      ("near_dup", 5L),       // doc 3 = near-dup of doc 1
      ("quality", 4L),        // doc 4 = too short
      ("decontaminate", 2L),  // doc 5 = src0 itself, doc 6 = flagged
      ("train_split", expectedTrain)))
  }

  test("dedupIndexCompact bounds bucket file counts, is idempotent, " +
    "and the compacted index still rejects planted duplicates") {
    import spark.implicits._
    def docsOf(rows: (Long, String)*) =
      rows.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    // dedupIndexWrite hashes `text`, so the admitted rows (which carry
    // only content_hash) must rejoin the batch for their original text
    def appendAdmitted(batch: org.apache.spark.sql.DataFrame,
        admitted: org.apache.spark.sql.DataFrame, store: String): Unit =
      ops.Dedup.dedupIndexWrite(
        batch.join(admitted.select("doc_id"), Seq("doc_id")),
        store, mode = "append")
    def bucketFiles(store: String): Map[Int, Int] =
      new java.io.File(store).listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
        .map(d => d.getName.stripPrefix("bucket=").toInt ->
          d.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet")))
        .toMap
    val store = java.nio.file.Files
      .createTempDirectory("dedup_idx_c_").toString
    // standing corpus of 120 distinct docs, then 6 daily merges each
    // admitting 3 new docs and appending them — small files accumulate
    ops.Dedup.dedupIndexWrite(
      docsOf((1L to 120L).map(i => i -> s"corpus doc $i"): _*), store)
    for (day <- 0 until 6) {
      val batch = docsOf((0 until 3).map(j =>
        (1000L + day * 10 + j) -> s"day $day doc $j"): _*)
      appendAdmitted(batch, ops.Dedup.corpusMerge(spark, store, batch),
        store)
    }
    val distinctBefore = spark.read.parquet(store)
      .select("content_hash").distinct().count()
    assert(bucketFiles(store).values.max > 1,
      "fixture failed to accumulate multi-file buckets")
    val compacted = ops.Dedup.dedupIndexCompact(spark, store,
      maxFilesPerBucket = 1)
    assert(compacted.nonEmpty)
    assert(bucketFiles(store).values.max === 1,
      s"compaction left multi-file buckets: ${bucketFiles(store)}")
    // idempotent: a second pass finds nothing over threshold
    assert(ops.Dedup.dedupIndexCompact(spark, store,
      maxFilesPerBucket = 1).isEmpty)
    // lossless: every hash survives exactly once
    assert(spark.read.parquet(store).count() === distinctBefore)
    // and the NEXT merge still rejects planted dups from both eras
    val admitted = ops.Dedup.corpusMerge(spark, store, docsOf(
      9001L -> "corpus doc 7", // standing-corpus dup
      9002L -> "day 3 doc 1", // merged-era dup
      9003L -> "genuinely new"))
    assert(admitted.select("doc_id").as[Long].collect().toSeq === Seq(9003L))
  }

  test("star-contraction CC agrees with the driver union-find on " +
    "planted graphs") {
    import spark.implicits._
    def both(pairs: org.apache.spark.sql.DataFrame) = {
      // default dispatch: these graphs sit under the local threshold,
      // so this is the driver-side union-find
      val local = ops.Dedup.connectedComponents(pairs).collect().map(_.toSeq)
      val star =
        try {
          // threshold 0 keeps the DISTRIBUTED star path on small graphs
          spark.conf.set("spark.graft.cc.localThreshold", "0")
          ops.Dedup.connectedComponents(pairs).collect().map(_.toSeq)
        } finally spark.conf.unset("spark.graft.cc.localThreshold")
      assert(star.toSeq === local.toSeq)
      star
    }
    // deep path (25 hops — well past one contraction round), a binary
    // tree, a clique, two singleton pairs, and reversed/duplicate edges
    val deepPath = (1L to 25L).map(i => (i + 1, i))
    val tree = (2L to 15L).map(i => (i + 100L, i / 2 + 100L))
    val clique = for (a <- 200L to 205L; b <- (a + 1) to 205L) yield (a, b)
    val pairs = (deepPath ++ tree ++ clique ++
      Seq((300L, 301L), (301L, 300L), (400L, 401L)))
      .toDF("doc_a", "doc_b")
    val out = both(pairs)
    val labels = out.map(r => r(0).asInstanceOf[Long] ->
      r(1).asInstanceOf[Long]).toMap
    assert((1L to 26L).forall(labels(_) == 1L))
    assert((101L to 115L).forall(labels(_) == 101L))
    assert((200L to 205L).forall(labels(_) == 200L))
    assert(labels(301L) == 300L && labels(401L) == 400L)
    // empty input converges to empty under both paths
    both(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    // the real near-dup graph: full-output agreement on sf0.001 SimHash
    both(ops.Dedup.simhashPairsUnordered(
      ops.Tables.documents(spark, sf)))
  }

  test("qualityFilter flags short and repetitive docs") {
    import spark.implicits._
    val qdocs = Seq(
      (1L, ("word " * 30).trim), // 30 tokens, mean 4, distinct 1/30 -> rep fail
      (2L, (1 to 30).map(i => s"tok$i").mkString(" ")), // all rules pass
      (3L, "too short entirely") // len fail
    ).toDF("doc_id", "text")
    val out = ops.TextAnalysis.qualityFilter(qdocs).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(4), r.getBoolean(5),
        r.getBoolean(6), r.getBoolean(7))).toMap
    assert(out(1L) === ((true, true, false, false)))
    assert(out(2L) === ((true, true, true, true)))
    assert(out(3L)._1 === false)
    assert(out(3L)._4 === false)
  }

  test("stratifiedSample keeps ceil(pct%) per stratum") {
    import spark.implicits._
    val sdocs = (1L to 25L).map(i =>
      (i, if (i <= 21) "en" else "fr")).toDF("doc_id", "lang")
    val out = ops.Sampling.stratifiedSample(sdocs, pct = 10).collect()
    val perLang = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(perLang === Map("en" -> 3, "fr" -> 1)) // ceil(2.1)=3, ceil(0.4)=1
  }

  test("sequencePack assigns docs to token-budget sequences per shard") {
    import spark.implicits._
    // one source, budget 10: docs of 6/6/6 tokens -> start offsets
    // 0, 6, 12 -> sequences 0, 0, 1 (doc 2 straddles the boundary and
    // belongs to the sequence its first token falls in)
    val sdocs = Seq(
      (1L, "s", "a b c d e f"), (2L, "s", "g h i j k l"),
      (3L, "s", "m n o p q r")
    ).toDF("doc_id", "source", "text")
    val out = ops.Sampling.sequencePack(sdocs, budget = 10).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(3), r.getLong(4), r.getInt(2))).toMap
    // hash order, not doc_id order: bucket(1)=95, bucket(2)=83, bucket(3)=3
    val order = ops.Sampling.sequencePack(sdocs, budget = 10).collect()
      .map(_.getLong(0)).toSeq
    assert(out.values.map(_._3).toSeq.forall(_ === 6))
    val offsets = order.zipWithIndex.map { case (id, i) =>
      (out(id)._1, out(id)._2, i * 6)
    }
    // start offsets 0, 6, 12 in packed order => seq 0@0, 0@6, 1@2
    assert(offsets === Seq((0L, 0L, 0), (0L, 6L, 6), (1L, 2L, 12)))
  }

  test("generic ops tolerate null text / null lang (null-in, null-out)") {
    import spark.implicits._
    val nulldocs = Seq(
      (1L, "en", "srcA", 28L, "the quick brown fox jumps high"),
      (2L, null, "srcA", 0L, null),
      (3L, "en", null, 30L, "a completely different sentence")
    ).toDF("doc_id", "lang", "source", "n_chars", "text")
    // near-dup families: null text tokenizes to null -> filtered by the
    // >= 3 token guard; no pairs, no crash
    assert(ops.Dedup.nearDupPairs(nulldocs).count() === 0)
    assert(ops.Dedup.minhashLshPairs(nulldocs).count() === 0)
    assert(ops.Dedup.simhashPairs(nulldocs).count() === 0)
    // exact dedup keys on sha2(text): null hashes group together — every
    // row survives here since there is only one null-text doc
    assert(ops.Dedup.exactDedup(nulldocs).count() === 3)
    // row-local text ops keep the row and propagate nulls
    val stats = ops.TextAnalysis.textStats(nulldocs)
      .filter(col("doc_id") === 2L).collect()(0)
    assert(stats.isNullAt(stats.fieldIndex("n_tokens")))
    val qf = ops.TextAnalysis.qualityFilter(nulldocs)
      .filter(col("doc_id") === 2L).collect()(0)
    assert(qf.isNullAt(qf.fieldIndex("keep")))
    // sampling: null lang forms its own stratum (ceil(10%) of the 2-doc
    // "en" stratum = 1, plus 1 from the null stratum); null source its
    // own quota group
    assert(ops.Sampling.stratifiedSample(nulldocs).count() === 2)
    assert(ops.Sampling.sourceQuota(nulldocs).count() === 3)
  }

  test("snapshotDiff classifies, and projected manifests reproduce it") {
    import spark.implicits._
    // docs 6/7 have NULL text: presence must come from the side
    // markers, not hash nullity — 6 (both sides) is SAME, 7 (old
    // only) is REMOVED, never 'added'
    val oldDocs = docs.unionByName(Seq(
      (6L, "en", "srcB", 0L, null.asInstanceOf[String]),
      (7L, "en", "srcB", 0L, null.asInstanceOf[String])
    ).toDF("doc_id", "lang", "source", "n_chars", "text"))
    val newDocs = Seq(
      (1L, "en", "srcA", 28L, "the quick brown fox jumps high"),
      (3L, "en", "srcB", 13L, "a changed text"),
      (5L, "en", "srcB", 9L, "brand new"),
      (6L, "en", "srcB", 0L, null.asInstanceOf[String])
    ).toDF("doc_id", "lang", "source", "n_chars", "text")
    val out = ops.Dedup.snapshotDiff(oldDocs, newDocs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // srcA: doc 1 same, doc 2 removed; srcB: doc 3 changed, doc 4
    // removed, doc 5 added, doc 6 same (null text both sides), doc 7
    // removed (null text, old only)
    assert(out("srcA") === ((0L, 1L, 0L, 1L)))
    assert(out("srcB") === ((1L, 2L, 1L, 1L)))
    // a persisted per-generation manifest (doc_id, source, hash) feeds
    // the projected form and must reproduce the text-path answer
    def manifest(df: org.apache.spark.sql.DataFrame, tag: String) =
      df.select(col("doc_id"), col("source").as(s"src_$tag"),
        sha2(col("text").cast("binary"), 256).as(s"h_$tag"))
    val viaManifests = ops.Dedup.snapshotDiffProjected(
      manifest(oldDocs, "o"), manifest(newDocs, "n")).collect()
    assert(viaManifests.toSeq ===
      ops.Dedup.snapshotDiff(oldDocs, newDocs).collect().toSeq)
  }

  test("similarity generics run on a hand-built embeddings DataFrame") {
    import spark.implicits._
    val emb = (0L to 5L).map { i =>
      (i, s"lab${i % 2}", Array.tabulate(4)(j =>
        if (i == 0 || i == 5) 0.5f else 0.1f * ((i + j) % 3)))
    }.toDF("vec_id", "label", "embedding")
    val top = ops.Similarity.similarityTopK(emb, k = 2).collect()
    assert(top.length === 2)
    assert(top.head.getLong(0) === 5L) // identical direction to the query
    val cents = ops.Similarity.labelCentroids(emb)
    assert(cents.count() === 2 * 4) // 2 labels x 4 dims
  }

  test("manifest store: the persisted-generation diff equals the " +
    "from-text diff of the same snapshots") {
    val fromText = ops.Dedup.q95SnapshotDiff(spark, sf).collect().toSeq
    val projected = ops.Dedup.q95bManifestDiff(spark, sf).collect().toSeq
    assert(projected === fromText)
    assert(projected.nonEmpty)
  }

  test("manifestDiff through persisted stores: null-text docs classify " +
    "same/changed on sides they are present in, never added/removed") {
    import spark.implicits._
    val o = graft.util.Ephemeral.dir("manifest_o")
    val n = graft.util.Ephemeral.dir("manifest_n")
    val oldDocs = Seq(
      (1L, "s", Option("x")), (2L, "s", Option.empty[String]),
      (3L, "s", Option("z"))).toDF("doc_id", "source", "text")
    val newDocs = Seq(
      (1L, "s", Option("x2")), (2L, "s", Option.empty[String]),
      (4L, "s", Option("w"))).toDF("doc_id", "source", "text")
    ops.Dedup.manifestWrite(oldDocs, o)
    ops.Dedup.manifestWrite(newDocs, n)
    val out = ops.Dedup.manifestDiff(spark, o, n)
      .as[(String, Long, Long, Long, Long)].collect()
    // doc 4 added, doc 3 removed, doc 1 changed, doc 2 (NULL text on
    // BOTH sides — NULL hash in the persisted manifests) is SAME via
    // the null-safe compare, not misclassified
    assert(out === Array(("s", 1L, 1L, 1L, 1L)))
  }

  test("manifest replay reclaim: a re-appended batch multiplies the " +
    "gate's join until manifestCompact(1), which restores the exact diff") {
    import spark.implicits._
    val o = graft.util.Ephemeral.dir("manifest_rr_o")
    val n = graft.util.Ephemeral.dir("manifest_rr_n")
    val oldDocs = Seq((1L, "s", "x"), (2L, "s", "y"))
      .toDF("doc_id", "source", "text")
    val newDocs = Seq((1L, "s", "x"), (3L, "s", "z"))
      .toDF("doc_id", "source", "text")
    ops.Dedup.manifestWrite(oldDocs, o)
    ops.Dedup.manifestWrite(newDocs, n)
    def diff() = ops.Dedup.manifestDiff(spark, o, n)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    val clean = diff()
    assert(clean === Seq(("s", 1L, 1L, 0L, 1L)))
    // an at-least-once REPLAY re-appends the identical batch: the
    // duplicate new-side rows multiply the full-outer join (doc 1
    // now counts same twice, doc 3 added twice)
    ops.Dedup.manifestWrite(newDocs, n, mode = "append")
    assert(diff() !== clean, "duplicates must be visible pre-reclaim")
    // the s21 gate-point pass: unconditional one-file-per-bucket
    // DISTINCT rewrite — the diff is exact again
    ops.Dedup.manifestCompact(spark, n, maxFilesPerBucket = 1)
    assert(diff() === clean)
  }
}
