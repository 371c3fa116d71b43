package graft

import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** Unit coverage for the round-6 corpus operators beyond the driver
  * gate: containment asymmetry, repetition-filter degenerate shapes,
  * PII scrub on real match/no-match payloads. */
class TextOpsSpec extends SparkSpec {

  test("containment flags a short doc quoted inside a long one") {
    import spark.implicits._
    // doc 2 = the first third of doc 1 verbatim: containment(2 in 1)
    // = 1.0, while jaccard is ~1/3 (below q36's 0.5 -> invisible there)
    val contained = (0 until 10).map(i => s"w$i").mkString(" ")
    val container = (0 until 30).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, container), (2L, contained), (3L, "x y z q r s"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs)
      .select("container_id", "contained_id", "containment")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out === Seq((1L, 2L, 1.0)))
    // the symmetric query misses it
    assert(Dedup.nearDupPairs(docs).count() === 0)
  }

  test("repetition filter drops modal-token and modal-bigram spam") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam one two three"), // top token 5/8
      (2L, "ab cd ab cd ab cd ab cd ab cd"),          // top bigram dominates
      (3L, (0 until 50).map(i => s"u$i").mkString(" ")), // all distinct
      (4L, "solo"),                                   // 1 token, 0 bigrams
      (5L, "")                                        // empty
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionFilter(docs)
      .select("doc_id", "n_tokens", "top_token_n", "n_bigrams",
        "top_bigram_n", "keep")
      .as[(Long, Int, Int, Int, Int, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(!out(1L)._6 && out(1L)._3 === 5)
    assert(!out(2L)._6 && out(2L)._5 === 5) // "ab cd" x5 of 9 bigrams
    assert(out(3L)._6 && out(3L)._3 === 1)
    // degenerate shapes survive without dividing by zero
    assert(out(4L)._2 === 1 && out(4L)._4 === 0 && out(4L)._5 === 0)
    assert(out(5L)._2 === 0 && out(5L)._3 === 0)
  }

  test("canonical corpus keeps one representative per cluster") {
    import spark.implicits._
    // docs 1 and 2 are byte-identical (SimHash hamming 0 -> a pair ->
    // one cluster with min-id representative 1); doc 3 is unrelated
    val dup = (0 until 12).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "en", "s1", 10L, dup), (2L, "en", "s2", 10L, dup),
      (3L, "en", "s1", 6L, "p q r s t u v")
    ).toDF("doc_id", "lang", "source", "n_chars", "text")
    val clusters = Dedup.connectedComponents(
      Dedup.simhashPairs(docs.select(col("doc_id"), col("text"))))
    val out = Dedup.canonicalCorpus(docs, clusters)
      .select("doc_id").as[Long].collect().toSeq
    assert(out === Seq(1L, 3L))
    // generic contract: NULL-id corpus rows are excluded (matches the
    // oracle's NOT IN semantics), untouched docs survive
    val withNull = docs.union(Seq(
      (null.asInstanceOf[java.lang.Long], "en", "s3", 5L, "n n n n")
    ).toDF("doc_id", "lang", "source", "n_chars", "text")
      .select(col("doc_id").cast("long"), col("lang"), col("source"),
        col("n_chars"), col("text")))
    assert(Dedup.canonicalCorpus(withNull, clusters).count() === 2)
  }

  test("boilerplate fraction flags corpus-wide repeated shingles") {
    import spark.implicits._
    // "x y z" occurs in 3 docs (df=3 >= minDf); each carrier has 3
    // shingles of which 1 is boilerplate -> frac 0.3333 -> drop at the
    // 30% integer threshold; the clean doc keeps
    val docs = Seq(
      (1L, "x y z a1 a2"), (2L, "x y z b1 b2"), (3L, "x y z c1 c2"),
      (4L, "d1 d2 d3 d4 d5")
    ).toDF("doc_id", "text")
    val out = Dedup.boilerplateFraction(docs)
      .select("doc_id", "n_shingles", "n_boiler", "boiler_frac", "keep")
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 3L, 1L, 0.3333, false)))
    assert(out(4L) === ((4L, 3L, 0L, 0.0, true)))
    assert(Seq(2L, 3L).forall(id => out(id)._3 === 1L && !out(id)._5))
  }

  test("source uniqueness counts source-exclusive shingles") {
    import spark.implicits._
    // s1 and s2 share the shingle "a b c"; everything else is exclusive
    val docs = Seq(
      (1L, "s1", "a b c d"), (2L, "s2", "a b c x"), (3L, "s2", "p q r s")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.sourceUniqueness(docs)
      .select("source", "n_shingles", "n_unique", "uniq_frac")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out("s1") === (("s1", 2L, 1L, 0.5))) // "b c d" only
    assert(out("s2") === (("s2", 4L, 3L, 0.75))) // shares "a b c"
  }

  test("corpus-freq score: rare-token ratio and mean frequency") {
    import spark.implicits._
    // corpus: 19 positions of "a", 1 of "rare" (5% of 20) -> rare at
    // the <20% threshold, "a" (95%) is not
    val docs = Seq(
      (1L, "a a a a a a a a a a"),
      (2L, "a a a a a a a a a rare")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.corpusFreqScore(docs, rarePct = 20)
      .select("doc_id", "n_tok", "n_rare", "rare_frac", "mean_tf_permille")
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 10L, 0L, 0.0, 950.0)))
    assert(out(2L) === ((2L, 10L, 1L, 0.1, 860.0)))
  }

  test("quality calibration: exact type-1 quantiles and keep rate") {
    import spark.implicits._
    // "good" scores 100 (len band 40 + distinct 30 + stopword 20 +
    // mean-len 10); "a a" scores 30 (distinct rule only)
    val good = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, "x", good), (2L, "x", good), (3L, "x", "a a"),
      (4L, "y", "a a")
    ).toDF("doc_id", "source", "text")
    val out = TextAnalysis.qualityCalibration(docs)
      .select("source", "n_docs", "p10", "p50", "p90", "n_keep",
        "keep_frac")
      .as[(String, Long, Int, Int, Int, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // x: scores (30, 100, 100) -> p10 = 1st = 30, p50 = 2nd = 100,
    // p90 = 3rd = 100; keep@50 = 2/3
    assert(out("x") === (("x", 3L, 30, 100, 100, 2L, 0.6667)))
    assert(out("y") === (("y", 1L, 30, 30, 30, 0L, 0.0)))
  }

  test("tf store: merge, replay reclaim, and sum-fold compaction " +
      "preserve the model") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("tf_").toString
    val base = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val batch = Seq((3L, "a c c")).toDF("doc_id", "text")
    def model(): Map[String, Long] =
      TextAnalysis.tfModel(spark, store).as[(String, Long)]
        .collect().toMap
    TextAnalysis.tfStoreWrite(base, store)
    TextAnalysis.tfStoreMerge(spark, store, batch, epoch = 1L)
    val merged = Map("a" -> 3L, "b" -> 2L, "c" -> 3L)
    assert(model() === merged)
    // at-least-once replay: the SAME epoch re-appends identical delta
    // rows; the model fold's DISTINCT reclaims them
    TextAnalysis.tfStoreMerge(spark, store, batch, epoch = 1L)
    assert(model() === merged)
    // compaction folds every bucket (two epoch files each) into one
    // epoch -1 total row per token — model unchanged, and a second
    // fold cannot double-count (the bucket is rewritten whole)
    val folded = TextAnalysis.tfStoreCompact(spark, store,
      maxFilesPerBucket = 1)
    assert(folded.nonEmpty)
    assert(model() === merged)
    TextAnalysis.tfStoreCompact(spark, store, maxFilesPerBucket = 0)
    assert(model() === merged)
    // VERDICT r11 #3: compaction persisted the high-water mark, so a
    // replay of an epoch whose tagged rows the fold ERASED is refused
    // — without the hwm this re-append would double-count (DISTINCT
    // has nothing left to reclaim against)
    assert(TextAnalysis.tfStoreHwm(spark, store) === 1L)
    TextAnalysis.tfStoreMerge(spark, store, batch, epoch = 1L)
    assert(model() === merged)
    TextAnalysis.tfStoreMerge(spark, store, base, epoch = 0L)
    assert(model() === merged)
    // a NEW epoch after the fold still lands additively
    TextAnalysis.tfStoreMerge(spark, store,
      Seq((4L, "c d")).toDF("doc_id", "text"), epoch = 2L)
    assert(model() === Map("a" -> 3L, "b" -> 2L, "c" -> 4L, "d" -> 1L))
    // scoring docs NEWER than the model: unseen tokens read as c=0
    // (maximally rare) through the left-outer score join
    val out = TextAnalysis.corpusFreqScoreFromStore(
      Seq((9L, "a zz")).toDF("doc_id", "text"), store, rarePct = 20)
      .select("doc_id", "n_tok", "n_rare").as[(Long, Long, Long)]
      .collect()
    assert(out === Array((9L, 2L, 1L))) // zz rare, a (3/10) not at 20%
    // a fresh overwrite build resets the replay ledger with the rows
    TextAnalysis.tfStoreWrite(base, store)
    assert(TextAnalysis.tfStoreHwm(spark, store) === Long.MinValue)
  }

  test("tf store hwm: a crash between the mark's delete and rename " +
      "still refuses a folded epoch; a torn staged mark is ignored") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("tf_h_").toString
    val base = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val batch = Seq((3L, "a c c")).toDF("doc_id", "text")
    def model(): Map[String, Long] =
      TextAnalysis.tfModel(spark, store).as[(String, Long)]
        .collect().toMap
    TextAnalysis.tfStoreWrite(base, store)
    TextAnalysis.tfStoreMerge(spark, store, batch, epoch = 1L)
    TextAnalysis.tfStoreCompact(spark, store, maxFilesPerBucket = 1)
    val merged = Map("a" -> 3L, "b" -> 2L, "c" -> 3L)
    assert(model() === merged)
    // the state a crash leaves after tfStoreWriteHwm deleted the
    // committed mark and before it renamed the staged one in
    val mark = java.nio.file.Paths.get(store, "_graft_compacted_hwm")
    val staged = java.nio.file.Paths.get(store,
      "_graft_compacted_hwm_staging")
    java.nio.file.Files.move(mark, staged)
    assert(TextAnalysis.tfStoreHwm(spark, store) === 1L)
    // epoch 1 was folded into the -1 totals: a replay must not land
    TextAnalysis.tfStoreMerge(spark, store, batch, epoch = 1L)
    assert(model() === merged)
    // a torn staged mark next to the committed one is ignored
    java.nio.file.Files.writeString(mark, "1")
    java.nio.file.Files.writeString(staged, "")
    assert(TextAnalysis.tfStoreHwm(spark, store) === 1L)
    // an overwrite build clears both files with the rows
    java.nio.file.Files.writeString(staged, "1")
    TextAnalysis.tfStoreWrite(base, store)
    assert(TextAnalysis.tfStoreHwm(spark, store) === Long.MinValue)
    assert(!java.nio.file.Files.exists(staged))
  }

  test("tf store retraction: negated deltas equal a retrain without " +
      "the docs; nulled tokens leave the dictionary; replay refused " +
      "behind the hwm") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("tf_r_").toString
    val keep = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val del = Seq((3L, "a c c d")).toDF("doc_id", "text")
    def model(): Map[String, Long] =
      TextAnalysis.tfModel(spark, store).as[(String, Long)]
        .collect().toMap
    TextAnalysis.tfStoreWrite(keep.unionByName(del), store)
    // retract doc 3: counts return to the keep-only retrain, and 'd'
    // (only ever carried by doc 3) leaves the dictionary entirely —
    // no zero-count residue
    TextAnalysis.tfStoreRetract(spark, store, del, epoch = 1L)
    val retrained = Map("a" -> 2L, "b" -> 2L, "c" -> 1L)
    assert(model() === retrained)
    // at-least-once replay of the SAME retraction epoch: identical
    // negative rows, reclaimed by the model fold's DISTINCT
    TextAnalysis.tfStoreRetract(spark, store, del, epoch = 1L)
    assert(model() === retrained)
    // the sum fold absorbs the negatives; model unchanged after
    val folded = TextAnalysis.tfStoreCompact(spark, store,
      maxFilesPerBucket = 1)
    assert(folded.nonEmpty)
    assert(model() === retrained)
    // a retraction epoch at or below the fold's hwm refuses — its
    // first delivery is already folded in (the tfStoreMerge rule)
    TextAnalysis.tfStoreRetract(spark, store, del, epoch = 1L)
    assert(model() === retrained)
    // scoring through the consumer equals scoring against a model
    // built from scratch on the survivors
    val fresh = java.nio.file.Files.createTempDirectory("tf_f_").toString
    TextAnalysis.tfStoreWrite(keep, fresh)
    val a = TextAnalysis.corpusFreqScoreFromStore(keep, store)
      .collect().map(_.toString).sorted
    val b = TextAnalysis.corpusFreqScoreFromStore(keep, fresh)
      .collect().map(_.toString).sorted
    assert(a === b)
  }

  test("pii scrub redacts emails and phones, leaves clean text alone") {
    import spark.implicits._
    val docs = Seq(
      (1L, "reach me at jane.doe+x@mail.example.org or 415-555-0199 ok"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.io c.d@e-f.com and 111-222-3333 444-555-6666")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(docs)
      .select("doc_id", "n_emails", "n_phones", "redacted")
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 === 1 && out(1L)._3 === 1)
    assert(out(1L)._4 === "reach me at [EMAIL] or [PHONE] ok")
    assert(out(2L)._2 === 0 && out(2L)._3 === 0)
    assert(out(2L)._4 === "no pii here at all")
    assert(out(3L)._2 === 2 && out(3L)._3 === 2)
    assert(out(3L)._4 === "two mails [EMAIL] [EMAIL] and [PHONE] [PHONE]")
  }
}
