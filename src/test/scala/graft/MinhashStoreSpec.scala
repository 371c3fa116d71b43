package graft

import graft.ops.{Dedup, Tables}
import org.apache.spark.sql.functions._

/** Stored MinHash signature layout (Dedup.minhashWrite/minhashProbe):
  * the write-once band table plus the join-free incremental probe.
  * Asserts (1) probe parity with the per-query q36b self-join — every
  * near-dup partner q36b finds for a doc, the probe of that doc's text
  * finds too (plus the doc itself at 16/16), (2) the band predicate runs
  * as a PartitionFilter and the key equality is pushed to parquet. */
class MinhashStoreSpec extends SparkSpec {

  test("stored probe matches the per-query LSH partners and prunes") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val store = java.nio.file.Files.createTempDirectory("mh_").toString
    Dedup.minhashWrite(docs, store)

    // pick a doc that q36b pairs with something, probe with ITS text
    val pairs = Dedup.minhashLshPairs(docs)
      .select("doc_a", "doc_b", "n_match").as[(Long, Long, Int)].collect()
    assert(pairs.nonEmpty, "fixture has no q36b pairs to probe against")
    val probeId = pairs.head._1
    val text = docs.filter(col("doc_id") === probeId)
      .select("text").as[String].collect().head

    val got = Dedup.minhashProbe(spark, store, text)
      .select("doc_id", "n_match").as[(Long, Int)].collect().toSet
    val partners = pairs.collect {
      case (a, b, m) if a == probeId => (b, m)
      case (a, b, m) if b == probeId => (a, m)
    }.toSet + ((probeId, 16)) // the stored copy of the probed doc itself
    assert(got === partners,
      s"probe=$got expected=$partners (probeId=$probeId)")

    // pruning: band is a partition filter; k1 equality reaches parquet
    val probe = Dedup.minhashProbe(spark, store, text)
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*band".r.findFirstIn(plan).isDefined,
      s"band not a partition filter:\n$plan")
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(k1".r.findFirstIn(plan)
      .isDefined, s"k1 equality not pushed:\n$plan")
  }

  test("probe of a sub-shingle-length text returns empty, not a crash") {
    val docs = Tables.documents(spark, sf)
    val store = java.nio.file.Files.createTempDirectory("mh2_").toString
    Dedup.minhashWrite(docs, store)
    assert(Dedup.minhashProbe(spark, store, "foo bar").count() === 0)
    assert(Dedup.minhashProbe(spark, store, "").count() === 0)
  }

  test("connectedComponents honors spark.graft.cc.checkpointDir") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt_").toString
    spark.conf.set("spark.graft.cc.checkpointDir", dir)
    // reliable-mode rounds are the subject — keep the loop distributed
    spark.conf.set("spark.graft.cc.localThreshold", "0")
    try {
      // a 12-node path forces several materialized rounds, so the
      // convergence compare runs repeatedly under reliable mode's 2x
      // observed-metric scale (see the starContractionLabels
      // scaladoc's reliable-checkpoint caveat): both sides of
      // each compare are equally scaled, so the loop must still stop
      // exactly at the true fixpoint
      val pairs = ((1L to 11L).map(i => (i, i + 1)) ++ Seq((20L, 21L)))
        .toDF("doc_a", "doc_b")
      val out = Dedup.connectedComponents(pairs)
        .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
      val expected =
        (1L to 12L).map(_ -> 1L).toMap ++ Map(20L -> 20L, 21L -> 20L)
      assert(out === expected)
      // reliable checkpoint() writes rdd-N directories under the dir
      val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val wroteRdd =
        try stream.anyMatch(p => p.getFileName.toString.startsWith("rdd-"))
        finally stream.close()
      assert(wroteRdd, s"no rdd-* checkpoint data under $dir")
    } finally {
      spark.conf.unset("spark.graft.cc.checkpointDir")
      spark.conf.unset("spark.graft.cc.localThreshold")
    }
  }
}
