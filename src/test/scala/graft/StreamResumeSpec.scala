package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** O-48: offset tracking / resume — the reference's "process only commits
  * after the last stored sha" (rg.py:130-143), as checkpointed file-source
  * offsets: a second run with the same checkpoint must process ONLY files
  * that arrived after the first run. */
class StreamResumeSpec extends SparkSpec {

  test("checkpoint resume processes only new files, exactly once") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("resume_src_").toString
    val sinkDir = Files.createTempDirectory("resume_sink_").toString
    val ckpt = Files.createTempDirectory("resume_ckpt_").toString

    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("id LONG, batch STRING")
        .parquet(srcDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(sinkDir)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    (1L to 100L).map((_, "first")).toDF("id", "batch")
      .write.mode("append").parquet(srcDir)
    runOnce()
    (101L to 150L).map((_, "second")).toDF("id", "batch")
      .write.mode("append").parquet(srcDir)
    runOnce()

    val sink = spark.read.parquet(sinkDir)
    // exactly once: 150 rows total, the first 100 NOT reprocessed
    assert(sink.count() === 150)
    assert(sink.filter(col("batch") === "first").count() === 100)
    assert(sink.filter(col("batch") === "second").count() === 50)
    assert(sink.select(col("id")).distinct().count() === 150)
  }

  test("s23/s24 counts WAL lives inside the counts dir: a committed " +
    "batch leaves no `_wal` sibling, and the read-back skips it") {
    import spark.implicits._
    val countsDir = Files.createTempDirectory("wal_counts_").toString
    val docs = Seq(1L, 2L).toDF("doc_id")
    streaming.Streams.committedFunnelCounts(spark, countsDir, 0L)(
      Seq((0, "input", docs)))(_ => docs.limit(1))
    assert(!new java.io.File(s"${countsDir}_wal").exists)
    assert(streaming.Streams.committedCountsReadBack(spark, countsDir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .toSeq === Seq((0, "input", 2L), (7, "manifest_append", 1L)))
  }

  test("s23/s24 counts commit fails loudly, naming the WAL, when the " +
    "spent WAL cannot be deleted; the commit itself stands") {
    import spark.implicits._
    val docs = Seq(1L, 2L).toDF("doc_id")
    def commit(countsDir: String): Unit =
      streaming.Streams.committedFunnelCounts(spark, countsDir, 0L)(
        Seq((0, "input", docs)))(_ => docs.limit(1))
    val clean = Files.createTempDirectory("wal_clean_").toString
    val (ok, _, n) = ChaosFileSystem.run(clean)(commit(clean))
    ok.get
    // the WAL's delete is the commit's last mutation
    val countsDir = Files.createTempDirectory("wal_loud_").toString
    val (failed, _, _) =
      ChaosFileSystem.run(countsDir, failAt = n)(commit(countsDir))
    val e = failed.failed.get
    assert(e.getMessage.contains(s"$countsDir/_wal/staged_0"), e.getMessage)
    assert(streaming.Streams.committedCountsReadBack(spark, countsDir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .toSeq === Seq((0, "input", 2L), (7, "manifest_append", 1L)))
  }

  test("s23/s24 counts sink is replay-exact: a killed-and-restarted " +
    "stream re-delivers its last micro-batch and the committed " +
    "counts do not change (VERDICT r16 #4)") {
    import spark.implicits._
    def docsOf(rs: (Long, String)*) =
      rs.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    // 3-4 char tokens so the quality screen's mean-token-length band
    // ([3,6] chars) passes and the docs reach the manifest stage
    def words(p: String) = (1 to 40).map(i => s"${p}w$i").mkString(" ")
    val stores = Files.createTempDirectory("replay_stores_").toString
    ops.Dedup.incrementalStoresBuildFrom(spark,
      docsOf(1L -> words("a")), stores)(surv =>
      ops.Dedup.neardupIndexWrite(surv, s"$stores/neardup"))
    val stageDir = Files.createTempDirectory("replay_stage_").toString
    val countsDir = Files.createTempDirectory("replay_counts_").toString
    val ckpt = Files.createTempDirectory("replay_ckpt_").toString
    // micro-batch A: doc 10 (fresh); micro-batch B: doc 11, an EXACT
    // copy of 10 (screens against A's own index append — so a replay
    // that recomputed B's frames against the mutated store would see
    // even doc 12's hash present and zero the stage) + doc 12 (fresh)
    docsOf(10L -> words("b")).coalesce(1)
      .write.mode("append").parquet(stageDir)
    def stageFiles() = new java.io.File(stageDir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val aNames = stageFiles().map(_.getName).toSet
    docsOf(11L -> words("b"), 12L -> words("c")).coalesce(1)
      .write.mode("append").parquet(stageDir)
    stageFiles().foreach { f =>
      val late = if (aNames.contains(f.getName)) 60000 else 30000
      assert(f.setLastModified(System.currentTimeMillis() - late))
    }
    @volatile var poison = true
    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("doc_id BIGINT, text STRING, lang STRING, " +
          "source STRING, n_chars BIGINT")
        .option("maxFilesPerTrigger", "1").parquet(stageDir)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            if (!batch.isEmpty) {
              val ss = batch.sparkSession
              streaming.Streams.committedFunnelCounts(
                ss, countsDir, batchId)(
                ops.Dedup.incrementalFunnelFrames(ss, stores, batch)
              ) { frames =>
                val exactSurv = frames(2)._3
                ops.Dedup.dedupIndexWriteHashes(
                  exactSurv.select(
                    sha2(col("text").cast("binary"), 256)
                      .as("content_hash")), s"$stores/exact", "append")
                ops.Dedup.hashLedgerWrite(frames(1)._3,
                  s"$stores/hashes", mode = "append")
                ops.Dedup.neardupIndexWrite(exactSurv,
                  s"$stores/neardup", "append")
                ops.Dedup.manifestAppendReadBack(ss, stores,
                  frames.last._3, frames.head._3)
              }
              // THE KILL: batch B's work is fully done (counts
              // committed, stores appended) but the epoch commit
              // never lands — the canonical at-least-once window;
              // the restart below re-delivers batch B with the same
              // batchId
              if (poison && batchId == 1L) {
                poison = false
                throw new RuntimeException(
                  "injected crash before epoch commit")
              }
            }
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce()
    }
    def countRows(): Seq[(Int, String, Long)] =
      streaming.Streams.committedCountsReadBack(spark, countsDir)
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    val first = countRows()
    // the oracle shape: 3 docs in, 11 dropped at the exact screen
    assert(first.find(_._1 == 0).get._3 === 3L)
    assert(first.find(_._1 == 2).get._3 === 2L)
    assert(first.find(_._1 == 7).get._3 === 2L)
    // batch B's epoch never committed — it WILL be re-delivered
    assert(!new java.io.File(s"$ckpt/commits/1").exists)
    // RESTART: the re-delivered batch B recomputes its frames against
    // the store its first delivery already mutated (every doc now
    // screens out against its own appended rows) — without the
    // write-once committer those wrong counts would land in the sink
    runOnce()
    assert(new java.io.File(s"$ckpt/commits/1").exists)
    assert(countRows() === first,
      "a re-delivered micro-batch changed the committed counts")
    // and the stores are value-identical too (replayed appends
    // reclaimed by anti-join/DISTINCT)
    assert(spark.read
      .schema("doc_id BIGINT, source STRING, h STRING, kb INT")
      .parquet(s"$stores/manifest").select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet === Set(1L, 10L, 12L))
  }
}
