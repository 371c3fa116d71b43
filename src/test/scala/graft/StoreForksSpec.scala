package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{BucketedStore, Dedup, Similarity, Tables, UnifiedClusters}
import graft.sources.TimeSeriesStore

/** Store writes start no process: without Hadoop's native library the
  * stock local filesystem forks `chmod` for every file, `.crc` file
  * and directory a write creates (about 190 for one 64-bucket write).
  * A JFR recording with `jdk.ProcessStart` enabled sees every process
  * the JVM starts; each test keeps the ones whose command names its
  * own store. */
class StoreForksSpec extends SparkSpec {

  /** The commands of the processes started while `body` ran that
    * name `path`. */
  private def forksOn(path: String)(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    rec.start()
    try body
    finally rec.stop()
    val file = Files.createTempFile("store_forks_", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
        .filter(_.contains(path))
    } finally {
      rec.close()
      Files.delete(file)
    }
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("the recording sees a chmod the stock local filesystem forks") {
    // the instrument itself: a permission set through the stock
    // RawLocalFileSystem (no native library here) is a chmod process
    val dir = tmp("store_forks_stock_")
    val forks = forksOn(dir) {
      val fs = new org.apache.hadoop.fs.RawLocalFileSystem
      fs.initialize(java.net.URI.create("file:///"),
        spark.sparkContext.hadoopConfiguration)
      fs.setPermission(new org.apache.hadoop.fs.Path(dir),
        new org.apache.hadoop.fs.permission.FsPermission("755"))
    }
    assume(!org.apache.hadoop.io.nativeio.NativeIO.isAvailable,
      "the native library sets permissions without a process")
    assert(forks.exists(_.contains("chmod")), forks)
  }

  test("a 64-bucket writeBucketed forks no process") {
    import spark.implicits._
    val dir = tmp("store_forks_bucketed_") + "/t"
    val forks = forksOn(dir) {
      BucketedStore.writeBucketed((0L until 256L).toDF("id")
          .withColumn("kb", pmod(col("id"), lit(64)).cast("int")),
        dir, "overwrite", "kb", Seq("id"))
    }
    assert(new java.io.File(dir).list().count(_.startsWith("kb=")) === 64)
    assert(forks.isEmpty, forks)
  }

  test("a unified update's label commit forks no process") {
    import spark.implicits._
    def docsOf(rs: (Long, String)*): DataFrame =
      rs.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    def txt(p: String) = (1 to 40).map(i => s"$p$i").mkString(" ")
    val emb0 = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val img0 = Seq.empty[(Long, Long)].toDF("doc_id", "ahash")
    val aud0 = Seq.empty[(Long, Long)].toDF("doc_id", "ehash")
    val store = tmp("store_forks_uni_")
    UnifiedClusters.unifiedClusterStoreWrite(docsOf(5L -> txt("alpha"),
      6L -> txt("alpha"), 70L -> txt("beta")), emb0, img0, aud0, store)
    val forks = forksOn(store) {
      UnifiedClusters.unifiedClusterStoreUpdate(spark, store,
        docsOf(200L -> txt("alpha"), 71L -> txt("beta")), emb0, img0,
        aud0)
    }
    val labels = spark.read.parquet(s"$store/clusters")
      .select(col("doc_id"), col("cluster_id")).as[(Long, Long)]
      .collect().toSet
    assert(labels.contains((200L, 5L)) && labels.contains((71L, 70L)))
    assert(forks.isEmpty, forks)
  }

  test("a cluster-store compaction through the log forks no process") {
    import spark.implicits._
    def docsOf(rs: (Long, String)*): DataFrame =
      rs.toSeq.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("t"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    def txt(p: String) = (1 to 40).map(i => s"$p$i").mkString(" ")
    val store = tmp("store_forks_compact_")
    Dedup.neardupClusterStoreWrite(docsOf(1L -> txt("alpha"),
      2L -> txt("alpha")), store)
    Dedup.neardupClusterStoreUpdate(spark, store, docsOf(3L -> txt("alpha")))
    def edgeFiles = new java.io.File(s"$store/edges").list()
      .count(_.endsWith(".parquet"))
    assert(edgeFiles > 1)
    // the edge rewrite, the band rewrites, the log entry and the GC
    // deletes all run inside
    val forks = forksOn(store)(
      Dedup.neardupClusterStoreCompact(spark, store, maxFilesPerBucket = 1))
    assert(edgeFiles === 1)
    assert(Dedup.clusterLabelsTable(spark, store).count() === 3L)
    assert(forks.isEmpty, forks)
  }

  test("TimeSeriesStore.write forks no process") {
    import spark.implicits._
    val dir = tmp("store_forks_ts_")
    val points = Seq("2026-08-01 10:00:00", "2026-08-02 10:00:00",
      "2026-08-03 10:00:00").map(t => (Timestamp.valueOf(t), 1L))
      .toDF("ts", "dec")
    val forks = forksOn(dir)(TimeSeriesStore.write(points, dir))
    assert(TimeSeriesStore.read(spark, dir).count() === 3L)
    assert(forks.isEmpty, forks)
  }

  test("ivfPqAppend forks no process") {
    val emb = Tables.embeddings(spark, sf)
    val store = tmp("store_forks_ivfpq_")
    Similarity.ivfPqWriteDf(emb.filter(col("vec_id") % 2 === 0), store)
    val forks = forksOn(store) {
      Similarity.ivfPqAppend(spark, store,
        emb.filter(col("vec_id") % 2 === 1))
    }
    assert(spark.read.parquet(s"$store/vectors").count() === emb.count())
    assert(forks.isEmpty, forks)
  }
}
