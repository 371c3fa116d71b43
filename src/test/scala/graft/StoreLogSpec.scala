package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The cluster stores' commit log: a read costs two filesystem calls,
  * a commit adds one entry and rewrites no file in place, and a
  * hard-linked clone reads as its source. */
class StoreLogSpec extends SparkSpec {

  private def docsOf(rs: (Long, String)*): DataFrame = {
    import spark.implicits._
    rs.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }
  private def txt(p: String) = (1 to 40).map(i => s"$p$i").mkString(" ")

  test("one read of a 64-bucket cluster-store table makes 2 filesystem " +
    "calls: one listing of _graft_log and one open of its entry") {
    import spark.implicits._
    val store = Files.createTempDirectory("store_log_read_").toString
    ops.StoreLog.build(spark, store)(ops.BucketedStore.writeBucketed(
      (0L until 256L).map(d => (d, d, 1L, true)).toDF("doc_id",
          "cluster_id", "cluster_size", "is_canonical")
        .withColumn("kb", pmod(col("doc_id"), lit(64)).cast("int")),
      s"$store/clusters", "overwrite", "kb", Seq("cluster_id", "doc_id")))
    assert(new java.io.File(s"$store/clusters").list()
      .count(_.startsWith("kb=")) === 64)
    // and a one-table store, the near-dup band index: its log sits in
    // the table's own dir
    val index = Files.createTempDirectory("store_log_read_one_").toString
    val docs = docsOf((0L until 40L).map(d => d -> txt(s"d${d}w")): _*)
    ops.Dedup.neardupIndexWrite(docs, index)
    val bandRows = ops.Dedup.bandedSignatures(docs).count()
    Seq(store -> ((() => ops.Dedup.clusterLabelsTable(spark, store).count()),
          256L),
        index -> ((() => ops.Dedup.bandIndexTable(spark, index).count()),
          bandRows)).foreach { case (root, (read, want)) =>
      val (n, calls, _) = ChaosFileSystem.run(root)(read())
      assert(n.get === want)
      assert(calls.map { case (op, p) => (op, p.getName) } ===
        Seq(("listStatus", ops.StoreLog.Dir), ("open", "0")), calls)
    }
  }

  test("an append to a one-table store with no log entry fails loudly, " +
    "naming the store and its builder, and writes nothing") {
    import spark.implicits._
    val store = Files.createTempDirectory("store_log_unbuilt_").toString
    val e = intercept[IllegalArgumentException](ops.Dedup.manifestWrite(
      Seq((1L, "t", "x")).toDF("doc_id", "source", "text"), store, "append"))
    assert(e.getMessage.contains(store) &&
      e.getMessage.contains("manifestWrite"), e.getMessage)
    assert(new java.io.File(store).list().isEmpty)
  }

  test("a commit adds one entry and deletes the replaced files without " +
    "touching the rest, so a hard-linked clone keeps reading its source") {
    val store = Files.createTempDirectory("store_log_clone_").toString
    ops.Dedup.neardupClusterStoreWrite(docsOf(1L -> txt("alpha"),
      2L -> txt("alpha"), 3L -> txt("beta")), store)
    val clone = util.Ephemeral.cloneDir(store, "store_log_clone_copy_")
    def files(root: String): Map[String, Seq[Byte]] =
      Files.walk(Paths.get(root)).iterator().asScala.toSeq
        .filter(Files.isRegularFile(_))
        .map(p => Paths.get(root).relativize(p).toString ->
          Files.readAllBytes(p).toSeq).toMap
    def labels(root: String) = ops.Dedup.clusterLabelsTable(spark, root)
      .select(col("doc_id"), col("cluster_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val source = files(store)
    val sourceLabels = labels(store)
    assert(labels(clone) === sourceLabels)
    ops.Dedup.neardupClusterStoreUpdate(spark, clone,
      docsOf(4L -> txt("beta")))
    // the source is byte-for-byte what it was, and still reads
    assert(files(store) === source)
    assert(labels(store) === sourceLabels)
    assert(labels(clone) === (sourceLabels ++ Seq(3L -> 3L, 4L -> 3L)).sorted)
    val log = new java.io.File(s"$clone/${ops.StoreLog.Dir}").list()
      .filterNot(_.startsWith(".")).toSeq
    assert(log === Seq("1"))
  }
}
