package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `BucketedStore.table`, the driver-listed reader of the hash-bucketed
  * tables: the same rows as Spark's own reader under the same schema,
  * Spark's snapshot semantics, and no Spark job to list the buckets. */
class BucketedStoreSpec extends SparkSpec {
  private val Schema = "id BIGINT, v STRING, kb INT"

  /** A fresh 64-bucket table of `n` rows (kb = id % 64). */
  private def table64(n: Int): String = {
    val dir = Files.createTempDirectory("bucketed_store_").toString + "/t"
    write(0L until n.toLong, dir, "overwrite")
    dir
  }

  private def write(ids: Seq[Long], dir: String, mode: String): Unit = {
    import spark.implicits._
    ops.BucketedStore.writeBucketed(ids.toDF("id")
        .withColumn("v", concat(lit("v"), col("id").cast("string")))
        .withColumn("kb", pmod(col("id"), lit(64)).cast("int")),
      dir, mode, "kb", Seq("id"))
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))

  private def table(dir: String, keys: Option[Seq[Int]] = None) =
    ops.BucketedStore.table(spark, dir, Schema, "kb", keys)

  private def sparkRead(dir: String): DataFrame =
    spark.read.schema(Schema).parquet(dir)

  private def listingJobs[T](body: => T): (T, Seq[String]) = {
    val (out, jobs) = nonQueryJobs(body)
    (out, jobs.map(_._1).filter(_.startsWith("Listing leaf files")))
  }

  test("table reads Spark's rows and schema from a 64-bucket table, " +
    "and lists its buckets without a Spark job") {
    val dir = table64(256)
    val (df, listing) = listingJobs(table(dir))
    assert(listing.isEmpty, listing)
    // the parent's reader needs a parallel listing job for 64 dirs
    assert(listingJobs(sparkRead(dir))._2.nonEmpty)
    assert(df.schema === sparkRead(dir).schema)
    assert(sorted(df) === sorted(sparkRead(dir)))
    assert(df.count() === 256L)
  }

  test("table skips _SUCCESS, .crc and _temporary entries as Spark does") {
    val dir = table64(128)
    val root = Paths.get(dir)
    assert(Files.exists(root.resolve("_SUCCESS")))
    val bucket = root.resolve("kb=3")
    val part = Files.list(bucket).iterator()
    val file = Iterator.continually(part.next())
      .find(_.getFileName.toString.endsWith(".parquet")).get
    assert(Files.exists(bucket.resolve(s".${file.getFileName}.crc")))
    // a crashed writer's leftovers: a data file under _temporary and a
    // hidden copy inside a bucket dir
    val tmp = root.resolve("_temporary/0/kb=3")
    Files.createDirectories(tmp)
    Files.copy(file, tmp.resolve("part-00000-leftover.parquet"))
    Files.copy(file, bucket.resolve(".hidden-part.parquet"))
    Files.copy(file, bucket.resolve("_hidden-part.parquet"))
    assert(sorted(table(dir)) === sorted(sparkRead(dir)))
    assert(table(dir).count() === 128L)
  }

  test("table reads an all-emptied table dir as empty, and fails on an " +
    "absent one as Spark does") {
    val dir = table64(64)
    new java.io.File(dir).listFiles.filter(_.getName.startsWith("kb="))
      .foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d))
    assert(sparkRead(dir).count() === 0L)
    assert(table(dir).count() === 0L)
    assert(table(dir).schema === sparkRead(dir).schema)
    assert(table(dir, Some(Seq(1, 2))).count() === 0L)
    val absent = dir + "_absent"
    intercept[org.apache.spark.sql.AnalysisException](sparkRead(absent))
    intercept[org.apache.spark.sql.AnalysisException](table(absent))
  }

  test("a pruned table lists and reads only its keys' buckets, keys " +
    "with no dir included") {
    val dir = table64(100) // ids 0..99: buckets 0..63 all exist
    new java.io.File(s"$dir/kb=5").listFiles
      .foreach(_.delete())
    assert(new java.io.File(s"$dir/kb=5").delete())
    val keys = Seq(5, 7, 40, 7)
    val want = sorted(sparkRead(dir).filter(col("kb").isin(keys: _*)))
    assert(want.map(_.getLong(0)) === Seq(7L, 40L, 71L))
    val (df, listing) = listingJobs(table(dir, Some(keys)))
    assert(listing.isEmpty, listing)
    assert(sorted(df) === want)
    assert(df.inputFiles.length === 2)
    assert(df.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [kb"))
    assert(table(dir, Some(Nil)).count() === 0L)
  }

  test("table keeps Spark's snapshot semantics: a frame created before " +
    "a write keeps its listing, one created after sees the write; a " +
    "cached frame's refresh lists again, on the driver") {
    val dir = table64(64)
    val before = table(dir)
    val beforeSpark = sparkRead(dir)
    write(64L until 200L, dir, "append")
    assert(before.count() === 64L && beforeSpark.count() === 64L)
    assert(table(dir).count() === 200L && sparkRead(dir).count() === 200L)
    assert(sorted(table(dir)) === sorted(sparkRead(dir)))
    // a write refreshes the cached plans over its path (Spark's
    // recacheByPath), which re-lists their index
    val cached = table(dir).cache()
    assert(cached.count() === 200L)
    val (_, listing) = listingJobs {
      write(200L until 300L, dir, "append")
      assert(cached.count() === 300L)
    }
    assert(listing.isEmpty, listing)
    cached.unpersist()
  }

  /** A logged store whose label table `store/clusters` holds docs
    * 0..127 (kb = doc % 64), each its own cluster. */
  private def labelStore(): String = {
    val store = Files.createTempDirectory("label_commit_").toString
    ops.StoreLog.build(spark, store)(ops.BucketedStore.writeBucketed(
      labels((0L until 128L).map(d => d -> d)), s"$store/clusters",
      "overwrite", "kb", Seq("cluster_id", "doc_id")))
    store
  }

  private def labels(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "cluster_id")
      .withColumn("cluster_size", lit(1L))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .withColumn("kb", pmod(col("doc_id"), lit(64)).cast("int"))
  }

  private def open(store: String) =
    ops.StoreLog.open(spark, store, "store", "a build")

  private def readLabels(store: String): Seq[(Long, Long)] =
    open(store).read(ops.Dedup.ClusterLabels)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** Each bucket dir's data files (name and bytes), hidden names kept. */
  private def bucketBytes(store: String): Map[String, Seq[(String, Seq[Byte])]] =
    new java.io.File(s"$store/clusters").listFiles.filter(_.isDirectory)
      .map(d => d.getName -> d.listFiles.filter(_.isFile).sortBy(_.getName)
        .toSeq.map(f => (f.getName, Files.readAllBytes(f.toPath).toSeq)))
      .toMap

  test("a label commit through the store log: untouched buckets stay " +
    "byte-identical, a replaced bucket holds one new file, and the log " +
    "holds one new entry") {
    val store = labelStore()
    val before = bucketBytes(store)
    // docs 3 and 67 (kb 3) join cluster 5; doc 5 (kb 5) keeps its label
    val relabeled = Seq(3L -> 5L, 67L -> 5L, 5L -> 5L, 69L -> 69L)
    val v = open(store)
    v.commit("spec.commit")(Seq(v.write(ops.Dedup.ClusterLabels,
      labels(relabeled), Seq(3, 5), replace = true)))
    val after = bucketBytes(store)
    assert(after.keySet === before.keySet, "no extra dir")
    (0 until 64).filterNot(Set(3, 5)).foreach(k =>
      assert(after(s"kb=$k") === before(s"kb=$k"), s"kb=$k changed"))
    Seq(3, 5).foreach { k =>
      assert(after(s"kb=$k").count(_._1.endsWith(".parquet")) === 1)
      assert(after(s"kb=$k") !== before(s"kb=$k"))
    }
    assert(readLabels(store) === ((0L until 128L).map(d => d -> d).toMap ++
      relabeled).toSeq.sorted)
    assert(new java.io.File(s"$store/${ops.StoreLog.Dir}").list()
      .filterNot(_.startsWith(".")).toSeq === Seq("1"))
  }

  test("the listing-path ops refuse a logged store's tables and write " +
    "nothing there") {
    val store = labelStore()
    val table = s"$store/clusters"
    val before = bucketBytes(store)
    import spark.implicits._
    val refusals = Seq(
      () => ops.BucketedStore.table(spark, table,
        "doc_id BIGINT, cluster_id BIGINT, kb INT", "kb"),
      () => ops.BucketedStore.compactBuckets(spark, table, "kb",
        Seq(col("doc_id"), col("cluster_id")), Seq("doc_id"), 0),
      () => ops.BucketedStore.retractBucketRewrite(spark, table,
        "doc_id BIGINT, cluster_id BIGINT, kb INT", "kb", Seq(3),
        Seq(3L).toDF("doc_id"), "doc_id", Seq("doc_id", "cluster_id"),
        Seq("doc_id")))
    // a one-table store holds its log in the table's own dir
    val exact = Files.createTempDirectory("exact_logged_").toString
    ops.Dedup.dedupIndexWrite(Seq((1L, "alpha")).toDF("doc_id", "text"),
      exact)
    val exactFiles = Files.walk(Paths.get(exact)).count()
    val rootRefusals = Seq(
      () => ops.BucketedStore.table(spark, exact,
        "content_hash STRING, bucket INT", "bucket"),
      () => ops.BucketedStore.compactBuckets(spark, exact, "bucket",
        Seq(col("content_hash")), Nil, 0),
      () => ops.BucketedStore.retractBucketRewrite(spark, exact,
        "content_hash STRING, bucket INT", "bucket", Seq(3),
        Seq("x").toDF("content_hash"), "content_hash", Seq("content_hash"),
        Nil))
    (refusals ++ rootRefusals).foreach { op =>
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains(ops.StoreLog.Dir), e.getMessage)
    }
    assert(bucketBytes(store) === before)
    assert(!new java.io.File(s"${table}_compacting").exists())
    assert(Files.walk(Paths.get(exact)).count() === exactFiles)
    assert(!new java.io.File(s"${exact}_compacting").exists())
  }

  test("compactBuckets fails loudly, naming its temp dir, when the temp " +
    "dir cannot be deleted; the compacted table stands") {
    def oversized(): String = {
      val dir = table64(64)
      write(64L until 128L, dir, "append")
      dir
    }
    def compact(dir: String): Seq[Int] = ops.BucketedStore.compactBuckets(
      spark, dir, "kb", Seq(col("id"), col("v")), Seq("id"), 1)
    val clean = oversized()
    val parent = new java.io.File(clean).getParent
    val (ok, _, n) = ChaosFileSystem.run(parent)(compact(clean))
    assert(ok.get.size === 64)
    // the temp dir's delete is the pass's last mutation
    val dir = oversized()
    val (failed, _, _) = ChaosFileSystem.run(
      new java.io.File(dir).getParent, failAt = n)(compact(dir))
    val e = failed.failed.get
    assert(e.getMessage.contains(s"${dir}_compacting"), e.getMessage)
    assert(table(dir).count() === 128L)
    assert(new java.io.File(s"$dir/kb=3").list()
      .count(_.endsWith(".parquet")) === 1)
  }
}
