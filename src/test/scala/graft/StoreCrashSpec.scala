package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.{Failure, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Crash points of the stores' log commit (the cluster stores and the
  * one-table stores): each mutation is failed in turn at every
  * filesystem mutation it makes (create, rename, delete, mkdirs —
  * executor tasks included), as a crash there would stop it. After each
  * crash the store reads exactly the version before the mutation or the
  * one after it, and replaying the mutation reads back the full-rebuild
  * oracle. */
class StoreCrashSpec extends SparkSpec {
  import StoreCrashSpec.Doc

  private def docsOf(rs: (Long, String)*): DataFrame = {
    import spark.implicits._
    rs.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** The docs, embeddings, image and audio signatures of `ds`. */
  private def families(ds: Seq[Doc])
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    (docsOf(ds.map(d => d.id -> d.text): _*),
      ds.map(d => (d.id, d.vec.toArray)).toDF("vec_id", "embedding"),
      ds.map(d => (d.id, d.ahash)).toDF("doc_id", "ahash"),
      ds.map(d => (d.id, d.ehash)).toDF("doc_id", "ehash"))
  }

  // docs 1 and 2 are duplicates in every family, doc 3 stands alone;
  // the batch doc 4 duplicates doc 3 in every family
  private val sig = 0x0F0F0F0F0F0F0F0FL
  private val one = Doc(1, "alpha bravo charlie delta echo",
    Seq(1f, 0f, 0f, 0f), sig, ~sig)
  private val three = Doc(3, "foxtrot golf hotel india juliet",
    Seq(0f, 1f, 0f, 0f), ~sig, sig)
  private val corpus = Seq(one, one.copy(id = 2), three)
  private val batch = Seq(three.copy(id = 4))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def log(store: String) =
    ops.StoreLog.open(spark, store, "store", "a build")

  /** Every table of the store's newest version, read from the files its
    * log entry names, each row as JSON (a one-table store's bucket dirs
    * each count as a table), plus the entry's mark. `schemas` holds each
    * table's schema once a read has inferred it. */
  private def state(store: String,
      schemas: ConcurrentHashMap[String, StructType])
      : Map[String, Seq[String]] = {
    val v = log(store)
    val tables = v.files.toSeq.groupBy(_._1.takeWhile(_ != '/')).toSeq.map {
      case (table, dirs) =>
        val files = dirs.flatMap { case (d, fs) =>
          fs.map(f => s"$store/$d/${f.name}") }
        val schema = schemas.computeIfAbsent(table,
          _ => spark.read.parquet(files: _*).schema)
        spark.read.schema(schema).parquet(files: _*)
          .select(lit(table).as("t"), to_json(struct(col("*"))).as("r"))
    }
    val rows: Map[String, Seq[String]] =
      if (tables.isEmpty) Map.empty
      else tables.reduce(_ unionByName _).collect().toSeq
        .groupMap(_.getString(0))(_.getString(1))
        .map { case (t, rs) => t -> rs.sorted }
    rows ++ v.mark.map(m => "mark" -> Seq(m.toString))
  }

  /** Fail `op` at each of its mutations on a fresh clone of `pristine`,
    * four clones at a time; check each crashed store against the clean
    * run's two versions, then replay `op` and check `readBack` against
    * `oracle`. Returns the tables whose rows the clean run changed. */
  private def everyCrash(name: String, pristine: String)(op: String => Unit)(
      readBack: String => Seq[String], oracle: Seq[String]): Set[String] = {
    val schemas = new ConcurrentHashMap[String, StructType]
    val clean = util.Ephemeral.cloneDir(pristine, s"crash_${name}_")
    val before = state(clean, schemas)
    val (done, _, n) = ChaosFileSystem.run(clean)(op(clean))
    done.get
    val after = state(clean, schemas)
    assert(readBack(clean) === oracle, s"$name: the clean run")
    assert(n > 0, s"$name made no filesystem mutation")
    info(s"$name: $n filesystem mutations, each crashed in turn")
    def trial(k: Int): Unit = {
      val store = util.Ephemeral.cloneDir(pristine, s"crash_${name}_$k")
      val (crashed, _, _) =
        ChaosFileSystem.run(store, failAt = k)(op(store))
      assert(crashed.isFailure, s"$name: mutation $k of $n did not fail")
      val seen = state(store, schemas)
      assert(seen === before || seen === after,
        s"$name: after a crash at mutation $k of $n the store reads " +
          "neither version")
      op(store)
      assert(readBack(store) === oracle,
        s"$name: replay after a crash at mutation $k of $n")
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val sc = spark.sparkContext
    sc.setLogLevel("OFF")
    try {
      val outcomes = (1 to n).map(k =>
        pool.submit(() => Try(trial(k)))).map(_.get)
      outcomes.collectFirst { case Failure(e) => throw e }
    } finally {
      sc.setLogLevel("WARN")
      pool.shutdown()
    }
    (before.keySet ++ after.keySet).filter(t => before.get(t) != after.get(t))
  }

  /** Every table of the unified store: the commits below write and
    * rewrite each of them. */
  private val unifiedTables = Set("shingle", "simhash", "emb_lsh",
    "emb_vec", "img_ahash", "ehash", "edges", "clusters")

  private def unifiedStore(ds: Seq[Doc]): String = {
    val store = util.Ephemeral.dir("crash_uni_pristine_")
    val (docs, emb, ahash, ehash) = families(ds)
    ops.UnifiedClusters.unifiedClusterStoreWrite(docs, emb, ahash, ehash,
      store)
    store
  }
  private def unifiedReadBack(store: String): Seq[String] =
    rows(ops.UnifiedClusters.unifiedClustersFromStore(spark, store))
  private def unifiedUpdate(store: String): Unit = {
    val (docs, emb, ahash, ehash) = families(batch)
    ops.UnifiedClusters.unifiedClusterStoreUpdate(spark, store, docs, emb,
      ahash, ehash)
  }

  test("a unified update crashed at any filesystem mutation reads the " +
    "old or the new version, and its replay equals the rebuild") {
    val changed = everyCrash("uni_update", unifiedStore(corpus))(
      unifiedUpdate)(unifiedReadBack,
      unifiedReadBack(unifiedStore(corpus ++ batch)))
    assert(changed === unifiedTables)
  }

  test("a unified retraction crashed at any filesystem mutation reads " +
    "the old or the new version, and its replay equals the rebuild") {
    val changed = everyCrash("uni_retract", unifiedStore(corpus)) { store =>
      val (docs, emb, ahash, ehash) = families(corpus.take(1))
      ops.UnifiedClusters.unifiedClusterStoreRetract(spark, store, docs,
        emb, ahash, ehash)
    }(unifiedReadBack, unifiedReadBack(unifiedStore(corpus.drop(1))))
    assert(changed === unifiedTables)
  }

  test("a unified compaction crashed at any filesystem mutation reads " +
    "the old or the new version, and its replay reads the same clusters") {
    val pristine = unifiedStore(corpus)
    unifiedUpdate(pristine)
    everyCrash("uni_compact", pristine)(store =>
      ops.UnifiedClusters.unifiedClusterStoreCompact(spark, store, 1))(
      unifiedReadBack, unifiedReadBack(pristine))
  }

  test("a MinHash cluster-store update crashed at any filesystem " +
    "mutation reads the old or the new version, and its replay equals " +
    "the rebuild") {
    def build(ds: Seq[Doc]): String = {
      val store = util.Ephemeral.dir("crash_nd_pristine_")
      ops.Dedup.neardupClusterStoreWrite(families(ds)._1, store)
      store
    }
    def readBack(store: String) =
      rows(ops.Dedup.clusterLabelsTable(spark, store).drop("kb"))
    everyCrash("nd_update", build(corpus))(store =>
      ops.Dedup.neardupClusterStoreUpdate(spark, store, families(batch)._1))(
      readBack, readBack(build(corpus ++ batch)))
  }

  test("an exact-index append and then its compaction, each crashed at " +
    "any filesystem mutation, read the old or the new version, and " +
    "their replays admit as the rebuild does") {
    val corpus = docsOf(1L -> "alpha bravo", 2L -> "charlie delta")
    val batch = docsOf(3L -> "echo foxtrot", 4L -> "golf hotel")
    def build(docs: DataFrame): String = {
      val store = util.Ephemeral.dir("crash_exact_pristine_")
      ops.Dedup.dedupIndexWrite(docs, store)
      store
    }
    def append(store: String): Unit = ops.Dedup.dedupIndexWrite(batch,
      store, "append")
    // the engine's view: which docs of every text ever seen are admitted
    val probe = docsOf(10L -> "alpha bravo", 11L -> "echo foxtrot",
      12L -> "india juliet")
    def readBack(store: String): Seq[String] =
      rows(ops.Dedup.corpusMerge(spark, store, probe).select("doc_id"))
    val oracle = readBack(build(corpus.unionByName(batch)))
    assert(oracle === Seq("[12]"))
    val pristine = build(corpus)
    everyCrash("exact_append", pristine)(append)(readBack, oracle)
    val appended = util.Ephemeral.cloneDir(pristine, "crash_exact_appended_")
    append(appended)
    everyCrash("exact_compact", appended)(store =>
      assert(ops.Dedup.dedupIndexCompact(spark, store, 0).nonEmpty))(
      readBack, oracle)
  }

  test("a manifest retraction that empties a bucket, committed with a " +
    "promoted append, crashed at any filesystem mutation reads the old " +
    "or the new version, and its replay equals the rebuild") {
    import spark.implicits._
    def gen(ids: Long*): DataFrame =
      docsOf(ids.map(i => i -> s"text $i"): _*)
        .withColumn("source", concat(lit("s"), col("doc_id")))
    def kb(id: Long): Int = Seq(id).toDF("doc_id")
      .select(pmod(xxhash64(col("doc_id")), lit(64)).cast("int"))
      .head().getInt(0)
    // doc 1 is alone in its bucket; doc 4 is the promoted survivor
    assert(!Seq(2L, 3L, 4L).map(kb).contains(kb(1L)))
    def build(docs: DataFrame): String = {
      val store = util.Ephemeral.dir("crash_manifest_pristine_")
      ops.Dedup.manifestWrite(docs, store)
      store
    }
    def retract(store: String): Unit = ops.Dedup.manifestRetract(spark,
      store, Seq(1L).toDF("doc_id"), Seq(kb(1L)), Some(gen(4L)))
    // the gate over the store against itself: one row per doc (each its
    // own source), its n_same the square of the doc's row copies — after
    // the compaction a replayed promotion append needs
    def readBack(store: String): Seq[String] = {
      ops.Dedup.manifestCompact(spark, store, 1)
      rows(ops.Dedup.manifestDiff(spark, store, store))
    }
    val pristine = build(gen(1L, 2L, 3L))
    val changed = everyCrash("manifest_retract", pristine)(retract)(
      readBack, readBack(build(gen(2L, 3L, 4L))))
    assert(changed === Set(s"kb=${kb(1L)}", s"kb=${kb(4L)}"))
    val clean = util.Ephemeral.cloneDir(pristine, "crash_manifest_clean_")
    retract(clean)
    assert(!new java.io.File(s"$clean/kb=${kb(1L)}").exists,
      "the emptied bucket's dir is gone")
  }

  test("a tf merge and then its fold compaction, each crashed at any " +
    "filesystem mutation, read the old or the new version; their " +
    "replays equal the retrained model, and a replay of the folded " +
    "epoch appends nothing") {
    import spark.implicits._
    val base = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val batch = Seq((3L, "a c c d")).toDF("doc_id", "text")
    def build(docs: DataFrame): String = {
      val store = util.Ephemeral.dir("crash_tf_pristine_")
      ops.TextAnalysis.tfStoreWrite(docs, store)
      store
    }
    def merge(store: String): Unit =
      ops.TextAnalysis.tfStoreMerge(spark, store, batch, epoch = 1L)
    def model(store: String): Seq[String] =
      rows(ops.TextAnalysis.tfModel(spark, store))
    val oracle = model(build(base.unionByName(batch)))
    val pristine = build(base)
    everyCrash("tf_merge", pristine)(merge)(model, oracle)
    val merged = util.Ephemeral.cloneDir(pristine, "crash_tf_merged_")
    merge(merged)
    def replayed(store: String): Seq[String] = {
      val before = log(store).files
      merge(store)
      assert(log(store).files === before,
        "a replay of the folded epoch appended")
      model(store)
    }
    val changed = everyCrash("tf_fold", merged)(store =>
      assert(ops.TextAnalysis.tfStoreCompact(spark, store, 0).nonEmpty))(
      replayed, oracle)
    assert(changed.contains("mark"))
    assert(log(merged).mark.isEmpty)
  }
}

object StoreCrashSpec {
  /** A document with a row in every family of the unified store: its
    * text, its embedding, and its image and audio signatures. */
  final case class Doc(id: Long, text: String, vec: Seq[Float],
      ahash: Long, ehash: Long)
}
