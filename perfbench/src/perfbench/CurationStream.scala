package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Multimodal
import graft.functions.Multimodal.MediaRecord
import graft.ops.{Dedup, UnifiedClusters}

/** curation_stream: a standing unified cluster store fed by a
  * Structured Streaming `foreachBatch`, one staging parquet file per
  * micro-batch, with a retraction, a compaction and read-backs after
  * every batch. */
object CurationStream {

  /** Perceptual pair rule of the image and audio families (4 bands of
    * 15 bits, verify at hamming <= 8), restated here so the oracle's
    * pair sets are computed independently of the store. */
  private val Bands = 4
  private val BandBits = 15
  private val MaxHamming = 8

  /** Read-backs that end each round: a dashboard re-reads the store a few
    * times between batches, and their median is steadier than one. */
  val ReadbacksPerRound = 2

  private val stagingSchema = "doc_id BIGINT, text STRING, lang STRING, " +
    "source STRING, n_chars BIGINT, embedding ARRAY<FLOAT>, " +
    "image BINARY, audio BINARY"

  private def docRows(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, "en", "generated", d.text.length.toLong,
        d.emb, d.image.orNull, d.audio.orNull))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "embedding",
        "image", "audio")
  }

  /** The four inputs the store's entry points take, from staged rows. */
  private final case class Parts(docs: DataFrame, emb: DataFrame,
      img: DataFrame, aud: DataFrame)

  private def parts(rows: DataFrame): Parts = {
    val s = rows.sparkSession
    import s.implicits._
    def media(c: String, kind: String) =
      rows.filter(col(c).isNotNull)
        .select(col("doc_id"), lit(kind).as("modality"), col(c).as("payload"),
          col("source"))
        .as[MediaRecord]
    Parts(
      rows.select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars")),
      rows.select(col("doc_id").as("vec_id"), col("embedding"),
        lit(0).as("label")),
      Multimodal.imageSignatures(media("image", "image")),
      Multimodal.audioSignatures(media("audio", "audio")))
  }

  /** Banded-hamming pairs over collected (doc_id, sig) rows. */
  private def bandedPairs(sigs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val mask = (1L << BandBits) - 1
    val byBand = for {
      (id, sig) <- sigs
      b <- 0 until Bands
    } yield ((b, (sig >>> (BandBits * b)) & mask), (id, sig))
    byBand.groupBy(_._1).values.flatMap { g =>
      val m = g.map(_._2)
      for {
        (a, sa) <- m
        (b, sb) <- m
        if a < b && java.lang.Long.bitCount(sa ^ sb) <= MaxHamming
      } yield (a, b)
    }.toSeq.distinct
  }

  private def rowsOf(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.mkString("|")).toSeq.sorted

  def run(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val sh = Gen.CorpusShape(ctx.seed)
    ctx.info ++= Seq("corpus_docs" -> sh.corpusDocs,
      "batch_docs" -> sh.batchDocs, "planted_share" -> sh.plantedShare,
      "image_share" -> sh.imageShare, "audio_share" -> sh.audioShare,
      "words_per_doc" -> sh.words, "dim" -> sh.dim, "retract_docs" -> 8,
      "readbacks_per_round" -> ReadbacksPerRound)

    // every doc generated once, kept for the retractions and the oracle
    val docs = scala.collection.mutable.HashMap.empty[Long, Gen.Doc]
    def generate(ids: IndexedSeq[Long]): IndexedSeq[Gen.Doc] = {
      val ds = Gen.parMap(ids)(sh.doc)
      ds.foreach(d => docs(d.id) = d)
      ds
    }
    val corpusDir = s"${ctx.work}/cur/corpus"
    docRows(spark, generate(0L until sh.corpusDocs))
      .write.mode("overwrite").parquet(corpusDir)
    ctx.info("corpus_mb") = Ctx.dirMb(corpusDir)
    ctx.mark("inputs")
    val corpus = parts(spark.read.parquet(corpusDir))

    // set-up: build the standing store from the corpus
    val store = s"${ctx.work}/cur/store"
    UnifiedClusters.unifiedClusterStoreWrite(corpus.docs, corpus.emb,
      corpus.img, corpus.aud, store)

    val staging = s"${ctx.work}/cur/staging"
    new java.io.File(staging).mkdirs()
    @volatile var lastDrops = -1L
    val query: StreamingQuery = spark.readStream.schema(stagingSchema)
      .option("maxFilesPerTrigger", "1").parquet(staging)
      .writeStream
      .option("checkpointLocation", s"${ctx.work}/cur/checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ctx.trace.foreach(t => if (ctx.traced) t.attachQueries(batch.sparkSession))
        val p = parts(batch)
        def update() = UnifiedClusters.unifiedClusterStoreUpdateWithDrops(
          batch.sparkSession, store, p.docs, p.emb, p.img, p.aud).collect()
        val drops = ctx.trace.filter(_ => ctx.traced)
          .fold(update())(_.span("UnifiedClusters.update")(update()))
        lastDrops = drops.length.toLong
      }
      .start()

    // land one staging file: write it aside, then rename it in
    def land(b: Int): java.io.File = {
      val tmp = s"${ctx.work}/cur/landing$b"
      docRows(spark, generate(sh.batchIds(b).map(_.toLong))).coalesce(1)
        .write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      lastDrops = -1L
      part
    }
    def commit(b: Int, part: java.io.File): Long = {
      require(part.renameTo(new java.io.File(staging, f"batch_$b%05d.parquet")),
        s"could not land $part")
      query.processAllAvailable()
      lastDrops
    }
    var live = (0L until sh.corpusDocs).toSet
    ctx.mark("setup")

    var retracted = Set.empty[Long]
    var batchDocs = 0L
    var drops = 0L
    var b = 0
    // the read-backs end each round, so the last one reads the final store
    var lastReadback = Option.empty[Array[Row]]
    val loopS = try ctx.loop { _ =>
      val ids = sh.batchIds(b)
      val part = ctx.aside(land(b))
      ctx.op("batch", "Streams.microbatch")(commit(b, part))(d =>
        if (d >= 0) None else Some(s"batch $b was not processed"))
        .foreach { d =>
          live ++= ids.map(_.toLong)
          batchDocs += ids.size
          drops += d
        }

      val del = sh.retractIds(b, retracted)
      val delParts = parts(docRows(spark, del.map(docs)))
      ctx.op("retract", "UnifiedClusters.retract")(
        UnifiedClusters.unifiedClusterStoreRetract(spark, store, delParts.docs,
          delParts.emb, delParts.img, delParts.aud))()
        .foreach { _ => live --= del; retracted ++= del }

      ctx.op("compact", "UnifiedClusters.compact")(
        UnifiedClusters.unifiedClusterStoreCompact(spark, store))()

      (1 to ReadbacksPerRound).foreach { _ =>
        lastReadback = ctx.op("readback", "UnifiedClusters.readback")(
          UnifiedClusters.unifiedClustersFromStore(spark, store).collect())(
          rows => if (rows.nonEmpty) None else Some("empty read-back"))
      }
      b += 1
    } finally {
      query.stop()
    }
    ctx.info("batches") = b
    ctx.mark("loop")
    val overhead = ctx.overhead("readback", 3)(
      UnifiedClusters.unifiedClustersFromStore(spark, store).collect())

    // oracle: the one-shot unified clusters over the live corpus
    val liveRows = parts(docRows(spark, live.toSeq.sorted.map(docs)))
    def pairsDf(sigs: DataFrame, c: String) =
      bandedPairs(sigs.select(col("doc_id"), col(c)).as[(Long, Long)]
        .collect().toSeq).toDF("doc_a", "doc_b")
    val oracle = rowsOf(Dedup.unifiedDedupClusters(liveRows.docs, liveRows.emb,
      Some(pairsDf(liveRows.img, "ahash")), Some(pairsDf(liveRows.aud, "ehash")))
      .collect())
    val got = rowsOf(lastReadback.getOrElse(
      UnifiedClusters.unifiedClustersFromStore(spark, store).collect()))
    if (got != oracle)
      ctx.fail(s"read-back after ${b} batches has ${got.size} clusters, the " +
        s"one-shot oracle ${oracle.size}; ${got.diff(oracle).size} differ")
    ctx.info("clusters") = got.size
    ctx.mark("checks")

    val famTables = Seq("shingle", "simhash", "emb_lsh", "emb_vec",
      "img_ahash", "ehash")
    Map("store_mb" -> Ctx.dirMb(store),
      "loop_s" -> loopS, "batch_docs_total" -> batchDocs.toDouble,
      "trace_overhead_s" -> overhead,
      "docs_per_s" -> batchDocs / loopS,
      "drop_ratio" -> (if (batchDocs > 0) drops.toDouble / batchDocs else 0.0),
      "files_per_bucket" ->
        famTables.map(t => Ctx.filesPerPartition(s"$store/$t")).sum /
          famTables.size)
  }
}
