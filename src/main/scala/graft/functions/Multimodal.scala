package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column support (driver north-star): media as opaque BINARY
  * payloads with typed metadata, processed by per-partition batch
  * functions — the Scala analog of a vectorized decode UDF.
  *
  * The decode step is REAL for every format the JDK ships a codec for:
  * `decodeReal` runs javax.imageio (PNG/JPEG/BMP/GIF — no external
  * libraries) for images and javax.sound.sampled for WAV/AIFF audio
  * headers, producing true dimensions / frame counts / pixel-derived
  * embeddings (MultimodalSpec drives actual encoded bytes through it).
  * Payloads no JDK codec accepts — including the synthetic text-byte
  * fixture, and any video, which the JDK has no codec for — fall back
  * PER RECORD to `decodeStub`'s deterministic byte-derived features, so
  * the declared q45 stays bit-identical to its DuckDB oracle while the
  * same pipeline decodes real media for real. Everything around decode
  * is shared either way: the schema (binary + struct metadata), the
  * typed Dataset plumbing, the partition-level batch shape (one
  * iterator pass per partition — codec/model init amortizes once per
  * partition), and the pushdown-friendly projections.
  *
  * Scale: payloads stay opaque bytes end-to-end (no driver collect, no
  * string conversion); decode is mapPartitions — exactly the shape a
  * Pandas-UDF/mapInPandas pipeline has in PySpark.
  */
object Multimodal {

  /** A media row: payload is the raw bytes of the asset. */
  case class MediaRecord(doc_id: Long, modality: String,
      payload: Array[Byte], source: String)

  /** Extracted features; `embedding` stands in for a model output. */
  case class MediaFeatures(doc_id: Long, modality: String, byte_len: Int,
      width: Int, height: Int, n_frames: Int, embedding: Array[Float])

  /** Build a media table from the documents fixture: the text bytes act
    * as the opaque payload (deterministic stand-in for image bytes). */
  def mediaTable(s: SparkSession, d: String): Dataset[MediaRecord] = {
    import s.implicits._
    graft.ops.Tables.documents(s, d)
      .select(col("doc_id"),
        // deterministic modality assignment: hash-route documents
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
        col("text").cast("binary").as("payload"),
        col("source"))
      .as[MediaRecord]
  }

  /** STUB decode: deterministic fake dimensions/frames/embedding derived
    * from payload bytes — the fallback for payloads no JDK codec accepts
    * (and the reason the declared q45 is hash-checkable: DuckDB replays
    * this arithmetic exactly). */
  def decodeStub(records: Iterator[MediaRecord]): Iterator[MediaFeatures] =
    records.map(stubOne)

  private def stubOne(r: MediaRecord): MediaFeatures = {
    val len = r.payload.length
    val h = java.util.Arrays.hashCode(r.payload)
    def dim(seed: Int): Int = 16 + math.floorMod(h * 31 + seed, 1024)
    MediaFeatures(
      doc_id = r.doc_id,
      modality = r.modality,
      byte_len = len,
      width = if (r.modality == "audio") 0 else dim(1),
      height = if (r.modality == "audio") 0 else dim(2),
      n_frames = r.modality match {
        case "video" => 1 + math.floorMod(h, 300)
        case _ => 1
      },
      embedding = Array.tabulate(8)(i =>
        (math.floorMod(h * (i + 1), 1000) / 1000.0f)))
  }

  /** REAL decode via the JDK's own codecs, falling back per record to
    * the stub. Images (PNG/JPEG/BMP/GIF — whatever ImageIO's registry
    * carries, with no external dependency): true width/height plus an
    * 8-dim pixel-derived embedding — mean luminance of the four image
    * quadrants, mean R/G/B, and aspect ratio — deterministic from the
    * decoded raster. Audio (WAV/AIFF): header-true frame count in
    * n_frames, width/height 0. Video: the JDK has no video codec, so
    * video payloads always take the stub path (that boundary is the
    * honest container limit, stated rather than hidden).
    *
    * Codec dispatch is sniff-by-content, magic bytes first: a payload
    * only reaches ImageIO/AudioSystem when its leading bytes name a
    * format they own (PNG/JPEG/GIF/BMP; RIFF-WAVE/AIFF/AU), so a
    * non-media payload falls back in a few byte compares — the naive
    * probe-everything dispatch cost ~1.4s at sf0.1 on 5000 text
    * payloads (AudioSystem signals rejection by EXCEPTION), the magic
    * gate is bench-invisible. A matching-magic-but-corrupt payload
    * still degrades to the stub via the codec's own failure. */
  def decodeReal(records: Iterator[MediaRecord]): Iterator[MediaFeatures] =
    records.map { r =>
      val viaCodec =
        if (looksLikeImage(r.payload)) imageFeatures(r)
        else if (looksLikeAudio(r.payload)) audioFeatures(r)
        else None
      viaCodec.getOrElse(stubOne(r))
    }

  private def looksLikeImage(p: Array[Byte]): Boolean =
    p.length >= 4 && (
      (p(0) == 0x89.toByte && p(1) == 0x50 && p(2) == 0x4e &&
        p(3) == 0x47) ||                                        // PNG
      (p(0) == 0xff.toByte && p(1) == 0xd8.toByte &&
        p(2) == 0xff.toByte) ||                                 // JPEG
      (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8') || // GIF
      (p(0) == 'B' && p(1) == 'M'))                             // BMP

  // NO AU ('.snd') here, deliberately: its magic is four printable ASCII
  // chars and its header is permissive enough that a TEXT payload starting
  // with ".snd" can parse successfully via AudioSystem — breaking the q45
  // invariant that non-media payloads deterministically take the stub
  // path the DuckDB oracle replays (ADVICE r5). Every other magic either
  // contains non-printable bytes or is backed by a codec that validates
  // deeper structure and rejects text by exception (AIFF checks
  // "AIFF"/"AIFC" at offset 8; WAVE is pinned at offset 8 right here).
  private def looksLikeAudio(p: Array[Byte]): Boolean =
    p.length >= 12 && (
      (p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
        p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E') || // WAV
      (p(0) == 'F' && p(1) == 'O' && p(2) == 'R' && p(3) == 'M'))      // AIFF

  // ImageIO's default read path spools every InputStream through a
  // FileCacheImageInputStream TEMP FILE before decoding — per-record
  // disk I/O for payloads that are already fully in memory. Disable the
  // file cache once per JVM so decoding stays in-memory end-to-end.
  private lazy val imageioNoCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  private def imageFeatures(r: MediaRecord): Option[MediaFeatures] = {
    imageioNoCache
    val img =
      try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val (w, h) = (img.getWidth, img.getHeight)
      // quadrant mean luminance (4) + mean R/G/B (3) + aspect (1)
      val sums = new Array[Double](7)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val (cr, cg, cb) =
            ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
          val lum = 0.299 * cr + 0.587 * cg + 0.114 * cb
          val q = (if (y * 2 >= h) 2 else 0) + (if (x * 2 >= w) 1 else 0)
          sums(q) += lum
          sums(4) += cr; sums(5) += cg; sums(6) += cb
          x += 1
        }
        y += 1
      }
      val n = (w * h).toDouble
      val qn = Array.tabulate(4) { q =>
        val qw = if ((q & 1) == 0) (w + 1) / 2 else w / 2
        val qh = if ((q & 2) == 0) (h + 1) / 2 else h / 2
        math.max(1, qw * qh).toDouble
      }
      val emb = Array.tabulate(8) {
        case q if q < 4 => (sums(q) / qn(q) / 255.0).toFloat
        case c if c < 7 => (sums(c) / n / 255.0).toFloat
        case _ => (w.toDouble / h).toFloat
      }
      Some(MediaFeatures(r.doc_id, r.modality, r.payload.length,
        w, h, 1, emb))
    }
  }

  private def audioFeatures(r: MediaRecord): Option[MediaFeatures] =
    try {
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(r.payload))
      Some(MediaFeatures(r.doc_id, r.modality, r.payload.length,
        0, 0, math.max(aff.getFrameLength, 0),
        Array.tabulate(8)(i =>
          if (i == 0) aff.getFormat.getSampleRate / 100000.0f
          else if (i == 1) aff.getFormat.getChannels.toFloat
          else 0.0f)))
    } catch { case _: Exception => None }

  /** STUB resize: clamps decoded dimensions to a max edge, preserving
    * aspect via integer math. Real codecs would transform `payload`;
    * the metadata contract (width/height rewritten, payload untouched)
    * is final. */
  def resizeStub(maxEdge: Int)(records: Iterator[MediaFeatures])
      : Iterator[MediaFeatures] =
    records.map { f =>
      val edge = math.max(f.width, f.height)
      if (edge <= maxEdge || edge == 0) f
      else f.copy(
        width = f.width * maxEdge / edge,
        height = f.height * maxEdge / edge)
    }

  /** STUB frame sampling: deterministic every-k-th frame count for video
    * (the real stage would emit one row per sampled frame). */
  def frameSampleStub(everyK: Int)(records: Iterator[MediaFeatures])
      : Iterator[MediaFeatures] =
    records.map { f =>
      if (f.modality == "video")
        f.copy(n_frames = (f.n_frames + everyK - 1) / everyK)
      else f
    }

  /** Full pipeline: encode -> partition-batched REAL decode (JDK codecs,
    * per-record stub fallback) -> resize -> frame-sample -> features.
    * Registered as q45 WITH an oracle: the fixture payloads are text
    * bytes no codec accepts, so every record takes the deterministic
    * stub path (Java Arrays.hashCode fold) that DuckDB replays exactly —
    * while the SAME pipeline decodes real PNG/JPEG/BMP/GIF/WAV payloads
    * for real (MultimodalSpec feeds it actual encoded bytes). */
  def q45MultimodalPipeline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d)
      .repartition(col("doc_id")) // spread decode work evenly
      .mapPartitions(decodeReal)
      .mapPartitions(resizeStub(256))
      .mapPartitions(frameSampleStub(10))
      .select(col("doc_id"), col("modality"), col("byte_len"),
        col("width"), col("height"), col("n_frames"))
      .orderBy(col("doc_id"))
  }

  /** q45b (VERDICT r5 #7): REAL encoded media through the DECLARED
    * pipeline. q45 proves the pipeline on the corpus fixture, where
    * every payload is text and takes the deterministic stub; this query
    * proves the CODEC path under the same driver hash gate. Payloads
    * are generated ON THE EXECUTORS (spark.range -> map: encode a PNG
    * raster / WAV stream per row — bytes never touch the driver), then
    * flow through exactly the q45 stages: sniff -> ImageIO/AudioSystem
    * decode -> resize -> frame-sample. The projected columns are
    * decode-derived facts the encoder cannot perturb (true raster
    * dimensions through the resize math, header-true frame counts), so
    * the oracle is a closed-form literal table; payload byte length is
    * deliberately NOT projected (PNG/WAV container size is a codec
    * implementation detail, not a decode fact).
    *
    * Scale: generation stands in for reading a real media lake; decode
    * cost is per-partition-amortized mapPartitions either way. */
  def q45bRealMediaDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // one (dims, container) pair per row: the four ImageIO-registry
    // formats the magic gate sniffs all flow through the same decode
    // path (round 10 widened this from PNG-only — JPEG is lossy, but
    // the projected columns are raster DIMENSIONS, which every
    // container preserves exactly, so the closed-form oracle is
    // format-independent)
    val dims = Seq((5, 3, "png"), (37, 21, "jpg"), (300, 200, "bmp"),
      (640, 480, "gif"), (17, 257, "jpg"), (256, 256, "png"))
    val wavFrames = Seq(100, 1000, 8000, 12345)
    val recs = s.range(0, (dims.size + wavFrames.size).toLong).map { i =>
      if (i < dims.size) {
        val (w, h, fmt) = dims(i.toInt)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val rgb = ((40 * i + 17).toInt % 256) << 16 | 0x4080
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        // write() returns false (writing NOTHING) when the JRE carries
        // no writer for the format — fail fast instead of feeding an
        // empty payload into a confusing oracle mismatch
        require(javax.imageio.ImageIO.write(img, fmt, bos),
          s"no ImageIO writer for '$fmt' in this JRE")
        MediaRecord(i, "image", bos.toByteArray, "generated")
      } else {
        val n = wavFrames(i.toInt - dims.size)
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1,
          false, false)
        val data = Array.tabulate[Byte](n)(j => (j * 7).toByte)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        MediaRecord(i, "audio", bos.toByteArray, "generated")
      }
    }
    recs.repartition(col("doc_id"))
      .as[MediaRecord]
      .mapPartitions(decodeReal)
      .mapPartitions(resizeStub(256))
      .mapPartitions(frameSampleStub(10))
      .select(col("doc_id"), col("modality"), col("width"), col("height"),
        col("n_frames"))
      .orderBy(col("doc_id"))
  }

  // O-113: perceptual image dedup — the image-corpus twin of the text
  // near-dup family (the LAION-scale curation move): byte-level hashing
  // (q35/q46 sha256) misses images that differ by re-encoding or a
  // brightness/contrast touch-up, so image pipelines dedup on a
  // PERCEPTUAL hash of the decoded raster. This is average-hash
  // (aHash): grayscale the pixels, grid them into blocks, bit = block
  // mean >= global mean — brightness shifts cancel (both means move
  // together), so shifted variants hash IDENTICALLY while structurally
  // different images land ~30 bits apart.
  /** 60-bit integer average-hash of an encoded image (6x10 block grid —
    * the q36c convention: the widest signature both engines handle with
    * no signed-overflow care). All-integer math, engine-exact:
    * grayscale = (299r + 587g + 114b) / 1000 (integer division; equals
    * v exactly on gray pixels), block of pixel (x, y) = (x*6/w,
    * y*10/h), bit k = by*6+bx set iff blockSum * totalPixels >=
    * totalSum * blockPixels (the cross-multiplied mean compare — no
    * division, exact at any block shape; |products| <= 255 * (w*h)^2,
    * long-safe while w*h <= [[MaxAhashPixels]], ENFORCED below — an
    * oversized raster returns None like an undecodable one, rather
    * than a silently corrupted hash, ADVICE r11). None for undecodable
    * payloads or rasters too small to fill the grid. */
  def imageAHash(payload: Array[Byte]): Option[Long] = {
    imageioNoCache
    val img =
      try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (img == null || img.getWidth < 6 || img.getHeight < 10 ||
        img.getWidth.toLong * img.getHeight > MaxAhashPixels) None
    else {
      val (w, h) = (img.getWidth, img.getHeight)
      val sums = new Array[Long](60)
      val counts = new Array[Long](60)
      var total = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val gray = (299L * ((rgb >> 16) & 0xff) +
            587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)) / 1000L
          val k = (y * 10 / h) * 6 + (x * 6 / w)
          sums(k) += gray
          counts(k) += 1
          total += gray
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      var hash = 0L
      var k = 0
      while (k < 60) {
        if (sums(k) * n >= total * counts(k)) hash |= 1L << k
        k += 1
      }
      Some(hash)
    }
  }

  /** Overflow-safe pixel bound for the cross-multiplied mean compare:
    * both products are <= 255 * n^2 (sums(k) <= 255n, total <= 255n,
    * counts(k) <= n), and 255 * (1.9e8)^2 = 9.206e18 < Long.MaxValue
    * (9.223e18) — so any raster up to ~190 M pixels (~13.7k x 13.7k)
    * hashes exactly, and anything larger degrades DETECTABLY to None
    * (ADVICE r11: the bound was documented but unenforced). */
  private[graft] val MaxAhashPixels: Long = 190000000L

  /** The aHash banding family constants, stated ONCE: the persistent
    * band store (q45d), the in-query pair join (q45c), the merge
    * verify, and the DuckDB oracles all derive from these three —
    * changing one here moves every consumer together (the q97 lesson:
    * an audit over a drifting copy of the rule audits nothing). */
  private[graft] val AhashBands = 4
  private[graft] val AhashBandBits = 15
  private[graft] val AhashMaxHamming = 8

  /** A perceptual family's banding configuration, stated PER FAMILY:
    * the generalized store trio takes the scheme explicitly, so
    * retuning one family's banding (the decision q45h's sweep
    * informs) cannot silently re-layout another family's PERSISTED
    * band stores — a store written at 4x15 probed with 5x12 keys
    * would miss matches with no error (review finding, round 12).
    * Both families currently ship 4x15 / hamming 8; the values are
    * deliberately separate constants, not aliases.
    *
    * RADIUS CONTRACT (round 13, per q45h's measured matrix): the
    * banded join guarantees full recall only for hamming < nBands
    * (pigeonhole); on the shipped 4x15 the measured recall is
    * 1.0 / 1.0 / ~0.68 / 0.0 at d = 2/4/6/8, i.e. `maxHamming` is
    * the VERIFY bound applied inside the candidate join, NOT a
    * recall promise — spread d=8 drift is invisible to every 60-bit
    * factoring (~10% even at 6x10). 4x15 is kept deliberately: each
    * band's key space is 2^bits, and the self-join's candidate
    * volume grows as n^2/2^bits per band, so the finer bandings
    * that close d=6 (5x12, 6x10) cost an 8-32x denser join — the
    * wrong default at 100 TB. Deployments retuning for d=6 recall
    * must REBUILD the family's persisted band stores (SCALE.md,
    * "The banding decision"). */
  final case class BandScheme(nBands: Int, bits: Int, maxHamming: Int)
  private[graft] val AhashScheme =
    BandScheme(AhashBands, AhashBandBits, AhashMaxHamming)
  private[graft] val EhashScheme = BandScheme(4, 15, 8)

  /** The q45c/q45d image fixture: 96 PNGs in 32 groups of 3, one block
    * pattern per group, members brightness-shifted by doc_id % 3 (the
    * q45b posture: bytes are born on the executors). */
  private[graft] def syntheticImages(s: SparkSession)
      : org.apache.spark.sql.Dataset[MediaRecord] = {
    import s.implicits._
    s.range(0, 96).map { i =>
      val g = (i / 3).toInt
      val delta = (i % 3).toInt
      val img = new java.awt.image.BufferedImage(60, 60,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 60) {
        var x = 0
        while (x < 60) {
          // (g+1) multiplies the cell term so group patterns decorrelate
          // (an additive g*const kept blocks' relative order across
          // groups — 65 accidental cross-group collisions at <= 8)
          val v = ((g + 1) * (97 * (x / 10) + 211 * (y / 6) + 131)) % 199 +
            delta
          img.setRGB(x, y, v << 16 | v << 8 | v)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, "png", bos),
        "no ImageIO writer for 'png' in this JRE")
      MediaRecord(i, "image", bos.toByteArray, "generated")
    }
  }

  /** (doc_id, ahash) signatures of a media table: decode + hash in ONE
    * mapPartitions pass over the opaque bytes, with NO shuffle — the
    * encoded pixels are the heaviest column in the table and never
    * cross the network (decode parallelism is the scan's: a real image
    * lake is many files, the docTokens argument). Undecodable or
    * grid-degenerate payloads drop (they can perceptually match
    * nothing). */
  def imageSignatures(recs: org.apache.spark.sql.Dataset[MediaRecord])
      : DataFrame = {
    val s = recs.sparkSession
    import s.implicits._
    recs.mapPartitions(rs => rs.flatMap(r =>
        imageAHash(r.payload).map(h => (r.doc_id, h))))
      .toDF("doc_id", "ahash")
  }

  /** q45c: image near-dup over REAL encoded rasters — generate (the
    * q45b posture: bytes are born on the executors, never the driver)
    * the 96-PNG fixture above. The brightness shift makes every byte
    * stream and every sha256 UNIQUE — the exact-dedup family (q35/q46)
    * finds nothing — while aHash is shift-invariant by construction
    * (the cross-multiplied mean rule cancels a uniform +delta exactly,
    * integer division included), so each group's three variants
    * collide at hamming 0.
    *
    * Pair plan = the near-dup family's banded hamming join, SHARED
    * with q36c ([[graft.ops.Dedup.bandedHammingPairs]] — one pair-rule
    * definition, two signature families): AhashBands x AhashBandBits,
    * popcount verified inside the shuffle-hash self-join. Scale:
    * decode + hash are one shuffle-free mapPartitions pass, the band
    * join's key space is 2^15 per band, and at a real image lake the
    * signature table is 8 bytes/image — the q36c argument verbatim.
    *
    * Oracle: PNG is lossless, the blocks are grid-aligned constants,
    * and every step is integer, so DuckDB derives each group's hash
    * CLOSED-FORM from the generation formula (the brightness delta
    * cancels: bit = 60*v0 >= sum(v0)) and replays the banding. */
  def q45cImageAhashDedup(s: SparkSession, d: String): DataFrame =
    imageAhashPairs(s).orderBy(col("doc_a"), col("doc_b"))

  /** The aHash pair set over the attachment fixture — ONE definition
    * shared by q45c (the pair listing), q45e (cluster resolution) and
    * q61c (the multi-signal union): [[graft.ops.Dedup.bandedHammingPairs]]
    * over the 96 synthetic PNG signatures. */
  private[graft] def imageAhashPairs(s: SparkSession): DataFrame =
    graft.ops.Dedup.bandedHammingPairs(
      imageSignatures(syntheticImages(s)), "ahash",
      AhashBands, AhashBandBits, AhashMaxHamming)

  // O-117: image cluster resolution + canonical image corpus — the
  // missing half of the multimodal dedup deliverable (VERDICT r11 #1):
  // q45c/q45d/s19 produce PAIRS and admission decisions; a curation run
  // also needs "which images form one duplicate group, and which single
  // representative survives" — exactly the q61/q61b deliverable for
  // text. Pairs flow into the SAME star-contraction CC
  // ([[graft.ops.Dedup.connectedComponents]]), and the disposition
  // table covers the WHOLE image corpus: clustered images carry their
  // component (min-id canonical, the q61 rule), unclustered images are
  // their own singleton cluster — so `WHERE is_canonical` IS the
  // canonical image corpus, one row per surviving image.
  /** Full-corpus image cluster disposition over any (doc_id, ahash)
    * signature table: (doc_id, cluster_id, cluster_size, is_canonical)
    * for EVERY signed image.
    *
    * Scale shape: the pair join is the banded family (2^15 keys/band,
    * never corpus-quadratic); CC's every shuffle is bounded by the
    * pair graph; the singleton complement is a LEFT ANTI join of the
    * 8-byte signature scan against the clustered id set — NOT hinted
    * broadcast (review finding, round 12): on a dedup-heavy corpus
    * the clustered set is a corpus FRACTION, not a small bound, so
    * the declared plan is the shuffle anti join and AQE's runtime
    * stats convert it to a broadcast exactly when the set really is
    * small (the fixture case). Callers pass a MATERIALIZED signature
    * table (it feeds both the pair join and the complement;
    * unmaterialized, decode would run twice — the q45d/s19 lesson). */
  def imageClusters(sigs: DataFrame): DataFrame =
    sigClusters(sigs, "ahash", AhashScheme)

  /** The family-generic form of the disposition ([[imageClusters]]'s
    * scaladoc carries the scale argument): any (doc_id, <sigCol>)
    * signature table under its family's [[BandScheme]]. */
  def sigClusters(sigs: DataFrame, sigCol: String,
      scheme: BandScheme): DataFrame = {
    val cc = graft.ops.Dedup.connectedComponents(
      graft.ops.Dedup.bandedHammingPairs(sigs, sigCol,
        scheme.nBands, scheme.bits, scheme.maxHamming)
        .select(col("doc_a"), col("doc_b")))
    val singles = sigs
      .join(cc.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"),
        lit(1L).as("cluster_size"), lit(true).as("is_canonical"))
    cc.select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("is_canonical"))
      .unionByName(singles)
      .orderBy(col("cluster_id"), col("doc_id"))
  }

  /** q45i: the audio twin of q45e through [[sigClusters]] — 20
    * clusters of 3 gain-scaled variants, min-id canonical, no
    * singletons in the fixture (the singleton complement path is the
    * SAME code q45e's planted-unique test covers); `WHERE
    * is_canonical` is the canonical audio corpus. */
  def q45iAudioClusters(s: SparkSession, d: String): DataFrame =
    sigClusters(graft.ops.Dedup.materializeBounded(
      audioSignatures(syntheticWavs(s))), "ehash", EhashScheme)

  /** Declared O-117 binding over the shared 96-PNG fixture: 32 groups
    * of 3 brightness-shifted variants → 32 clusters of 3, min-id
    * canonical, no singletons (every group has hamming-0 members; the
    * singleton complement path is lifecycle-tested in MultimodalSpec
    * with a planted unique signature). Oracle: the q45c closed-form
    * hash + banding replay feeding DuckDB's recursive-CTE CC (the q61
    * reach/comp formulation) plus the singleton complement. */
  def q45eImageClusters(s: SparkSession, d: String): DataFrame =
    imageClusters(graft.ops.Dedup.materializeBounded(
      imageSignatures(syntheticImages(s))))

  // O-114: incremental image-dedup admission — O-94's standing-index
  // idiom applied to the aHash family (the FIFTH admission family:
  // exact hashes q83, near-dup bands q85, clusters q89, ANN cells q88,
  // now image signatures): a standing image corpus keeps its band rows
  // on disk; an arriving batch admits only images that perceptually
  // match (band collision then popcount <= 8) neither a stored image
  // nor a lower-doc_id batch image (q85's conservative keep-lowest —
  // one self-join, no fixpoint). This closes the SCALE.md claim that
  // an image's dedup probe is a handful of pruned band lookups: the
  // store below IS that layout.
  /** Band rows of a (doc_id, <sigCol>) signature table with their kb
    * bucket: the SAME chunk explosion the pair join uses
    * ([[graft.ops.Dedup.bandChunkRows]] — the stored layout and the pair
    * rule share one definition, the unified store's sig tables too), as
    * persistent rows (~36 B/signature at any corpus size). The store
    * trio below is signature-column-parameterized since round 12, so
    * the image (ahash) and audio (ehash) admission families run ONE
    * definition of the layout, the pruned merge, and the append-back. */
  private def sigBandRows(sigs: DataFrame, sigCol: String,
      scheme: BandScheme): DataFrame =
    graft.ops.UnifiedClusters.sigRowsOf(sigs, sigCol, scheme)

  /** Write/append a perceptual admission index: band rows partitioned
    * by kb = xxhash64(band, ckey) mod 64 (the q85 layout — band folded
    * into one 64-way bucket hash), a logged one-table store. */
  def sigIndexWrite(sigs: DataFrame, sigCol: String,
      scheme: BandScheme, store: String,
      mode: String = "overwrite"): Unit =
    sigStore(sigCol).put(sigBandRows(sigs, sigCol, scheme), store, mode,
      "sig.append")

  def ahashIndexWrite(sigs: DataFrame, store: String,
      mode: String = "overwrite"): Unit =
    sigIndexWrite(sigs, "ahash", AhashScheme, store, mode)

  /** Bound a perceptual band store's file counts under daily appends
    * (VERDICT r12 #3): [[sigMerge]] appends one file-set per merge
    * into each touched kb bucket, so under a steady ingest cadence
    * the 64 buckets accumulate files without bound — the same problem
    * the exact-hash and text band stores already solve. This is the
    * SAME shared pass (the log's compaction: a partition-pruned
    * rewrite of only the oversized buckets in one commit; DISTINCT
    * keeps it idempotent and reclaims replayed appends),
    * parameterized over the signature column. Returns the compacted
    * bucket ids. */
  def sigIndexCompact(s: SparkSession, store: String, sigCol: String,
      maxFilesPerBucket: Int = 4): Seq[Int] =
    sigStore(sigCol).compact(s, store, "sig.compact", maxFilesPerBucket)

  /** Admit the batch's perceptually-new images against the stored band
    * index: the index read is partition-pruned to the batch's <= 64 kb
    * buckets (the q83/q85 static-IN argument), the popcount verify runs
    * INSIDE the band join (both sides carry the 8-byte hash), and the
    * intra-batch keep-lowest self-join mirrors q85's rule. Steady-state
    * ingest is O(batch bands) + a signature-table read that never
    * touches pixels. Returns the admitted (doc_id, ahash) rows —
    * callers append them back via [[ahashIndexWrite]] (mode append) so
    * later batches dedup against earlier arrivals. */
  def ahashMerge(s: SparkSession, store: String,
      batchSigs: DataFrame): DataFrame =
    sigMerge(s, store, "ahash", AhashScheme, batchSigs)

  def sigMerge(s: SparkSession, store: String, sigCol: String,
      scheme: BandScheme, batchSigs: DataFrame): DataFrame = {
    // touched buckets observed during the materialization job (round
    // 17, materializeWithKeys) — one job instead of two
    val (batchBands, keys) = graft.ops.Dedup.materializeWithKeys(
      sigBandRows(batchSigs, sigCol, scheme), "kb")
    val near =
      expr(s"bit_count(x.$sigCol ^ y.$sigCol)") <= scheme.maxHamming
    val crossHit =
      if (keys.isEmpty) batchSigs.select(col("doc_id")).limit(0)
      // read from the log under the layout's schema: a retraction
      // (sigRetract) can empty every bucket, and post-retraction
      // admission must treat the index as empty, not throw
      else sigStore(sigCol).read(s, store, Some(keys)).as("x")
        .join(batchBands.as("y").hint("shuffle_hash"),
          col("x.band") === col("y.band") &&
            col("x.ckey") === col("y.ckey"))
        .filter(near)
        .select(col("y.doc_id").as("doc_id")).distinct()
    val intraHit = batchBands.as("x").hint("shuffle_hash")
      .join(batchBands.as("y").hint("shuffle_hash"),
        col("x.band") === col("y.band") &&
          col("x.ckey") === col("y.ckey") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(near)
      .select(col("y.doc_id").as("doc_id")).distinct()
    // anti-join FROM the materialized band table (one row per doc at
    // band 0), not from batchSigs: the raw signature plan re-run here
    // would decode + hash every batch payload a second time (s19/s20
    // feed an unmaterialized decode pipeline straight in)
    batchBands.filter(col("band") === 0)
      .select(col("doc_id"), col(sigCol))
      .join(crossHit.unionByName(intraHit).distinct(),
        Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  private[graft] def sigStoreSchema(sigCol: String): String =
    s"doc_id BIGINT, $sigCol BIGINT, band INT, ckey BIGINT, kb INT"

  /** The perceptual admission index over `sigCol`, a one-table store. */
  private def sigStore(sigCol: String) = graft.ops.StoreLog.OneTable(
    s"$sigCol signature store", "sigIndexWrite", sigStoreSchema(sigCol),
    "kb", Seq("band", "ckey"))

  // O-144 (VERDICT r16 #2): RETRACTION for the standalone perceptual
  // admission stores. Without it a deleted image/track's band rows
  // stay matchable forever — a future re-upload of retracted content
  // would be silently rejected as a duplicate of data the operator
  // was required to delete (the exact inversion of what a
  // right-to-be-forgotten delete means).
  /** Retract documents from a perceptual band store. `delSigs` is the
    * deleted docs' (doc_id, sig) rows — signatures are deterministic
    * functions of the payload, so recomputing the deleted docs' band
    * rows names EXACTLY the buckets holding their index rows (the
    * same determinism argument the text band family's retraction
    * makes). Touched buckets are rewritten with survivors anti-joined
    * on doc_id in one commit of the store's log, and an emptied
    * bucket leaves the store ([[graft.ops.StoreLog.Version.retraction]]). One
    * sig-generic definition — the [[sigMerge]] trio's posture —
    * serves the image (ahash) and audio (ehash) families alike.
    * Replay-idempotent: the removal is an anti-join.
    * Retract-equals-rebuild holds exactly (band rows are per-doc;
    * MultimodalSpec pins it for both families). */
  def sigRetract(s: SparkSession, store: String, sigCol: String,
      scheme: BandScheme, delSigs: DataFrame): Unit = {
    // touched buckets observed during the materialization job (round
    // 17, materializeWithKeys) — one job instead of two
    val (delBands, keys) = graft.ops.Dedup.materializeWithKeys(
      sigBandRows(delSigs, sigCol, scheme), "kb")
    sigStore(sigCol).retract(s, store, "sig.retract", keys,
      delBands.select(col("doc_id")).distinct())
  }

  def ahashRetract(s: SparkSession, store: String,
      delSigs: DataFrame): Unit =
    sigRetract(s, store, "ahash", AhashScheme, delSigs)

  def ehashRetract(s: SparkSession, store: String,
      delSigs: DataFrame): Unit =
    sigRetract(s, store, "ehash", EhashScheme, delSigs)

  /** Declared O-144 binding: the q45d geometry with a takedown in
    * between — build the doc_id < 50 image store once, retract ids
    * 40-49 on a hard-linked clone (groups 14/15 vanish entirely;
    * group 13 loses 40/41 but keeps 39; group 16 loses its whole
    * STORED half 48/49), then run q45d's batch merge. Batch id 50 —
    * a perceptual duplicate of ONLY the retracted 48/49 — must now
    * ADMIT: that is the re-upload-after-takedown property this
    * operator exists for. Oracle: q45d's replay with the corpus band
    * side narrowed to the surviving doc_id < 40. */
  def q45jImageRetractMerge(s: SparkSession, d: String): DataFrame = {
    val sigs = graft.ops.Dedup.materializeBounded(
      imageSignatures(syntheticImages(s)))
    val pristine = graft.util.Ephemeral.fixedDirBuiltOnce(
      "graft_ahash_retract_q45j")(
      dir => ahashIndexWrite(sigs.filter(col("doc_id") < 50), dir))
    val store = graft.util.Ephemeral.cloneDir(pristine, "q45j_store")
    ahashRetract(s, store,
      sigs.filter(col("doc_id") >= 40 && col("doc_id") < 50))
    ahashMerge(s, store, sigs.filter(col("doc_id") >= 50))
  }

  /** q45d: the declared build-then-merge binding. Corpus = images with
    * doc_id < 50 — deliberately mid-group (group 16 straddles the
    * split: members 48/49 stored, 50 arrives in the batch), so the
    * merge exercises BOTH drop paths: id 50 falls to the cross-store
    * hit, and each all-new batch group keeps only its lowest id. The
    * benched cost is the honest store build + pruned merge (the q85
    * accounting). */
  def q45dImageMerge(s: SparkSession, d: String): DataFrame = {
    val store = graft.util.Ephemeral.fixedDir("graft_ahash_store_q45d")
    val sigs = graft.ops.Dedup.materializeBounded(
      imageSignatures(syntheticImages(s)))
    ahashIndexWrite(sigs.filter(col("doc_id") < 50), store)
    ahashMerge(s, store, sigs.filter(col("doc_id") >= 50))
  }

  // O-120: perceptual AUDIO dedup — the aHash pattern applied to the
  // one other real decoder the JDK ships (WAV/AIFF via
  // javax.sound.sampled, the q45b codec path): byte-level hashing
  // misses audio that differs by re-encoding or a volume change, so
  // the signature is an integer ENERGY-ENVELOPE hash of the decoded
  // PCM — 60 fixed time frames, bit k = frame k's summed magnitude >=
  // the track mean (cross-multiplied, no division) — and a uniform
  // gain (every sample scaled by the same factor) multiplies both
  // sides of every compare, so volume-shifted variants hash
  // IDENTICALLY while different material lands ~18+ bits apart. The
  // pair rule is the SAME bandedHammingPairs the image and SimHash
  // families use — a third signature family, zero new join machinery.
  /** Overflow-safe sample bound: |products| <= 32767 * n^2 must stay
    * in a long -> n <= 16.7M samples (~35 min at 8 kHz); longer
    * tracks degrade detectably to None (the MaxAhashPixels posture). */
  private[graft] val MaxEnvelopeSamples: Long = 16000000L

  /** 60-bit integer energy-envelope hash of an encoded audio payload.
    * Decode via the JDK codec, then all-integer math, engine-exact:
    * magnitude of a PCM_UNSIGNED 8-bit sample = |v - 128| (distance
    * off the format's center line), of a PCM_SIGNED 16-bit mono
    * little-endian sample = |s|; frame of sample j = j*60/n (integer
    * division — exact 60-way split at any n); bit k set iff
    * frameSum(k) * n >= totalSum * frameCount(k). None for
    * undecodable payloads, unsupported encodings, tracks shorter than
    * 60 samples or longer than [[MaxEnvelopeSamples]], and the
    * all-silent track (totalSum 0 would set every bit vacuously —
    * silence can perceptually match nothing). */
  def audioEnvelopeHash(payload: Array[Byte]): Option[Long] = {
    val ais =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => null }
    if (ais == null) return None
    try {
      val fmt = ais.getFormat
      val enc = fmt.getEncoding
      val u8 =
        enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED &&
          fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1
      val s16 =
        enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
          !fmt.isBigEndian
      if (!u8 && !s16) return None
      // reject by HEADER before buffering: frameLength == sample count
      // for PCM mono, and WAV/AIFF headers carry it — a 500 MB track
      // should cost a header read, not a second 500 MB allocation,
      // before returning None (the imageAHash reject-before-paying
      // posture; review finding, round 12). NOT_SPECIFIED (-1) falls
      // through to the post-read check.
      val headerFrames = ais.getFrameLength
      if (headerFrames >= 0 &&
          (headerFrames < 60 || headerFrames > MaxEnvelopeSamples))
        return None
      val bytes = ais.readAllBytes()
      val n = if (u8) bytes.length.toLong else bytes.length.toLong / 2
      if (n < 60 || n > MaxEnvelopeSamples) return None
      val sums = new Array[Long](60)
      val counts = new Array[Long](60)
      var total = 0L
      var j = 0L
      while (j < n) {
        val mag: Long =
          if (u8) math.abs((bytes(j.toInt) & 0xff) - 128).toLong
          else {
            val lo = bytes(2 * j.toInt) & 0xff
            val hi = bytes(2 * j.toInt + 1)
            math.abs((hi << 8 | lo).toShort.toLong)
          }
        val k = (j * 60L / n).toInt
        sums(k) += mag
        counts(k) += 1
        total += mag
        j += 1
      }
      if (total == 0L) return None
      var hash = 0L
      var k = 0
      while (k < 60) {
        if (sums(k) * n >= total * counts(k)) hash |= 1L << k
        k += 1
      }
      Some(hash)
    } catch { case _: Exception => None }
    finally ais.close()
  }

  /** The q45f fixture: 60 WAVs in 20 groups of 3 — one 60-frame
    * envelope pattern per group (10 samples/frame, 600 samples,
    * 8-bit unsigned PCM centered at 128), members volume-scaled by
    * (doc_id % 3) + 1. The scale factor multiplies every magnitude
    * EXACTLY (integer samples, max 128 + 42*3 = 254 — no clipping,
    * no rounding), so it cancels in the cross-multiplied mean rule
    * and each group's variants hash identically, while the
    * (g+1)-decorrelated patterns sit >= 18 bits apart (the
    * syntheticImages posture; constants picked by simulation). */
  private[graft] def syntheticWavs(s: SparkSession)
      : org.apache.spark.sql.Dataset[MediaRecord] = {
    import s.implicits._
    s.range(0, 60).map { i =>
      val g = (i / 3).toInt
      val gain = (i % 3).toInt + 1
      val data = Array.tabulate[Byte](600) { j =>
        val v = ((g + 1) * (211 * (j / 10) + 37)) % 42 + 1
        (128 + v * gain).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1,
        false, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, 600L)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      MediaRecord(i, "audio", bos.toByteArray, "generated")
    }
  }

  /** (doc_id, ehash) signatures: decode + hash in ONE shuffle-free
    * mapPartitions pass over the opaque bytes (the imageSignatures
    * shape — PCM never crosses the network). */
  def audioSignatures(recs: org.apache.spark.sql.Dataset[MediaRecord])
      : DataFrame = {
    val s = recs.sparkSession
    import s.implicits._
    recs.mapPartitions(rs => rs.flatMap(r =>
        audioEnvelopeHash(r.payload).map(h => (r.doc_id, h))))
      .toDF("doc_id", "ehash")
  }

  /** q45f: audio near-dup over REAL encoded WAVs — volume-scaled
    * variants collide at hamming 0 (their byte streams and sha256 all
    * differ), banded through the SHARED pair rule with the aHash
    * constants. Oracle: WAV PCM is lossless and every step is
    * integer, so DuckDB derives each group's hash closed-form from
    * the generation formula — the gain cancels: with 10 equal
    * samples per frame and n = 600, frameSum*n >= total*count
    * reduces to 60*v0 >= sum(v0) — and replays the banding. */
  def q45fAudioEnvelopeDedup(s: SparkSession, d: String): DataFrame =
    audioEhashPairs(s).orderBy(col("doc_a"), col("doc_b"))

  /** The ehash pair set over the audio attachment fixture — ONE
    * definition shared by q45f (the pair listing) and q61c (the
    * multi-signal union's fifth family, round-14: audio edges weld
    * clusters like image edges do): the imageAhashPairs twin. */
  private[graft] def audioEhashPairs(s: SparkSession): DataFrame =
    graft.ops.Dedup.bandedHammingPairs(
      audioSignatures(syntheticWavs(s)), "ehash",
      EhashScheme.nBands, EhashScheme.bits, EhashScheme.maxHamming)

  // O-121 (q45g): incremental AUDIO-dedup admission — the O-114
  // standing-index idiom through the signature-generalized store trio
  // (ONE definition of layout, pruned merge, and append-back now
  // serves both perceptual families): a standing audio corpus keeps
  // its band rows on disk; an arriving batch admits only tracks that
  // perceptually match (band collision then popcount <= 8) neither a
  // stored track nor a lower-doc_id batch track. Corpus = tracks with
  // doc_id < 32 — deliberately mid-group (group 10 straddles: members
  // 30/31 stored, 32 arrives), so both drop paths fire, mirroring
  // q45d's fixture geometry.
  def q45gAudioMerge(s: SparkSession, d: String): DataFrame = {
    val store = graft.util.Ephemeral.fixedDir("graft_ehash_store_q45g")
    val sigs = graft.ops.Dedup.materializeBounded(
      audioSignatures(syntheticWavs(s)))
    sigIndexWrite(sigs.filter(col("doc_id") < 32), "ehash",
      EhashScheme, store)
    sigMerge(s, store, "ehash", EhashScheme,
      sigs.filter(col("doc_id") >= 32))
  }

  // O-123 (q45h): BANDING-RECALL audit under planted perturbations —
  // the q84/q86 governance move for the perceptual families. The
  // banded hamming join is approximate above hamming 3: pigeonhole
  // guarantees a shared band only while d < AhashBands, so a pair at
  // hamming 4..8 is found only if its differing bits happen to avoid
  // one 15-bit band. This audit MEASURES that loss with planted
  // twins: for each signature and each d in {2,4,6,8}, flip exactly d
  // deterministic bit positions ((doc_id + 7i) % 60 — distinct by
  // construction for i < 8), push corpus ∪ twins through the REAL
  // pair join, and report per-(family, d) how many planted
  // exact-hamming-d pairs the banding recovered. The recall-vs-d
  // curve is the tuning table for AhashBands/AhashMaxHamming — the
  // number a curation team checks before trusting "hamming <= 8" as
  // their dedup radius.
  /** Per-family planted-twin recall through [[graft.ops.Dedup.bandedHammingPairs]].
    * Scale shape: twins are a row-local map over the 8-byte signature
    * table (4x fan-out), the pair join is the standard banded family,
    * and the probe is a key-equality left join of the planted pair
    * list against the found pairs — everything bounded by signatures,
    * never payloads. */
  /** The swept banding configurations: every (nBands, bits) factoring
    * of the 60-bit signature a deployment would plausibly run. More
    * bands = stronger recall at a given hamming radius (pigeonhole
    * guarantees d < nBands found) at the cost of more band rows per
    * signature — exactly the trade the sweep prices. */
  private[graft] val BandingConfigs = Seq((4, 15), (5, 12), (6, 10))

  private def bandingRecallFor(sigs: DataFrame, sigCol: String,
      family: String, maxHamming: Int): DataFrame = {
    val base = sigs.select(col("doc_id"), col(sigCol).as("sig"))
    val twins = graft.ops.Dedup.materializeBounded(base
      .select(col("doc_id"), col("sig"),
        explode(expr("array(2, 4, 6, 8)")).as("d"))
      .withColumn("mask", expr(
        "aggregate(sequence(0, d - 1), cast(0 as bigint), " +
          "(acc, i) -> acc | shiftleft(cast(1 as bigint), " +
          "cast((doc_id + 7 * i) % 60 as int)))")))
    val all = graft.ops.Dedup.materializeBounded(base
      .unionByName(twins.select(
        (col("doc_id") + col("d") * lit(10000L)).as("doc_id"),
        expr("sig ^ mask").as("sig")))
      .withColumnRenamed("sig", sigCol))
    BandingConfigs.map { case (nb, bits) =>
      val pairs = graft.ops.Dedup.bandedHammingPairs(all, sigCol,
        nb, bits, maxHamming)
      // planted pair = (doc_id, doc_id + d*10000); found pairs are
      // DISTINCT, so the left join matches at most once
      twins
        .join(pairs,
          col("doc_a") === col("doc_id") &&
            col("doc_b") === col("doc_id") + col("d") * lit(10000L),
          "left_outer")
        .groupBy(col("d"))
        .agg(count(lit(1)).as("n_pairs"),
          count(col("doc_a")).as("n_found"))
        .withColumn("family", lit(family))
        .withColumn("n_bands", lit(nb))
        .withColumn("band_bits", lit(bits))
    }.reduce(_.unionByName(_))
  }

  /** Declared O-123 binding: both perceptual families' planted-twin
    * recall curves across every 60-bit banding configuration, in one
    * decision table (the q94 sweep move applied to the BANDING knob).
    * Oracle: the closed-form signature stacks, the same deterministic
    * masks, the same banding replay per config — recall(d < nBands)
    * is 1.0 by pigeonhole, the rest is the genuinely lossy tail the
    * audit exists to expose: the shipped 4x15 finds NO spread-out
    * hamming-8 twin and only ~2/3 of hamming-6; 5x12 and 6x10 close
    * d=6 completely, while d=8 spread across the word stays near-
    * invisible to every 60-bit banding (~10% even at 6x10) — i.e.
    * "hamming <= 8" is only a trustworthy dedup radius for CLUMPED
    * drift, and the sweep prices exactly that. */
  def q45hBandingRecall(s: SparkSession, d: String): DataFrame = {
    val img = graft.ops.Dedup.materializeBounded(
      imageSignatures(syntheticImages(s)))
    val aud = graft.ops.Dedup.materializeBounded(
      audioSignatures(syntheticWavs(s)))
    bandingRecallFor(img, "ahash", "ahash", AhashScheme.maxHamming)
      .unionByName(
        bandingRecallFor(aud, "ehash", "ehash", EhashScheme.maxHamming))
      .withColumn("recall",
        round(col("n_found").cast("double") / col("n_pairs"), 4))
      .select(col("family"), col("n_bands"), col("band_bits"), col("d"),
        col("n_pairs"), col("n_found"), col("recall"))
      .orderBy(col("family"), col("n_bands"), col("d"))
  }

  /** Binary scalar functions over the payload column — the oracle-checked
    * slice of the multimodal surface (octet length, sha256, base64). */
  def q46BinaryFuncs(s: SparkSession, d: String): DataFrame =
    graft.ops.Tables.documents(s, d)
      .select(col("doc_id"),
        length(col("text").cast("binary")).as("byte_len"),
        sha2(col("text").cast("binary"), 256).as("sha256_hex"),
        // Spark's base64() is MIME-wrapped at 76 chars; strip the CRLFs
        // to get canonical (RFC 4648) output like DuckDB's to_base64
        regexp_replace(base64(col("text").cast("binary")), "\r\n", "")
          .as("payload_b64"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q45_multimodal_pipeline" -> (q45MultimodalPipeline _),
    "q45b_real_media_decode" -> (q45bRealMediaDecode _),
    "q45c_image_ahash_dedup" -> (q45cImageAhashDedup _),
    "q45d_image_merge" -> (q45dImageMerge _),
    "q45j_image_retract_merge" -> (q45jImageRetractMerge _),
    "q45e_image_clusters" -> (q45eImageClusters _),
    "q45f_audio_envelope_dedup" -> (q45fAudioEnvelopeDedup _),
    "q45g_audio_merge" -> (q45gAudioMerge _),
    "q45h_banding_recall" -> (q45hBandingRecall _),
    "q45i_audio_clusters" -> (q45iAudioClusters _),
    "q46_binary_funcs" -> (q46BinaryFuncs _),
  )

  /** The q45c/q45d/q45e closed-form hash CTE stack (shared: the
    * generation formula is the oracle's input, because PNG is lossless
    * and every aHash step is integer — see q45c's oracle comment).
    * Ends with `sigs(doc_id, ahash)`. */
  private[graft] val ahashSigsSql: String =
    """imgs AS (
      |  SELECT CAST(i AS BIGINT) AS doc_id, i // 3 AS g
      |  FROM generate_series(0, 95) t(i)),
      |cells AS (
      |  SELECT g.g, ty.by * 6 + tx.bx AS k,
      |    ((g.g + 1) * (97 * tx.bx + 211 * ty.by + 131)) % 199 AS v0
      |  FROM (SELECT DISTINCT g FROM imgs) g,
      |       generate_series(0, 5) tx(bx),
      |       generate_series(0, 9) ty(by)),
      |tot AS (SELECT g, CAST(sum(v0) AS BIGINT) AS sv
      |  FROM cells GROUP BY g),
      |hashes AS (
      |  SELECT cells.g, CAST(sum(
      |    CASE WHEN 60 * v0 >= sv
      |      THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT)
      |    AS ahash
      |  FROM cells JOIN tot USING (g) GROUP BY cells.g),
      |sigs AS (SELECT doc_id, ahash FROM imgs JOIN hashes USING (g))"""
      .stripMargin

  /** The banded pair rule replayed over `sigs`, as a self-contained
    * parenthesized subquery yielding (doc_a, doc_b) — shared by the
    * q61c oracle (the image family's edge contribution to the
    * multi-signal union; q45c/q45e keep their own top-level CTE stacks
    * because they also project hamming / the full signature list). */
  private[graft] val ahashPairsSql: String =
    s"""(WITH $ahashSigsSql,
       |chunksI AS (
       |  SELECT doc_id, ahash, tc.c,
       |    (ahash >> (${AhashScheme.bits} * tc.c)) & ${(1 << AhashScheme.bits) - 1} AS ckey
       |  FROM sigs, generate_series(0, ${AhashScheme.nBands - 1}) tc(c))
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |FROM chunksI x JOIN chunksI y ON x.c = y.c AND x.ckey = y.ckey
       |WHERE x.doc_id < y.doc_id
       |  AND bit_count(xor(x.ahash, y.ahash)) <= ${AhashScheme.maxHamming})"""
      .stripMargin

  /** 32-bit Java-int wrap of a BIGINT expression, floor-mod style.
    * DuckDB's % keeps the dividend's sign, so the naive single-mod wrap
    * is off by 2^32 whenever the intermediate is negative (caught
    * because mod-1024 residues coincidentally matched: 1024 | 2^32). */
  private def wrap32(x: String): String =
    s"(((($x) + 2147483648) % 4294967296) + 4294967296) % 4294967296" +
      " - 2147483648"

  /** floorMod of a (possibly negative) BIGINT expr by a positive m. */
  private def fmod(x: String, m: Long): String = s"((($x) % $m) + $m) % $m"

  val oracles: Map[String, String] = Map(
    // DuckDB replay of the deterministic stub pipeline: h = Java
    // Arrays.hashCode(bytes) (list_reduce fold with 32-bit wrap; fixture
    // is pure ASCII so ord(char) == byte), then the same dim/resize/
    // frame-sample integer math as decodeStub/resizeStub/frameSampleStub.
    "q45_multimodal_pipeline" ->
      s"""WITH h32 AS (
         |  SELECT doc_id,
         |    CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
         |      ELSE 'video' END AS modality,
         |    CAST(length(text) AS INT) AS byte_len,
         |    list_reduce(
         |      list_prepend(CAST(1 AS BIGINT),
         |        [CAST(ord(substr(text, i, 1)) AS BIGINT)
         |         FOR i IN generate_series(1, length(text))]),
         |      (a, b) -> ${wrap32("31*a + b")}) AS h
         |  FROM documents),
         |dims AS (
         |  SELECT doc_id, modality, byte_len, h,
         |    CASE modality WHEN 'audio' THEN 0 ELSE
         |      16 + CAST(${fmod(wrap32("31*h + 1"), 1024)} AS INT)
         |    END AS w0,
         |    CASE modality WHEN 'audio' THEN 0 ELSE
         |      16 + CAST(${fmod(wrap32("31*h + 2"), 1024)} AS INT)
         |    END AS h0,
         |    CASE modality WHEN 'video' THEN
         |      1 + CAST(${fmod("h", 300)} AS INT) ELSE 1 END AS f0
         |  FROM h32),
         |resized AS (
         |  SELECT doc_id, modality, byte_len,
         |    CASE WHEN greatest(w0, h0) <= 256 OR greatest(w0, h0) = 0
         |      THEN w0 ELSE CAST(w0 * 256 // greatest(w0, h0) AS INT)
         |    END AS width,
         |    CASE WHEN greatest(w0, h0) <= 256 OR greatest(w0, h0) = 0
         |      THEN h0 ELSE CAST(h0 * 256 // greatest(w0, h0) AS INT)
         |    END AS height,
         |    CASE modality WHEN 'video' THEN CAST((f0 + 9) // 10 AS INT)
         |      ELSE f0 END AS n_frames
         |  FROM dims)
         |SELECT doc_id, modality, byte_len, width, height, n_frames
         |FROM resized ORDER BY doc_id""".stripMargin,
    // literal truth table for the codec-path fixture: raster dims after
    // the 256-edge clamp (integer math: w*256//edge), header frame
    // counts for WAV; images always n_frames=1, audio always 0x0
    "q45b_real_media_decode" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, modality,
        |  CAST(width AS INT) AS width, CAST(height AS INT) AS height,
        |  CAST(n_frames AS INT) AS n_frames
        |FROM (VALUES
        |  (0, 'image', 5, 3, 1),
        |  (1, 'image', 37, 21, 1),
        |  (2, 'image', 256, 170, 1),
        |  (3, 'image', 256, 192, 1),
        |  (4, 'image', 16, 256, 1),
        |  (5, 'image', 256, 256, 1),
        |  (6, 'audio', 0, 0, 100),
        |  (7, 'audio', 0, 0, 1000),
        |  (8, 'audio', 0, 0, 8000),
        |  (9, 'audio', 0, 0, 12345))
        |  AS t(doc_id, modality, width, height, n_frames)
        |ORDER BY doc_id""".stripMargin,
    "q46_binary_funcs" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS INT) AS byte_len,
        |  sha256(text) AS sha256_hex,
        |  to_base64(CAST(text AS BLOB)) AS payload_b64
        |FROM documents ORDER BY doc_id""".stripMargin,
    // closed-form replay of q45c: PNG is lossless and every aHash step
    // is integer, so each group's 60-bit hash derives straight from the
    // generation formula — the per-image brightness delta cancels in
    // the cross-multiplied mean rule (bit = 60*v0 >= sum(v0), see
    // imageAHash), which is the property under test. The banding +
    // popcount replay mirrors the q36c oracle over the shared
    // bandedHammingPairs rule.
    "q45c_image_ahash_dedup" ->
      s"""WITH $ahashSigsSql,
        |chunks AS (
        |  SELECT doc_id, ahash, tc.c,
        |    (ahash >> ($AhashBandBits * tc.c)) & ${(1 << AhashBandBits) - 1} AS ckey
        |  FROM sigs, generate_series(0, ${AhashBands - 1}) tc(c))
        |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |  CAST(bit_count(xor(x.ahash, y.ahash)) AS INT) AS hamming
        |FROM chunks x JOIN chunks y ON x.c = y.c AND x.ckey = y.ckey
        |WHERE x.doc_id < y.doc_id
        |  AND bit_count(xor(x.ahash, y.ahash)) <= $AhashMaxHamming
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q45d: the admission rule replayed over the same closed-form
    // hashes — corpus bands (doc_id < 50) and batch bands collide,
    // popcount <= 8 drops cross-store matches; the intra-batch
    // keep-lowest self-join drops later members of all-new groups
    "q45d_image_merge" ->
      s"""WITH $ahashSigsSql,
        |bandC AS (
        |  SELECT doc_id, ahash, tc.c,
        |    (ahash >> ($AhashBandBits * tc.c)) & ${(1 << AhashBandBits) - 1} AS ckey
        |  FROM sigs, generate_series(0, ${AhashBands - 1}) tc(c)
        |  WHERE doc_id < 50),
        |bandB AS (
        |  SELECT doc_id, ahash, tc.c,
        |    (ahash >> ($AhashBandBits * tc.c)) & ${(1 << AhashBandBits) - 1} AS ckey
        |  FROM sigs, generate_series(0, ${AhashBands - 1}) tc(c)
        |  WHERE doc_id >= 50),
        |hit AS (
        |  SELECT DISTINCT x.doc_id
        |  FROM bandB x JOIN bandC y ON x.c = y.c AND x.ckey = y.ckey
        |  WHERE bit_count(xor(x.ahash, y.ahash)) <= $AhashMaxHamming
        |  UNION
        |  SELECT DISTINCT y.doc_id
        |  FROM bandB x JOIN bandB y
        |    ON x.c = y.c AND x.ckey = y.ckey AND x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.ahash, y.ahash)) <= $AhashMaxHamming)
        |SELECT doc_id, ahash FROM sigs
        |WHERE doc_id >= 50 AND doc_id NOT IN (SELECT doc_id FROM hit)
        |ORDER BY doc_id""".stripMargin,
    // q45j: q45d's admission replay with the corpus band side narrowed
    // to the post-retraction survivors (doc_id < 40) — retraction
    // equals rebuild for a per-doc band index, so the surviving slice
    // IS the retracted store; batch id 50 (dup of only the retracted
    // 48/49) admits, re-keys of surviving corpus still screen out
    "q45j_image_retract_merge" ->
      s"""WITH $ahashSigsSql,
        |bandC AS (
        |  SELECT doc_id, ahash, tc.c,
        |    (ahash >> ($AhashBandBits * tc.c)) & ${(1 << AhashBandBits) - 1} AS ckey
        |  FROM sigs, generate_series(0, ${AhashBands - 1}) tc(c)
        |  WHERE doc_id < 40),
        |bandB AS (
        |  SELECT doc_id, ahash, tc.c,
        |    (ahash >> ($AhashBandBits * tc.c)) & ${(1 << AhashBandBits) - 1} AS ckey
        |  FROM sigs, generate_series(0, ${AhashBands - 1}) tc(c)
        |  WHERE doc_id >= 50),
        |hit AS (
        |  SELECT DISTINCT x.doc_id
        |  FROM bandB x JOIN bandC y ON x.c = y.c AND x.ckey = y.ckey
        |  WHERE bit_count(xor(x.ahash, y.ahash)) <= $AhashMaxHamming
        |  UNION
        |  SELECT DISTINCT y.doc_id
        |  FROM bandB x JOIN bandB y
        |    ON x.c = y.c AND x.ckey = y.ckey AND x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.ahash, y.ahash)) <= $AhashMaxHamming)
        |SELECT doc_id, ahash FROM sigs
        |WHERE doc_id >= 50 AND doc_id NOT IN (SELECT doc_id FROM hit)
        |ORDER BY doc_id""".stripMargin,
    // q45e: the same closed-form hash + banding replay feeding the
    // q61 recursive-CTE CC (reach/comp), plus the singleton complement
    // — every signed image gets a disposition row
    "q45e_image_clusters" ->
      s"""WITH RECURSIVE $ahashSigsSql,
         |chunks AS (
         |  SELECT doc_id, ahash, tc.c,
         |    (ahash >> ($AhashBandBits * tc.c)) & ${(1 << AhashBandBits) - 1} AS ckey
         |  FROM sigs, generate_series(0, ${AhashBands - 1}) tc(c)),
         |prs AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM chunks x JOIN chunks y ON x.c = y.c AND x.ckey = y.ckey
         |  WHERE x.doc_id < y.doc_id
         |    AND bit_count(xor(x.ahash, y.ahash)) <= $AhashMaxHamming),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM prs
         |  UNION SELECT doc_b, doc_a FROM prs),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach(id, l) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.id),
         |comp AS (SELECT id, min(l) AS cluster_id FROM reach GROUP BY id),
         |clustered AS (
         |  SELECT id AS doc_id, cluster_id,
         |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         |      AS cluster_size,
         |    id = cluster_id AS is_canonical
         |  FROM comp)
         |SELECT doc_id, cluster_id, cluster_size, is_canonical
         |FROM (
         |  SELECT * FROM clustered
         |  UNION ALL
         |  SELECT doc_id, doc_id AS cluster_id, CAST(1 AS BIGINT)
         |      AS cluster_size, TRUE AS is_canonical
         |  FROM sigs WHERE doc_id NOT IN (SELECT doc_id FROM clustered))
         |ORDER BY cluster_id, doc_id""".stripMargin,
    // q45i: the q45e recursive-CTE CC replay over the audio
    // closed-form hashes + the singleton complement
    "q45i_audio_clusters" ->
      s"""WITH RECURSIVE $ehashSigsSql,
         |chunks AS (
         |  SELECT doc_id, ehash, tc.c,
         |    (ehash >> (${EhashScheme.bits} * tc.c)) & ${(1 << EhashScheme.bits) - 1} AS ckey
         |  FROM sigsA, generate_series(0, ${EhashScheme.nBands - 1}) tc(c)),
         |prs AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM chunks x JOIN chunks y ON x.c = y.c AND x.ckey = y.ckey
         |  WHERE x.doc_id < y.doc_id
         |    AND bit_count(xor(x.ehash, y.ehash)) <= ${EhashScheme.maxHamming}),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM prs
         |  UNION SELECT doc_b, doc_a FROM prs),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach(id, l) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.id),
         |comp AS (SELECT id, min(l) AS cluster_id FROM reach GROUP BY id),
         |clustered AS (
         |  SELECT id AS doc_id, cluster_id,
         |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         |      AS cluster_size,
         |    id = cluster_id AS is_canonical
         |  FROM comp)
         |SELECT doc_id, cluster_id, cluster_size, is_canonical
         |FROM (
         |  SELECT * FROM clustered
         |  UNION ALL
         |  SELECT doc_id, doc_id AS cluster_id, CAST(1 AS BIGINT)
         |      AS cluster_size, TRUE AS is_canonical
         |  FROM sigsA WHERE doc_id NOT IN (SELECT doc_id FROM clustered))
         |ORDER BY cluster_id, doc_id""".stripMargin,
    // closed-form replay of q45f: WAV PCM round-trips exactly and the
    // envelope is integer, so each group's 60-bit hash derives from
    // the generation formula (the per-member gain cancels in the
    // cross-multiplied mean rule: 10 equal samples per frame, n=600 ->
    // bit = 60*v0 >= sum(v0)); the banding replay mirrors q45c's
    "q45f_audio_envelope_dedup" ->
      s"""WITH $ehashSigsSql,
         |chunks AS (
         |  SELECT doc_id, ehash, tc.c,
         |    (ehash >> (${EhashScheme.bits} * tc.c)) & ${(1 << EhashScheme.bits) - 1} AS ckey
         |  FROM sigsA, generate_series(0, ${EhashScheme.nBands - 1}) tc(c))
         |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  CAST(bit_count(xor(x.ehash, y.ehash)) AS INT) AS hamming
         |FROM chunks x JOIN chunks y ON x.c = y.c AND x.ckey = y.ckey
         |WHERE x.doc_id < y.doc_id
         |  AND bit_count(xor(x.ehash, y.ehash)) <= ${EhashScheme.maxHamming}
         |ORDER BY doc_a, doc_b""".stripMargin,
    // q45g: the q45d admission rule replayed over the audio closed-form
    // hashes — corpus bands (doc_id < 32) vs batch bands, popcount <= 8
    // drops cross-store matches, intra-batch keep-lowest drops later
    // members of all-new groups
    "q45g_audio_merge" ->
      s"""WITH $ehashSigsSql,
        |bandC AS (
        |  SELECT doc_id, ehash, tc.c,
        |    (ehash >> (${EhashScheme.bits} * tc.c)) & ${(1 << EhashScheme.bits) - 1} AS ckey
        |  FROM sigsA, generate_series(0, ${EhashScheme.nBands - 1}) tc(c)
        |  WHERE doc_id < 32),
        |bandB AS (
        |  SELECT doc_id, ehash, tc.c,
        |    (ehash >> (${EhashScheme.bits} * tc.c)) & ${(1 << EhashScheme.bits) - 1} AS ckey
        |  FROM sigsA, generate_series(0, ${EhashScheme.nBands - 1}) tc(c)
        |  WHERE doc_id >= 32),
        |hit AS (
        |  SELECT DISTINCT x.doc_id
        |  FROM bandB x JOIN bandC y ON x.c = y.c AND x.ckey = y.ckey
        |  WHERE bit_count(xor(x.ehash, y.ehash)) <= ${EhashScheme.maxHamming}
        |  UNION
        |  SELECT DISTINCT y.doc_id
        |  FROM bandB x JOIN bandB y
        |    ON x.c = y.c AND x.ckey = y.ckey AND x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.ehash, y.ehash)) <= ${EhashScheme.maxHamming})
        |SELECT doc_id, ehash FROM sigsA
        |WHERE doc_id >= 32 AND doc_id NOT IN (SELECT doc_id FROM hit)
        |ORDER BY doc_id""".stripMargin,
    // q45h: both closed-form signature stacks, the same deterministic
    // d-bit masks ((doc_id + 7i) % 60, distinct for i < 8), corpus ∪
    // twins through the same banding + popcount replay, planted-pair
    // probe via key-equality left join
    "q45h_banding_recall" ->
      s"""WITH $ahashSigsSql,
         |$ehashSigsSql,
         |base AS (
         |  SELECT 'ahash' AS family, doc_id, ahash AS sig FROM sigs
         |  UNION ALL SELECT 'ehash', doc_id, ehash FROM sigsA),
         |tw AS (
         |  SELECT family, doc_id, d.d,
         |    CAST(sum(CAST(1 AS BIGINT)
         |      << CAST((doc_id + 7 * i.i) % 60 AS INT)) AS BIGINT)
         |      AS mask
         |  FROM base, (VALUES (2), (4), (6), (8)) AS d(d),
         |       generate_series(0, 7) i(i)
         |  WHERE i.i < d.d GROUP BY family, doc_id, d.d),
         |twin AS (
         |  SELECT t.family, t.doc_id, t.d, xor(b.sig, t.mask) AS sig
         |  FROM tw t JOIN base b
         |    ON t.family = b.family AND t.doc_id = b.doc_id),
         |alls AS (
         |  SELECT family, doc_id, sig FROM base
         |  UNION ALL
         |  SELECT family, doc_id + d * 10000, sig FROM twin),
         |configs AS (SELECT * FROM (VALUES ${BandingConfigs
            .map { case (nb, b) => s"($nb, $b)" }
            .mkString(", ")}) cfg(nb, bits)),
         |chunksH AS (
         |  SELECT family, nb, bits, doc_id, sig, tc.c,
         |    (sig >> (bits * tc.c)) & ((CAST(1 AS BIGINT) << bits) - 1)
         |      AS ckey
         |  FROM alls, configs, generate_series(0, 5) tc(c)
         |  WHERE tc.c < nb),
         |prsH AS (
         |  SELECT DISTINCT x.family, x.nb, x.bits,
         |    x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM chunksH x JOIN chunksH y
         |    ON x.family = y.family AND x.nb = y.nb
         |      AND x.c = y.c AND x.ckey = y.ckey
         |  WHERE x.doc_id < y.doc_id
         |    AND bit_count(xor(x.sig, y.sig)) <=
         |      CASE x.family WHEN 'ahash' THEN ${AhashScheme.maxHamming}
         |        ELSE ${EhashScheme.maxHamming} END),
         |probe AS (
         |  SELECT t.family, cfg.nb, cfg.bits, t.d,
         |    CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS found
         |  FROM twin t CROSS JOIN configs cfg
         |  LEFT JOIN prsH p
         |    ON p.family = t.family AND p.nb = cfg.nb
         |      AND p.doc_a = t.doc_id
         |      AND p.doc_b = t.doc_id + t.d * 10000)
         |SELECT family, nb AS n_bands, bits AS band_bits, d,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(found) AS BIGINT) AS n_found,
         |  round(CAST(sum(found) AS DOUBLE) / count(*), 4) AS recall
         |FROM probe GROUP BY family, nb, bits, d
         |ORDER BY family, n_bands, d""".stripMargin,
  )

  /** The q45f/q45g/s20 closed-form audio hash CTE stack (the
    * ahashSigsSql twin). Ends with `sigsA(doc_id, ehash)`. */
  private[graft] lazy val ehashSigsSql: String =
    """auds AS (
      |  SELECT CAST(i AS BIGINT) AS doc_id, i // 3 AS g
      |  FROM generate_series(0, 59) t(i)),
      |cellsA AS (
      |  SELECT g.g, t.k, ((g.g + 1) * (211 * t.k + 37)) % 42 + 1 AS v0
      |  FROM (SELECT DISTINCT g FROM auds) g,
      |       generate_series(0, 59) t(k)),
      |totA AS (SELECT g, CAST(sum(v0) AS BIGINT) AS sv
      |  FROM cellsA GROUP BY g),
      |hashesA AS (
      |  SELECT cellsA.g, CAST(sum(
      |    CASE WHEN 60 * v0 >= sv
      |      THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT)
      |    AS ehash
      |  FROM cellsA JOIN totA USING (g) GROUP BY cellsA.g),
      |sigsA AS (SELECT doc_id, ehash FROM auds JOIN hashesA USING (g))"""
      .stripMargin

  /** The banded pair rule replayed over `sigsA`, as a self-contained
    * parenthesized subquery yielding (doc_a, doc_b) — the
    * [[ahashPairsSql]] twin for the audio family's edge contribution
    * to the q61c multi-signal union. */
  private[graft] lazy val ehashPairsSql: String =
    s"""(WITH $ehashSigsSql,
       |chunksA AS (
       |  SELECT doc_id, ehash, tc.c,
       |    (ehash >> (${EhashScheme.bits} * tc.c)) & ${(1 << EhashScheme.bits) - 1} AS ckey
       |  FROM sigsA, generate_series(0, ${EhashScheme.nBands - 1}) tc(c))
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |FROM chunksA x JOIN chunksA y ON x.c = y.c AND x.ckey = y.ckey
       |WHERE x.doc_id < y.doc_id
       |  AND bit_count(xor(x.ehash, y.ehash)) <= ${EhashScheme.maxHamming})"""
      .stripMargin
}
