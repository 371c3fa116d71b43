package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** Seeded input generators for the three workloads. Every value is a
  * pure function of (seed, coordinates) through [[Gen.mix]], so the same
  * seed yields the same bytes and a value can be looked up again when a
  * check needs it, without replaying a random stream. */
object Gen {

  /** SplitMix64 finalizer over a combined key: the one hash every
    * generator draws from. */
  def mix(keys: Long*): Long = {
    var z = 0x9E3779B97F4A7C15L
    keys.foreach { k =>
      z += k * 0xBF58476D1CE4E5B9L + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
    }
    z
  }

  /** Uniform int in [0, n). */
  def pick(n: Int, keys: Long*): Int =
    java.lang.Math.floorMod(mix(keys: _*), n.toLong).toInt

  /** Uniform double in [0, 1). */
  def unit(keys: Long*): Double = (mix(keys: _*) >>> 11) * (1.0 / (1L << 53))

  /** `xs.map(f)` on all cores: generators are pure functions of their
    * coordinates, so the result does not depend on the order of work. */
  def parMap[A, B](xs: IndexedSeq[A])(f: A => B): IndexedSeq[B] = {
    val out = new Array[Any](xs.length)
    java.util.stream.IntStream.range(0, xs.length).parallel()
      .forEach(i => out(i) = f(xs(i)))
    out.toIndexedSeq.asInstanceOf[IndexedSeq[B]]
  }

  /** Standard normal (Box-Muller over two derived uniforms). */
  def gauss(keys: Long*): Double = {
    val u1 = math.max(unit((keys :+ 1L): _*), 1e-300)
    val u2 = unit((keys :+ 2L): _*)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  private val syllables = Array("ka", "ri", "to", "me", "lu", "sa", "po",
    "ne", "di", "go", "ha", "ve", "zu", "bi", "fo", "qu", "ra", "ti")

  /** The i-th word of a 4096-word synthetic vocabulary. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var v = i + 18
    while (v > 0) { sb.append(syllables(v % 18)); v /= 18 }
    sb.toString
  }

  // ------------------------------------------------------------------
  // ci_nightly: git log lines, sizes.json payloads, PR titles

  /** Shape of one generated CI history. */
  final case class CiShape(seed: Long, tests: Int = 50, boards: Int = 120,
      cellShare: Double = 0.85, mergesPerNight: Int = 20) {
    val dayMs: Long = 24L * 3600 * 1000
    /** 2024-01-01T00:00Z: night n's merges land on day0 + n. */
    val day0Ms: Long = 1704067200000L

    def testName(t: Int): String = f"tests_${word(t)}%s"
    def boardName(b: Int): String = f"board-${word(b + 500)}%s"

    /** A (test, board) cell exists on every night or on none: series
      * are continuous, as in the reference's nightly artifacts. */
    def hasCell(t: Int, b: Int): Boolean = unit(seed, 11, t, b) < cellShare

    lazy val cells: IndexedSeq[(Int, Int)] =
      for (t <- 0 until tests; b <- 0 until boards if hasCell(t, b))
        yield (t, b)

    /** (bss, text, data) of one cell on one night: a per-series base
      * plus a small nightly drift. */
    def sizes(night: Int, t: Int, b: Int): (Long, Long, Long) = {
      def f(k: Int, base: Long) =
        base + pick(base.toInt / 2, seed, 12, t, b, k) +
          pick(64, seed, 13, night, t, b, k) * 4L
      (f(0, 2048), f(1, 16384), f(2, 512))
    }

    def merges(night: Int): Int =
      mergesPerNight - 5 + pick(11, seed, 20, night)

    /** Merge timestamps of one night: strictly increasing, inside
      * 04:00-22:00 UTC of day0 + night. */
    def mergeTimes(night: Int): IndexedSeq[Long] = {
      val n = merges(night)
      val start = day0Ms + night * dayMs + 4L * 3600 * 1000
      val slot = 18L * 3600 * 1000 / n
      (0 until n).map(i => (start + i * slot + pick((slot / 2).toInt,
        seed, 21, night, i)) / 1000 * 1000)
    }

    /** PR numbers are dense and increasing across nights. */
    def firstPr(night: Int): Long =
      1000L + (0 until night).map(n => merges(n).toLong).sum

    def hash(night: Int, i: Int): String =
      f"${mix(seed, 22, night, i)}%016x${mix(seed, 23, night, i)}%016x" +
        f"${mix(seed, 24, night, i) >>> 32}%08x"

    private def fmtTs(ms: Long): String = {
      val f = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss Z")
      f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      f.format(new java.util.Date(ms))
    }

    /** `git log --merges --format=%H%x1f%cd%x1f%s` lines of one night. */
    def gitLog(night: Int): Seq[String] = {
      val ts = mergeTimes(night)
      ts.indices.map { i =>
        val pr = firstPr(night) + i
        s"${hash(night, i)}\u001f${fmtTs(ts(i))}\u001fMerge pull request " +
          s"#$pr from contributor/branch-${pick(900, seed, 25, night, i)}"
      }
    }

    /** (pr_num, title) rows of one night. */
    def prTitles(night: Int): Seq[(Long, String)] =
      (0 until merges(night)).map { i =>
        val n = 3 + pick(8, seed, 26, night, i)
        firstPr(night) + i ->
          (0 until n).map(w => word(pick(4096, seed, 27, night, i, w)))
            .mkString(" ")
      }

    /** The nightly artifact's timestamp: one hour after the night's last
      * merge (before the next 03:00Z-anchored day starts). */
    def artifactTs(night: Int): Long = mergeTimes(night).last + 3600 * 1000

    /** The nightly artifact: keyed by the night's last merge, stamped
      * [[artifactTs]]. */
    def artifact(night: Int): (String, String, Long) = {
      val last = merges(night) - 1
      val sb = new StringBuilder("{\"sizes\":{")
      var first = true
      cells.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (t, bs) =>
        if (!first) sb.append(',')
        first = false
        sb.append('"').append(testName(t)).append("\":{")
        sb.append(bs.map { case (_, b) =>
          val (bss, text, data) = sizes(night, t, b)
          s"""\"${boardName(b)}\":{"bss":$bss,"text":$text,"data":$data}"""
        }.mkString(","))
        sb.append('}')
      }
      sb.append("}}")
      (hash(night, last), sb.toString, artifactTs(night))
    }

    /** Expected `/update` reply for one night: its cells plus its
      * merges (every merge carries a PR number). */
    def nightUpdates(night: Int): Long = cells.size.toLong + merges(night)
  }

  // ------------------------------------------------------------------
  // curation_stream: a multimodal corpus with planted near-duplicates

  /** One generated document with its attachments. */
  final case class Doc(id: Long, text: String, emb: Array[Float],
      image: Option[Array[Byte]], audio: Option[Array[Byte]])

  /** Shape of the curation corpus and its micro-batches. The planted
    * relation of doc i (if any) names an earlier doc and ONE family
    * through which i is a near-duplicate of it; the other families of i
    * are fresh, so multi-family clusters form by chains. */
  final case class CorpusShape(seed: Long, corpusDocs: Int = 400,
      batchDocs: Int = 40, plantedShare: Double = 0.3,
      imageShare: Double = 0.4, audioShare: Double = 0.3,
      words: Int = 48, dim: Int = 64) {

    /** Family through which doc `id` copies `source(id)`, or -1.
      * 0 text (shingle + simhash), 1 embedding, 2 image, 3 audio. */
    def plantedFamily(id: Long): Int =
      if (id == 0 || unit(seed, 30, id) >= plantedShare) -1
      else pick(4, seed, 31, id)

    /** The earlier doc a planted doc copies: any lower id, so batch docs
      * weld across the store boundary as well as inside batches. */
    def source(id: Long): Long = pick(id.toInt, seed, 32, id).toLong

    def hasImage(id: Long): Boolean =
      plantedFamily(id) == 2 || unit(seed, 33, id) < imageShare
    def hasAudio(id: Long): Boolean =
      plantedFamily(id) == 3 || unit(seed, 34, id) < audioShare

    private def freshWords(id: Long): Array[Int] =
      Array.tabulate(words)(w => pick(4096, seed, 35, id, w))

    /** Word indices: a planted text copy keeps all but 3 words. */
    def textWords(id: Long): Array[Int] =
      if (plantedFamily(id) != 0) freshWords(id)
      else {
        val src = textWords(source(id)).clone()
        (0 until 3).foreach { k =>
          src(pick(words, seed, 36, id, k)) = pick(4096, seed, 37, id, k)
        }
        src
      }

    def text(id: Long): String = textWords(id).map(word).mkString(" ")

    /** Unit-norm embedding; a planted copy is its source plus noise. */
    def embedding(id: Long): Array[Float] = {
      val raw =
        if (plantedFamily(id) == 1) {
          val src = embedding(source(id))
          Array.tabulate(dim)(j => src(j) + 0.02 * gauss(seed, 38, id, j))
        } else Array.tabulate(dim)(j => gauss(seed, 39, id, j))
      val norm = math.sqrt(raw.map(x => x * x).sum)
      raw.map(x => (x / norm).toFloat)
    }

    /** Root of a doc's image pattern: planted image copies share it. */
    def imageRoot(id: Long): Long =
      if (plantedFamily(id) == 2) imageRoot(source(id)) else id
    def audioRoot(id: Long): Long =
      if (plantedFamily(id) == 3) audioRoot(source(id)) else id

    /** 60x60 gray PNG: a 6x10 block pattern drawn from the pattern
      * root, brightness-shifted per doc (the shift cancels in aHash). */
    def imagePng(id: Long): Array[Byte] = {
      val root = imageRoot(id)
      val delta = pick(8, seed, 40, id)
      val img = new java.awt.image.BufferedImage(60, 60,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 60; x <- 0 until 60) {
        val v = 20 + pick(200, seed, 41, root, (y / 6) * 6 + x / 10) + delta
        img.setRGB(x, y, v << 16 | v << 8 | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, "png", bos),
        "no ImageIO writer for png")
      bos.toByteArray
    }

    /** 600-sample 8-bit WAV: a 60-frame envelope from the pattern root,
      * volume-scaled per doc by an exact integer gain. */
    def audioWav(id: Long): Array[Byte] = {
      val root = audioRoot(id)
      val gain = 1 + pick(3, seed, 42, id)
      val data = Array.tabulate[Byte](600) { j =>
        (128 + (1 + pick(42, seed, 43, root, j / 10)) * gain).toByte
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false,
        false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, 600L)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    def doc(id: Long): Doc = Doc(id, text(id), embedding(id),
      if (hasImage(id)) Some(imagePng(id)) else None,
      if (hasAudio(id)) Some(audioWav(id)) else None)

    /** Ids of micro-batch b: rising, right after the corpus. */
    def batchIds(b: Int): Range.Inclusive = {
      val lo = corpusDocs + b * batchDocs
      lo to (lo + batchDocs - 1)
    }

    /** The retraction slice issued after batch b: 8 live docs below
      * the batch's first id, skipping already-retracted ones. */
    def retractIds(b: Int, retracted: Long => Boolean): Seq[Long] = {
      val hi = batchIds(b).start
      Iterator.from(0).map(k => pick(hi, seed, 44, b, k).toLong)
        .filterNot(retracted).distinct.take(8).toSeq.sorted
    }
  }

  // ------------------------------------------------------------------
  // ann_serve: clustered 64-d vectors and queries near them

  final case class VecShape(seed: Long, corpus: Int = 10000,
      clusters: Int = 100, dim: Int = 64, appendBatch: Int = 200,
      spread: Double = 0.25) {

    private def normed(raw: Array[Double]): Array[Float] = {
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(x => (x / n).toFloat)
    }

    private lazy val centers: Array[Array[Double]] = Array.tabulate(clusters)(
      c => Array.tabulate(dim)(j => gauss(seed, 50, c, j)))

    /** Vector `id` (corpus, appended or query): a seeded cluster
      * center plus gaussian spread, unit norm. */
    def vector(id: Long, kind: Int = 0): Array[Float] = {
      val c = centers(pick(clusters, seed, 51, kind, id))
      normed(Array.tabulate(dim)(j =>
        c(j) + spread * math.sqrt(dim) / 8 * gauss(seed, 52, kind, id, j)))
    }

    /** Query q: near a corpus neighbourhood, never a corpus point. */
    def query(q: Long): Array[Float] = vector(q, kind = 1)

    def label(id: Long): Int = pick(clusters, seed, 51, 0, id)
  }

  /** Bytes of every generated artifact of a shape, for the determinism
    * check: any change in a generator changes this digest. */
  def digest(parts: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map(b => f"$b%02x").mkString
  }

  def ciBytes(sh: CiShape, nights: Int): Iterator[Array[Byte]] =
    (0 until nights).iterator.flatMap { n =>
      Iterator(sh.gitLog(n).mkString("\n").getBytes(UTF_8),
        sh.prTitles(n).mkString("\n").getBytes(UTF_8),
        sh.artifact(n).toString.getBytes(UTF_8))
    }

  def corpusBytes(sh: CorpusShape, n: Int): Iterator[Array[Byte]] =
    (0L until n).iterator.flatMap { id =>
      val d = sh.doc(id)
      Iterator(d.text.getBytes(UTF_8), floatBytes(d.emb)) ++
        d.image.iterator ++ d.audio.iterator
    }

  def vecBytes(sh: VecShape, n: Int): Iterator[Array[Byte]] =
    (0L until n).iterator.flatMap(id =>
      Iterator(floatBytes(sh.vector(id)), floatBytes(sh.query(id))))

  private def floatBytes(v: Array[Float]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(v.length * 4)
    v.foreach(bb.putFloat)
    bb.array()
  }
}
