package graft

import java.sql.Timestamp

import graft.ops.AsofJoin
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck invariants (SURVEY.md §5.2.3) over small generated frames.
  * Generators are sampled with fixed seeds (no scalatestplus bridge in
  * the offline dependency cache), so runs are deterministic. */
class PropertiesSpec extends SparkSpec {

  private def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    (0 until 5).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)).foreach(f)
    }

  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    (0 until 5).foreach { i =>
      for {
        a <- g1.apply(Gen.Parameters.default, Seed(42L + i))
        b <- g2.apply(Gen.Parameters.default, Seed(1042L + i))
      } f(a, b)
    }

  private val rowsGen = Gen.listOfN(30,
    for {
      id <- Gen.chooseNum(0L, 1000L)
      key <- Gen.chooseNum(0L, 3L)
      t <- Gen.chooseNum(0L, 100000L)
      v <- Gen.chooseNum(-100L, 100L)
    } yield (id, key, new Timestamp(1700000000000L + t * 1000), v))

  test("dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    import spark.implicits._
    forAll(rowsGen) { rows =>
      val df = rows.toDF("id", "key", "ts", "v")
      val once = df.dropDuplicates("id")
      assert(once.dropDuplicates("id").count() === once.count())
    }
  }

  test("union row-count additivity") {
    import spark.implicits._
    forAll(rowsGen, rowsGen) { (a, b) =>
      val da = a.toDF("id", "key", "ts", "v")
      val db = b.toDF("id", "key", "ts", "v")
      assert(da.unionByName(db).count() === da.count() + db.count())
    }
  }

  test("asof join invariant: matched right ts <= left ts, within key") {
    import spark.implicits._
    forAll(rowsGen, rowsGen) { (l, r) =>
      val left = l.toDF("event_id", "user_id", "ts", "v")
        .select(col("event_id"), col("user_id"), col("ts"))
      val right = r.toDF("err_event_id", "user_id", "err_ts", "v")
        .select(col("err_event_id"), col("user_id"), col("err_ts"))
      val joined = AsofJoin.asofJoin(left, right, Seq("user_id"),
        "ts", "err_ts", Seq("err_event_id"), Seq("err_event_id"))
      // row count preserved (left join semantics)
      assert(joined.count() === left.count())
      // every match is at-or-before
      val violations = joined
        .filter(col("err_ts").isNotNull && col("err_ts") > col("ts"))
        .count()
      assert(violations === 0)
    }
  }

  test("window-sum over unbounded frame equals group-sum") {
    import spark.implicits._
    forAll(rowsGen) { rows =>
      val df = rows.toDF("id", "key", "ts", "v")
      val grouped = df.groupBy(col("key"))
        .agg(sum(col("v")).as("s")).orderBy(col("key"))
      val windowed = df
        .withColumn("s", sum(col("v")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("key"))))
        .select(col("key"), col("s")).distinct().orderBy(col("key"))
      assert(grouped.collect().toSeq === windowed.collect().toSeq)
    }
  }

  test("explode row count equals total array cardinality") {
    import spark.implicits._
    forAll(Gen.listOfN(20, Gen.listOf(Gen.alphaStr))) { lists =>
      val df = lists.zipWithIndex.map { case (l, i) => (i, l) }
        .toDF("id", "arr")
      val exploded = df.select(col("id"), explode(col("arr"))).count()
      assert(exploded === lists.map(_.size).sum)
    }
  }

  test("LongArrayDot equals the lambda fold on random long arrays") {
    import spark.implicits._
    val vecGen = Gen.listOfN(12,
      Gen.zip(Gen.listOfN(8, Gen.chooseNum(-1000000L, 1000000L)),
        Gen.listOfN(8, Gen.chooseNum(-1000000L, 1000000L))))
    forAll(vecGen) { pairs =>
      val df = pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("id", "a", "b")
      val lambda = df.select(col("id"), aggregate(
        zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v).as("d")).orderBy(col("id"))
      val native = df.select(col("id"),
        graft.functions.LongArrayDot(col("a"), col("b")).as("d"))
        .orderBy(col("id"))
      assert(native.collect().toSeq === lambda.collect().toSeq)
    }
  }

  test("SignLshSignature equals the per-plane lambda fold on random input") {
    import spark.implicits._
    val caseGen = Gen.zip(
      Gen.listOfN(10, Gen.listOfN(16, Gen.chooseNum(-1000000L, 1000000L))),
      Gen.listOfN(6, Gen.chooseNum(Long.MinValue, Long.MaxValue)))
    forAll(caseGen) { case (vecs, masks) =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "qe")
      // reference: one aggregate(zip_with) projection per plane — the
      // exact formulation the codegen expression replaced
      val planeSig = masks.zipWithIndex.map { case (m, p) =>
        val planeLit = array((0 until 16).map(i =>
          lit(if (((m >>> i) & 1L) == 1L) 1L else -1L)): _*)
        val proj = aggregate(
          zip_with(col("qe"), planeLit, (x, w) => x * w),
          lit(0L), (acc, x) => acc + x)
        when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
      val lambda = df.select(col("id"), planeSig.as("s")).orderBy(col("id"))
      val native = df.select(col("id"),
        graft.functions.SignLshSignature(col("qe"), masks).as("s"))
        .orderBy(col("id"))
      assert(native.collect().toSeq === lambda.collect().toSeq)
    }
  }

  test("SimhashSignature equals the explode + lane-aggregate formulation") {
    import spark.implicits._
    // token strings including empties (skipped) and repeats (frequency
    // counts); some docs all-empty (NULL signature expected)
    val tokGen = Gen.oneOf(Gen.const(""), Gen.alphaNumStr.map(_.take(8)),
      Gen.oneOf("the", "a", "und", "ma"))
    val docsGen = Gen.listOfN(12, Gen.listOfN(20, tokGen))
    forAll(docsGen) { docs =>
      val df = docs.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
        .toDF("doc_id", "toks")
      // reference: the exact round-4 shape the expression replaced —
      // explode to token rows, hex-md5 -> conv -> 20 lane-packed bit
      // sums -> majority test (docs with no tokens drop out)
      val toks = df.select(col("doc_id"), explode(col("toks")).as("tok"))
        .filter(col("tok") =!= "")
        .withColumn("h",
          conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
      val lanes = (0 until 20).map { g =>
        sum((0 until 3).map { j =>
          shiftright(col("h"), 3 * g + j).bitwiseAND(lit(1L)) *
            lit(1L << (20 * j))
        }.reduce(_ + _)).as(s"lane$g")
      }
      val bitSums = toks.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_toks"), lanes: _*)
      val simhash = (0 until 60).map { b =>
        val (g, j) = (b / 3, b % 3)
        when(shiftright(col(s"lane$g"), 20 * j)
          .bitwiseAND(lit(0xFFFFFL)) * 2 > col("n_toks"),
          lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      val reference = bitSums
        .select(col("doc_id"), simhash.as("sig")).orderBy(col("doc_id"))
      val native = df.select(col("doc_id"),
          graft.functions.SimhashSignature(col("toks")).as("sig"))
        .filter(col("sig").isNotNull)
        .orderBy(col("doc_id"))
      assert(native.collect().toSeq === reference.collect().toSeq)
    }
  }

  test("MinhashSignature equals the explode + min-aggregate formulation") {
    import spark.implicits._
    // non-empty tokens (split(trim, \s+) never yields empties past the
    // >=3 filter), small alphabet so shingles repeat across docs
    val tokGen = Gen.oneOf("aa", "bb", "cc", "dd", "the", "x1")
    val docsGen = Gen.listOfN(10,
      Gen.chooseNum(0, 8).flatMap(n => Gen.listOfN(n, tokGen)))
    forAll(docsGen) { docs =>
      val df = docs.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
        .toDF("doc_id", "w")
      // reference: the exact shape the expression replaced — explode to
      // shingle rows, salted sha256 hex -> conv slices -> 16 min aggs
      // (docs with < 3 tokens produce no shingle rows and drop out)
      val shingled = df.filter(size(col("w")) >= 3)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(col("w")) - 3),
          i => concat_ws(" ", element_at(col("w"), i + 1),
            element_at(col("w"), i + 2), element_at(col("w"), i + 3))))
          .as("shingle"))
      val digests = (0 until 2).map(g =>
        sha2(concat(lit(s"s$g:"), col("shingle")).cast("binary"), 256))
      val sliced = shingled.select(
        col("doc_id") +: (0 until 16).map(j =>
          conv(substring(digests(j / 8), 1 + 8 * (j % 8), 8), 16, 10)
            .cast("long").as(s"x$j")): _*)
      val reference = sliced.groupBy(col("doc_id"))
        .agg(array((0 until 16).map(j => min(col(s"x$j"))): _*).as("mins"))
        .orderBy(col("doc_id"))
      val native = df.select(col("doc_id"),
          graft.functions.MinhashSignature(col("w")).as("mins"))
        .filter(col("mins").isNotNull)
        .orderBy(col("doc_id"))
      assert(native.collect().toSeq.map(_.toSeq) ===
        reference.collect().toSeq.map(_.toSeq))
    }
  }

  test("SortedLongArrayIntersectSize equals array_intersect on sorted sets") {
    import spark.implicits._
    val setGen = Gen.listOfN(12,
      Gen.zip(Gen.listOf(Gen.chooseNum(0L, 50L)),
        Gen.listOf(Gen.chooseNum(0L, 50L))))
    forAll(setGen) { pairs =>
      val rows = pairs.zipWithIndex.map { case ((a, b), i) =>
        (i.toLong, a.distinct.sorted, b.distinct.sorted) }
      val df = rows.toDF("id", "a", "b")
      val stock = df.select(col("id"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("n"))
        .orderBy(col("id"))
      val native = df.select(col("id"),
        graft.functions.SortedLongArrayIntersectSize(col("a"), col("b"))
          .as("n"))
        .orderBy(col("id"))
      assert(native.collect().toSeq === stock.collect().toSeq)
    }
  }

  test("LongArrayEqCount equals the zip_with agreement fold, incl. " +
      "mismatched lengths") {
    import spark.implicits._
    // lengths drawn independently so the min(|a|,|b|) / zip_with-pad
    // edge is exercised, and a narrow value range forces collisions
    val pairGen = Gen.listOfN(12,
      Gen.zip(
        Gen.chooseNum(0, 20).flatMap(n =>
          Gen.listOfN(n, Gen.chooseNum(0L, 5L))),
        Gen.chooseNum(0, 20).flatMap(n =>
          Gen.listOfN(n, Gen.chooseNum(0L, 5L)))))
    forAll(pairGen) { pairs =>
      val df = pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("id", "a", "b")
      val lambda = df.select(col("id"), aggregate(
        zip_with(col("a"), col("b"),
          (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).as("n")).orderBy(col("id"))
      val native = df.select(col("id"),
        graft.functions.LongArrayEqCount(col("a"), col("b")).as("n"))
        .orderBy(col("id"))
      assert(native.collect().toSeq === lambda.collect().toSeq)
    }
  }

  test("shuffleShards is invariant to input partitioning and total") {
    import spark.implicits._
    val docGen = Gen.chooseNum(1, 60).flatMap(n =>
      Gen.pick(n, 0L until 500L)).map(_.toSeq)
    forAll(docGen, Gen.chooseNum(1, 7)) { (ids, parts) =>
      val docs = ids.map(i => (i, s"s${i % 2}")).toDF("doc_id", "source")
      val base = ops.Sampling.shuffleShards(docs, nShards = 4)
        .as[(Long, String, Int, Int)].collect().toSeq
      // a rand()-keyed shuffle breaks here; the seeded-hash key does not
      val repart = ops.Sampling
        .shuffleShards(docs.repartition(parts), nShards = 4)
        .as[(Long, String, Int, Int)].collect().toSeq
      assert(repart === base)
      // a permutation: every doc appears exactly once, pos is 1..n
      // contiguous within each shard
      assert(base.map(_._1).sorted === ids.sorted)
      base.groupBy(_._3).values.foreach { shard =>
        assert(shard.map(_._4).sorted === (1 to shard.size).toSeq)
      }
    }
  }

  test("chunkOverlap: chunks tile the doc — exact slices, full coverage") {
    import spark.implicits._
    val docGen = Gen.listOfN(8,
      Gen.zip(Gen.chooseNum(1, 40), Gen.chooseNum(0, 1000)))
    val paramGen = for {
      stride <- Gen.chooseNum(1, 6)
      extra <- Gen.chooseNum(0, 5)
    } yield (stride + extra, stride)
    forAll(docGen, paramGen) { case (docs, (width, stride)) =>
      val rows = docs.zipWithIndex.map { case ((n, salt), i) =>
        (i.toLong, (0 until n).map(j => s"t${salt}_$j").mkString(" "))
      }
      val byId = rows.toMap
      val out = ops.Sampling.chunkOverlap(
        rows.toDF("doc_id", "text"), width, stride).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2).toInt,
          r.getLong(3).toInt, r.getString(4)))
      for ((id, chunks) <- out.groupBy(_._1)) {
        val words = byId(id).split(" ").toSeq
        val sorted = chunks.sortBy(_._2)
        // chunk i starts at i*stride; text is the exact slice
        sorted.foreach { case (_, idx, start, nw, text) =>
          assert(start === idx * stride)
          assert(text === words.slice(start, start + nw).mkString(" "))
        }
        // first chunk at 0; last chunk reaches exactly the end; no
        // chunk past the first that reaches the end (minimal cover)
        assert(sorted.head._3 === 0)
        assert(sorted.last._3 + sorted.last._4 === words.length)
        assert(sorted.init.forall(c => c._3 + width < words.length))
      }
      assert(out.groupBy(_._1).keySet === byId.keySet)
    }
  }

  test("segmentDedup: unique corpus reassembles byte-identically") {
    import spark.implicits._
    val docGen = Gen.listOfN(6, Gen.chooseNum(1, 30))
    forAll(docGen) { sizes =>
      val rows = sizes.zipWithIndex.map { case (n, i) =>
        (i.toLong, (0 until n).map(j => s"u${i}_$j").mkString(" "))
      }
      val out = ops.Dedup.segmentDedup(rows.toDF("doc_id", "text"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
          r.getString(3))).toMap
      rows.foreach { case (id, text) =>
        val (nSegs, nKept, clean) = out(id)
        assert(nSegs === nKept)
        assert(clean === text)
      }
    }
  }

  test("decontaminateScan equals decontaminate on random word soup") {
    import spark.implicits._
    // small vocab so cross-doc shingle overlap actually occurs
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val corpusGen = Gen.listOfN(10,
      Gen.listOfN(12, Gen.chooseNum(0, vocab.size - 1)))
    forAll(corpusGen, Gen.chooseNum(1L, 4L)) { (docs, th) =>
      val rows = docs.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.map(vocab).mkString(" "),
          if (i < 3) "bench" else "train")
      }
      val df = rows.toDF("doc_id", "text", "source")
      val join = ops.Dedup.decontaminate(df, "bench", th).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSeq
      val scan = ops.Dedup.decontaminateScan(df, "bench", th).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSeq
      assert(scan === join)
    }
  }

  test("neardupMerge equals the one-shot pair formulation on random " +
    "corpora") {
    import spark.implicits._
    // the store round-trip (write, prune, band join, intra rule) must
    // admit exactly what the in-memory pair formulation predicts:
    // drop a batch doc iff it LSH-verifies against any corpus doc or
    // any lower-id batch doc. Small vocab + short docs => real random
    // signature collisions across rounds.
    val vocab = Vector("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op")
    val docGen = Gen.listOfN(14, Gen.chooseNum(0, vocab.size - 1))
    val corpusGen = Gen.listOfN(12, docGen)
    val newbGen = Gen.listOfN(8, docGen)
    forAll(corpusGen, newbGen) { (cd, nd) =>
      def shape(rows: Seq[(Long, String)]) =
        rows.toDF("doc_id", "text")
          .withColumn("lang", lit("en")).withColumn("source", lit("t"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      val corpusRows = cd.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.map(vocab).mkString(" ")) }
      // batch = new docs + re-identified copies of two corpus docs
      // (guaranteed 16/16 matches) on top of whatever random
      // collisions the generator produces
      val batchRows = nd.zipWithIndex.map { case (ws, i) =>
        (100L + i, ws.map(vocab).mkString(" ")) } ++
        corpusRows.take(2).map { case (i, t) => (200L + i, t) }
      val store = java.nio.file.Files
        .createTempDirectory("nd_prop_").toString
      ops.Dedup.neardupIndexWrite(shape(corpusRows), store)
      val admitted = ops.Dedup.neardupMerge(spark, store,
          shape(batchRows))
        .select("doc_id").as[Long].collect().toSet
      val pairs = ops.Dedup.minhashLshPairs(
          shape(corpusRows ++ batchRows))
        .select("doc_a", "doc_b").as[(Long, Long)].collect()
      val corpusIds = corpusRows.map(_._1).toSet
      val batchIds = batchRows.map(_._1).toSet
      val cross = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .collect { case (x, y) if batchIds(x) && corpusIds(y) => x }
        .toSet
      val intra = pairs // doc_a < doc_b by construction
        .collect { case (a, b) if batchIds(a) && batchIds(b) => b }
        .toSet
      assert(admitted === (batchIds -- cross -- intra))
    }
  }

  test("labelOutliers matches a driver-side exact integer recomputation") {
    import spark.implicits._
    val vecGen = Gen.listOfN(12, Gen.zip(
      Gen.chooseNum(0, 1), Gen.listOfN(3,
        Gen.chooseNum(-1000, 1000).map(_ / 1000.0f))))
    forAll(vecGen) { vecs =>
      val rows = vecs.zipWithIndex.map { case ((label, e), i) =>
        (i.toLong, label, e.toArray)
      }
      val out = ops.Similarity.labelOutliers(
        rows.toDF("vec_id", "label", "embedding"), k = 3).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      // exact model: quantize, per-label sums, floor-div centroid, L2
      // (HALF_UP to match Spark's round(), not math.round's half-even
      // behavior on negative ties)
      val byLabel = rows.groupBy(_._2)
      val expect = byLabel.toSeq.flatMap { case (label, vs) =>
        val q = vs.map { case (id, _, e) =>
          id -> e.map(x => BigDecimal(x.toDouble * 1000000)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact) }
        val n = q.size
        val dims = q.head._2.indices
        val cent = dims.map(d => Math.floorDiv(q.map(_._2(d)).sum, n))
        q.map { case (id, qe) =>
          val d2 = dims.map(d => (qe(d) - cent(d)) * (qe(d) - cent(d))).sum
          (label, id, d2)
        }.sortBy(t => (-t._3, t._2)).take(3)
      }.sortBy(t => (t._1, -t._3, t._2))
      assert(out.toSeq === expect)
    }
  }

  test("segmentDedup matches a reference replay on random corpora") {
    import spark.implicits._
    // random docs over a tiny vocabulary so 8-token segments repeat
    // across docs by construction; replayed in plain Scala
    val docGen = Gen.listOfN(25, for {
      id <- Gen.chooseNum(0L, 500L)
      n <- Gen.chooseNum(1, 40)
      ws <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd"))
    } yield (id, ws.mkString(" ")))
    forAll(docGen) { docsRaw =>
      // one text per doc_id (duplicated ids would be two identical
      // physical rows -> countDistinct still counts one doc; keep the
      // reference simple by deduping ids first)
      val docs = docsRaw.distinctBy(_._1)
      val segsOf = (t: String) =>
        t.trim.split("\\s+").filter(_.nonEmpty).grouped(8)
          .map(_.mkString(" ")).toVector
      val segDocs = docs.flatMap { case (id, t) =>
        segsOf(t).distinct.map(s => (s, id)) }
      val dupSegs = segDocs.groupBy(_._1)
        .filter(_._2.map(_._2).distinct.size >= 2).keySet
      val expect = docs.map { case (id, t) =>
        val segs = segsOf(t)
        val kept = segs.filterNot(dupSegs)
        (id, segs.size.toLong, kept.size.toLong, kept.mkString(" "))
      }.filter(_._3 >= 1).sortBy(_._1)
      val got = ops.Dedup.segmentDedup(docs.toDF("doc_id", "text"))
        .as[(Long, Long, Long, String)].collect().toSeq
      assert(got === expect)
    }
  }

  test("semanticDedup keep/drop matches a reference replay") {
    import spark.implicits._
    // clustered random unit-ish vectors: enough near-parallel pairs to
    // make drops non-vacuous; replay quantize/assign/drop in Scala with
    // the same integer arithmetic
    val vecGen = Gen.listOfN(30, for {
      id <- Gen.chooseNum(0L, 300L)
      dir <- Gen.chooseNum(0, 2) // 3 base directions in 4 dims
      eps <- Gen.chooseNum(-5, 5)
    } yield (id, dir, eps))
    forAll(vecGen) { raw =>
      val rows = raw.distinctBy(_._1).map { case (id, dir, eps) =>
        val v = Array.fill(4)(0.02f * eps)
        v(dir) = 1.0f
        (id, dir, v)
      }
      if (rows.nonEmpty) {
        val qz = (v: Array[Float]) => v.toSeq.map(x =>
          BigDecimal(x.toDouble * 1000000)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact)
        val q = rows.map { case (id, _, v) => id -> qz(v) }.toMap
        def dot(a: Seq[Long], b: Seq[Long]): Long =
          a.zip(b).map { case (x, y) => x * y }.sum
        // trainedCentroids replay: seed-assign vs vec_id<16 seeds, then
        // floored per-cell means; then assign vs trained; then the
        // greedy lower-id drop rule inside each cell
        val seeds = q.filter(_._1 < 16).toSeq.sortBy(_._1)
        def assign(cents: Seq[(Long, Seq[Long])], qe: Seq[Long]): Long =
          cents.map { case (cid, ce) => (dot(qe, ce), cid) }
            .maxBy(t => (t._1, -t._2))._2
        val expectKept: Map[Long, (Long, Boolean)] =
          if (seeds.isEmpty) Map.empty
          else {
            val cells0 = q.groupBy { case (_, qe) => assign(seeds, qe) }
            val trained = cells0.toSeq.map { case (cid, members) =>
              val n = members.size
              val sums = (0 until 4).map(d =>
                members.valuesIterator.map(_(d)).sum)
              cid -> sums.map(s => Math.floorDiv(s, n))
            }.sortBy(_._1)
            q.map { case (id, qe) =>
              val cell = assign(trained, qe)
              val dropped = q.exists { case (u, uq) =>
                u < id && assign(trained, uq) == cell &&
                  dot(uq, qe) >= 400000000000L
              }
              id -> (cell, !dropped)
            }
          }
        val emb = rows.map { case (id, dir, v) => (id, dir, v) }
          .toDF("vec_id", "label", "embedding")
        val got = ops.Similarity.semanticDedup(emb)
          .select("vec_id", "cell_id", "kept")
          .as[(Long, Long, Boolean)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
        assert(got === expectKept)
      }
    }
  }

  test("connected components match reference union-find on random graphs") {
    import spark.implicits._
    // The star loop's fixpoint certificate — (count, Σsrc, Σdst)
    // unchanged across one LS+SS application — rests on a monotonicity
    // argument, not a mechanized proof; random graphs (dense, sparse,
    // self-loops, duplicate and reversed edges, long id gaps) hunt for a
    // premature-convergence counterexample against a driver-side
    // union-find reference. Both algorithms are checked on every sample.
    val edgesGen = for {
      n <- Gen.chooseNum(0, 60) // edge count (0 = empty-graph case)
      ids <- Gen.listOfN(2 * n, Gen.oneOf(
        Gen.chooseNum(0L, 12L), // dense small-id core -> big components
        Gen.chooseNum(0L, 5000L))) // sparse far ids -> singletons/pairs
    } yield ids.grouped(2).map(p => (p.head, p(1))).toList
    def unionFind(edges: List[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x
        else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        // min-root union => the representative IS the component min
        if (ra != rb) {
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => x -> find(x)).toMap
    }
    forAll(edgesGen) { edges =>
      // contract: self-pairs carry no connectivity and register no node
      val expected = unionFind(edges.filter(e => e._1 != e._2))
      val pairs = edges.toDF("doc_a", "doc_b")
      // "local" exercises the round-10 small-graph fast path (these
      // graphs sit under the default threshold); for the distributed
      // star path the threshold is forced to 0 so it can't silently
      // delegate to the driver-side union-find
      for (algo <- Seq("star", "local")) {
        if (algo == "star")
          spark.conf.set("spark.graft.cc.localThreshold", "0")
        val got =
          try ops.Dedup.connectedComponents(pairs)
            .select("doc_id", "cluster_id")
            .as[(Long, Long)].collect().toMap
          finally spark.conf.unset("spark.graft.cc.localThreshold")
        assert(got === expected,
          s"[$algo] mismatch on ${edges.size} edges: " +
            s"got ${got.toSeq.sorted.take(20)} " +
            s"expected ${expected.toSeq.sorted.take(20)}")
      }
    }
  }

  test("bandedHammingPairs: found pairs are exactly the true <= max " +
    "set that shares a band; pigeonhole recall below nChunks is total") {
    import spark.implicits._
    // 60-bit signatures with planted near-pairs: base values plus
    // low-popcount perturbations so hamming spans 0..~12
    val sigGen = Gen.listOfN(24, for {
      base <- Gen.chooseNum(0L, (1L << 60) - 1)
      flips <- Gen.chooseNum(0, 12)
      bits <- Gen.listOfN(flips, Gen.chooseNum(0, 59))
    } yield bits.foldLeft(base)((s, b) => s ^ (1L << b)))
    forAll(sigGen) { sigs =>
      val rows = sigs.zipWithIndex
        .map { case (s, i) => (i.toLong, s) }
      val df = rows.toDF("doc_id", "ahash")
      val got = ops.Dedup.bandedHammingPairs(df, "ahash", 4, 15, 8)
        .select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet
      def band(s: Long, c: Int): Long = (s >> (15 * c)) & 0x7FFFL
      def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
      val truth = (for {
        (sa, a) <- rows.map(_.swap)
        (sb, b) <- rows.map(_.swap)
        if a < b
        if ham(sa, sb) <= 8
        if (0 until 4).exists(c => band(sa, c) == band(sb, c))
      } yield (a, b)).toSet
      assert(got === truth)
      // pigeonhole: <= 3 flipped bits cannot straddle all 4 bands, so
      // every such pair MUST be found — the lossless-recall floor
      val close = (for {
        (sa, a) <- rows.map(_.swap)
        (sb, b) <- rows.map(_.swap)
        if a < b && ham(sa, sb) <= 3
      } yield (a, b)).toSet
      assert(close.subsetOf(got),
        s"missed guaranteed pairs: ${(close -- got).take(5)}")
    }
  }
}
