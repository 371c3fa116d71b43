package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-shape ingest parsers (SURVEY.md §2.1 O-01/O-02/O-05,
  * FIXTURES.md §2): the two input formats RIOT-graphs consumes, re-built
  * as reusable DataFrame readers. The HTTP fetch boundary of the
  * reference (rg.py:96-104) becomes "a column of JSON payloads from any
  * source"; everything downstream is engine-native.
  */
object Ingest {

  /** Schema of one sizes.json artifact: sizes[test][board] -> fields
    * (ref rg.py:269-279; `count` optional, rg.py:279). */
  val sizesSchema: StructType = StructType(Seq(
    StructField("sizes", MapType(StringType, MapType(StringType,
      StructType(Seq(
        StructField("bss", LongType), StructField("text", LongType),
        StructField("data", LongType), StructField("count", LongType))))))))

  /** Flatten a DataFrame of raw sizes.json payloads into one row per
    * (test, board) cell with derived `dec` (ref rg.py:269-298).
    *
    * Input columns: `payload` (JSON string), `artifact_ts` (timestamp of
    * the artifact, ref HTTP Last-Modified rg.py:101). Two Generator
    * (explode) steps — the Catalyst form of iter_measures' nested walk.
    */
  def flattenSizes(raw: DataFrame): DataFrame =
    raw
      .select(col("artifact_ts"),
        from_json(col("payload"), sizesSchema).getField("sizes").as("sizes"))
      // outer + null filter = explode's rows (map keys are never null), minus
      // an inferred size(from_json(payload)) > 0 pushed below callers' joins
      .select(col("artifact_ts"),
        explode_outer(col("sizes")).as(Seq("test", "boards")))
      .select(col("artifact_ts"), col("test"),
        explode_outer(col("boards")).as(Seq("board", "f")))
      .filter(col("board").isNotNull)
      .select(
        col("artifact_ts").as("ts"), col("test"), col("board"),
        col("f.bss").as("bss"), col("f.text").as("text"),
        col("f.data").as("data"),
        (col("f.bss") + col("f.text") + col("f.data")).as("dec"),
        coalesce(col("f.count"), lit(0L)).as("count"))

  /** Adapter from a fetcher's lazy result stream to a DataFrame —
    * the missing piece between [[Fetcher.fetchAll]] and the engine
    * (VERDICT r5 #2). Columns: (url, payload, artifact_ts).
    *
    * The iterator is consumed ON THE DRIVER in batches of `batchSize`
    * and parallelized — correct here because the fetch set is the
    * reference's control-plane payload (one small JSON per commit,
    * fetched through one HTTP client regardless of engine), NOT corpus
    * data. Batching bounds driver memory to one batch of bodies; the
    * union tree stays shallow (one union per batch). */
  def fromFetched(s: SparkSession,
      fetched: Iterator[Fetcher.FetchResult],
      batchSize: Int = 1000): DataFrame = {
    import s.implicits._
    val empty = Seq.empty[Fetcher.FetchResult]
      .toDF("url", "payload", "artifact_ts")
    fetched.grouped(batchSize)
      .map(_.toDF("url", "payload", "artifact_ts"))
      .foldLeft(empty)(_ unionAll _)
  }

  /** Shape fetched sizes.json artifacts for [[Pipeline.backfill]]:
    * the commit hash is embedded in the artifact URL (the reference
    * builds `.../{hash}/sizes.json`, rg.py:96-99) — extract it and
    * project the (hash, payload, artifact_ts) contract. The CI server
    * also serves the magic key `latest` in the hash position
    * (rg.py:90-91: `"latest" to retrieve the latest nightly`) — the
    * default pattern accepts it, yielding hash='latest' rows that
    * [[resolveLatestAlias]] re-keys to a real commit. */
  def artifactsFromFetched(fetched: DataFrame,
      hashPattern: String = "/([0-9a-f]{7,40}|latest)/[^/]*$"): DataFrame =
    fetched.select(
      regexp_extract(col("url"), hashPattern, 1).as("hash"),
      col("payload"), col("artifact_ts"))

  /** Resolve the CI `latest` hash alias (ref rg.py:90-91, README.md:
    * 18-20): the nightly the alias names is keyed only by its
    * Last-Modified timestamp, and the reference's own rule for mapping
    * a run to a commit is "the last commit to master before the run"
    * (README.md:19-20, rg.py:199). Rows with hash='latest' are
    * re-keyed to the newest commit whose commit_ts <= artifact_ts
    * (ties to the lexicographically greatest hash — deterministic);
    * alias rows with no qualifying commit are dropped (nothing to
    * anchor them to, the reference's probe-skip posture). If the same
    * commit was ALSO fetched explicitly by hash, the explicit row
    * wins and the resolved alias duplicate is dropped. Two alias rows
    * can resolve to the SAME commit (two nightlies with no commit in
    * between) — only the newest nightly is kept (ties broken on
    * payload), so the output is one deterministic row per hash and
    * downstream windows never see a tied key. Control-plane
    * cardinality throughout (the alias is one row per refresh), so
    * every join broadcasts the tiny side. */
  def resolveLatestAlias(artifacts: DataFrame,
      commits: DataFrame): DataFrame = {
    val alias = artifacts.filter(col("hash") === lit("latest"))
    val explicit = artifacts.filter(col("hash") =!= lit("latest"))
    val resolved = alias.drop("hash")
      .join(broadcast(commits.select(col("hash"), col("commit_ts"))),
        col("commit_ts") <= col("artifact_ts"), "inner")
      .groupBy(col("payload"), col("artifact_ts"))
      .agg(max_by(col("hash"), struct(col("commit_ts"), col("hash")))
        .as("hash"))
      .groupBy(col("hash"))
      .agg(max_by(struct(col("payload"), col("artifact_ts")),
        struct(col("artifact_ts"), col("payload"))).as("r"))
      .select(col("hash"), col("r.payload").as("payload"),
        col("r.artifact_ts").as("artifact_ts"))
      .join(explicit.select(col("hash")), Seq("hash"), "left_anti")
    explicit.unionByName(resolved)
  }

  /** GitHub pulls-JSON fields the reference consumes (rg.py:358-361:
    * `data['title']`; the payload's own `number` keys the dimension). */
  val pullSchema: StructType = StructType(Seq(
    StructField("number", LongType), StructField("title", StringType)))

  /** Adapter from fetched GitHub `pulls/{num}` payloads to the
    * (pr_num, title) dimension [[prEvents]] broadcasts — the pulls-JSON
    * twin of [[artifactsFromFetched]], closing the last live-HTTP
    * symmetry gap (ref rg.py:356-362 via `github.repos[repo]
    * .pulls[pr].get()`). Payloads without a `number` field (non-pull
    * JSON, error bodies) are dropped — the reference's "No information
    * found for #pr" skip (rg.py:361-362); non-2xx responses never get
    * here (Fetcher drops them). */
  def prDimFromFetched(fetched: DataFrame): DataFrame =
    fetched
      .select(from_json(col("payload"), pullSchema).as("p"))
      .select(col("p.number").as("pr_num"), col("p.title").as("title"))
      .filter(col("pr_num").isNotNull)

  /** Parse `git log --merges --format=%H%x1f%cd%x1f%s` lines
    * (ref rg.py:182-223): unit-separator split, `%Y-%m-%d %H:%M:%S %z`
    * timestamp, and the first digit-run as PR number. A subject with no
    * digits yields a NULL pr_num (the reference raised IndexError here,
    * rg.py:78 — intended semantics per SURVEY.md §1.2).
    */
  def parseCommitLog(lines: DataFrame): DataFrame = {
    val us = "\u001f"
    lines
      .select(split(col("value"), us).as("p"))
      .select(
        element_at(col("p"), 1).as("hash"),
        to_timestamp(element_at(col("p"), 2), "yyyy-MM-dd HH:mm:ss X")
          .as("commit_ts"),
        element_at(col("p"), 3).as("msg"))
      .withColumn("pr_num",
        nullif(regexp_extract(col("msg"), "(\\d+)", 1), lit(""))
          .cast("long"))
  }

  /** Read a commit-log text file (one `\x1f` line per commit). */
  def readCommitLog(s: SparkSession, path: String): DataFrame =
    parseCommitLog(s.read.text(path))

  /** The pr_events HTML annotation synthesis (ref rg.py:331-348): title
    * and event anchors built from the PR number; description wrapped at
    * 32 chars joined by `<br>` (rg.py:364-366, the O-40 UDF).
    */
  def prEvents(commits: DataFrame, prDim: DataFrame): DataFrame = {
    val wrapped = Wrap32.wrapUdf(coalesce(col("title"), lit("")))
    commits
      .join(broadcast(prDim), Seq("pr_num"), "left_outer")
      .select(
        col("commit_ts").as("ts"), col("pr_num"), col("hash"),
        concat(lit("<a href=\"https://github.com/RIOT-OS/RIOT/pull/"),
          col("pr_num").cast("string"), lit("\">#"),
          col("pr_num").cast("string"), lit("</a>")).as("title"),
        concat(lit("PR <a href=\"https://github.com/RIOT-OS/RIOT/pull/"),
          col("pr_num").cast("string"), lit("\">#"),
          col("pr_num").cast("string"), lit("</a>")).as("event"),
        wrapped.as("description"))
  }
}

/** The one genuine scalar UDF in the engine (O-40/O-55): textwrap.wrap
  * at width 32 joined with `<br>` (ref rg.py:364-366). Word-boundary
  * wrapping is not expressible with built-in string functions; kept
  * off hot paths (annotation synthesis only).
  */
object Wrap32 {
  def wrap(s: String, width: Int = 32): String = {
    if (s == null || s.isEmpty) ""
    else {
      val words = s.trim.split("\\s+").toSeq
      val lines = words.foldLeft(List.empty[String]) { (acc, w) =>
        acc match {
          case Nil => List(w)
          case head :: tail if head.length + 1 + w.length <= width =>
            (head + " " + w) :: tail
          case _ => w :: acc
        }
      }
      lines.reverse.mkString("<br>")
    }
  }

  val wrapUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((s: String) => wrap(s))
}
