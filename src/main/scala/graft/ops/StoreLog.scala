package graft.ops

import java.io.{BufferedReader, BufferedWriter, EOFException,
  FileNotFoundException, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{GZIPInputStream, GZIPOutputStream, ZipException}

import org.apache.hadoop.fs.{ChecksumException, FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, collect_set}
import org.apache.spark.sql.types.StructType

import graft.util.Span

/** The commit log of every bucketed store but the IVF cells: the
  * cluster stores (the MinHash store of q89/s15 and the unified store
  * of q61d/q61f/s22/s24) and the one-table stores ([[OneTable]]: the
  * exact and near-dup admission indices, the q67 band store, the
  * manifest, the hash ledger, the signature stores and the tf store).
  * It is the contract of Structured Streaming's file sink and its
  * `_spark_metadata` log: new files land under fresh names, and one
  * put-if-absent entry is the commit point.
  *
  * `<store>/_graft_log/N` is version N: the store's whole live file
  * list, gzipped text grouped by table and bucket dir, each file with
  * its size and mtime, plus the tf store's compacted-epoch mark when it
  * has one. Paths are store-relative, so a hard-linked clone
  * ([[graft.util.Ephemeral.cloneDir]]) reads as its source. A read
  * ([[open]]) costs one listing of `_graft_log/` and one open of the
  * newest entry, whatever the table count; no table dir is listed.
  *
  * A commit ([[Version.commit]]):
  *  1. runs its writes as one concurrent wave, each a plain `append`
  *     into the live table dirs under a file-name prefix of its own
  *     (the write's `mapreduce.output.basename`); an [[Version.append]]
  *     learns the buckets it touched from its own write job;
  *  2. lists the dirs the writes touched, and takes the files carrying
  *     the prefix as the new ones;
  *  3. creates entry N+1 with `create(overwrite = false)`. That is the
  *     only commit point: before it every reader sees version N whole,
  *     after it version N+1. An entry whose write did not finish fails
  *     its gzip trailer and is skipped;
  *  4. GC: deletes, in the dirs it listed, every data file entry N+1
  *     does not name (the files it replaced, and the orphans a crashed
  *     write left), the bucket dirs left empty, and the older entries.
  *
  * No log or data file is ever rewritten in place. One writer per
  * store at a time. */
private[graft] object StoreLog {
  val Dir = "_graft_log"

  /** A live data file of a version. */
  final case class File(name: String, size: Long, mtime: Long)

  /** A table of a store: its name (empty for a bucketed table at the
    * store root), its schema (DDL; the bucket column, when there is
    * one, is its last column, an INT), and the columns each file is
    * sorted by. */
  final case class Layout(table: String, schema: String,
      bucketCol: Option[String], ordCols: Seq[String]) {
    def cols: Seq[String] = StructType.fromDDL(schema).fieldNames.toSeq

    private def prefix(c: String) =
      if (table.isEmpty) s"$c=" else s"$table/$c="

    /** The store-relative dirs of `keys` (the table's own dir when it
      * has no bucket column), with their bucket ids. */
    def dirs(keys: Seq[Int]): Seq[(Int, String)] =
      bucketCol.fold(Seq(0 -> table))(c =>
        keys.distinct.map(k => k -> s"${prefix(c)}$k"))

    /** The bucket id of store-relative dir `d`, when it is one of this
      * table's bucket dirs. */
    private[StoreLog] def bucketOf(d: String): Option[Int] =
      bucketCol.map(prefix).filter(d.startsWith)
        .flatMap(p => d.stripPrefix(p).toIntOption)
  }

  /** A store holding the one bucketed table `layout` describes, at its
    * root, so its log sits in the table's own dir. `kind` and `builder`
    * name it in the error of an operation on a store never built. */
  final case class OneTable(kind: String, builder: String, schema: String,
      bucketCol: String, ordCols: Seq[String]) {
    val layout: Layout = Layout("", schema, Some(bucketCol), ordCols)

    def open(s: SparkSession, store: String): Version =
      StoreLog.open(s, store, kind, builder)

    /** The table of the newest version, filtered to `keys` when given. */
    def read(s: SparkSession, store: String,
        keys: Option[Seq[Int]] = None): DataFrame =
      open(s, store).read(layout, keys)

    /** `rows` into `store`: mode "overwrite" builds it, "append"
      * commits them as one [[Version.append]]. */
    def put(rows: DataFrame, store: String, mode: String,
        span: String): Unit =
      if (mode == "append") {
        val v = open(rows.sparkSession, store)
        v.commit(span)(Seq(v.append(layout, rows)))
      } else {
        require(mode == "overwrite", s"$kind: unknown write mode '$mode'")
        build(rows.sparkSession, store)(BucketedStore.writeBucketed(
          rows.select(layout.cols.map(col): _*), store, "overwrite",
          bucketCol, ordCols))
      }

    /** Commit the [[Version.retraction]] of `delete`'s ids from the
      * `keys` buckets, and the append of `promoted`, as one version. */
    def retract(s: SparkSession, store: String, span: String,
        keys: Seq[Int], delete: DataFrame,
        promoted: Option[DataFrame] = None): Unit = {
      val v = open(s, store)
      v.commit(span)(v.retraction(layout, keys, delete) +:
        promoted.map(v.append(layout, _)).toSeq)
    }

    /** Commit the [[Version.compaction]] of the newest version, with
      * `mark` ([[Version.commit]]'s); the compacted bucket ids. */
    def compact(s: SparkSession, store: String, span: String,
        maxFiles: Int, fold: DataFrame => DataFrame = _.distinct(),
        mark: => Option[Long] = None): Seq[Int] = {
      val v = open(s, store)
      v.commit(span, mark)(v.compaction(layout, maxFiles, fold).toSeq)
      v.over(layout, maxFiles)
    }
  }

  /** One write of a commit into `table`: `run` writes new files, with
    * the Hadoop options it is given, and returns the dirs
    * (store-relative) it wrote into. The version's files in `replaced`
    * leave the store. Its jobs carry the description `<span>.<table>`
    * (`<span>` for a table at the store root). */
  final class Write private[StoreLog] (val table: String,
      val replaced: Seq[String], val run: Map[String, String] => Seq[String])

  /** The newest complete version of `store`, a `kind` that `builder`
    * builds; fails naming both when it has none. */
  def open(s: SparkSession, store: String, kind: String,
      builder: String): Version = {
    val fs = BucketedStore.fsOf(s, new Path(store))
    val log = new Path(store, Dir)
    val numbers =
      (try fs.listStatus(log).toSeq
       catch { case _: FileNotFoundException => Nil })
        .flatMap(_.getPath.getName.toLongOption).sorted
    val newest = numbers.reverseIterator
      .map(n => readEntry(fs, new Path(log, n.toString)))
      .collectFirst { case Some(entry) => entry }
    require(newest.isDefined, s"$kind at '$store' has no '$Dir' entry — " +
      s"build it with $builder before merging")
    new Version(s, store, fs, numbers, newest.get)
  }

  /** Build a store: `writes` lays out every table with plain writes,
    * then entry 0 names every data file under the store. An earlier log
    * is deleted first, so a crashed build leaves no entry and every
    * operation on the store fails loudly until a build completes. */
  def build(s: SparkSession, store: String)(writes: => Unit): Unit = {
    val fs = BucketedStore.fsOf(s, new Path(store))
    val log = new Path(store, Dir)
    if (fs.exists(log))
      require(fs.delete(log, true), s"could not delete the old log $log")
    writes
    val root = fs.makeQualified(new Path(store))
    def walk(dir: Path, rel: String): Seq[(String, File)] =
      fs.listStatus(dir).toSeq
        .filter(st => BucketedStore.isData(st.getPath.getName))
        .flatMap { st =>
          val name = st.getPath.getName
          if (st.isDirectory)
            walk(st.getPath, if (rel.isEmpty) name else s"$rel/$name")
          else if (rel.isEmpty) Nil
          else Seq(rel -> File(name, st.getLen, st.getModificationTime))
        }
    writeEntry(fs, new Path(log, "0"),
      Entry(walk(root, "").groupMap(_._1)(_._2), None))
  }

  /** A log entry: the live files by dir, and the tf store's
    * compacted-epoch mark. */
  private final case class Entry(files: Map[String, Seq[File]],
      mark: Option[Long])

  /** Entry `path`, or None when its write did not finish. */
  private def readEntry(fs: FileSystem, path: Path): Option[Entry] = {
    val raw = fs.open(path)
    try {
      val in = new BufferedReader(
        new InputStreamReader(new GZIPInputStream(raw), UTF_8))
      val lines = Iterator.continually(in.readLine()).takeWhile(_ != null)
        .map(_.split('\t')).toSeq
      Some(Entry(lines.filter(_.length == 4).groupMap(_(0)) {
          case Array(_, name, size, mtime) =>
            File(name, size.toLong, mtime.toLong)
        }, lines.collectFirst { case Array("mark", n) => n.toLong }))
    } catch {
      case _: EOFException | _: ZipException | _: ChecksumException => None
    } finally raw.close()
  }

  /** Create entry `path` — put-if-absent — naming its files, one
    * `dir name size mtime` line (tab-separated) per file, grouped by
    * dir, then its `mark n` line when it has a mark. */
  private def writeEntry(fs: FileSystem, path: Path, e: Entry): Unit = {
    val out = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(fs.create(path, false)), UTF_8))
    try {
      for ((dir, inDir) <- e.files.toSeq.sortBy(_._1);
          f <- inDir.sortBy(_.name))
        out.write(s"$dir\t${f.name}\t${f.size}\t${f.mtime}\n")
      e.mark.foreach(n => out.write(s"mark\t$n\n"))
    } finally out.close()
  }

  /** A version of `store`, its newest complete entry: the live `files`
    * and the `mark`; its tables, read from the entry alone, and the
    * commit of the next version. `numbers` are the entries listed when
    * it was opened. */
  final class Version private[StoreLog] (s: SparkSession, store: String,
      fs: FileSystem, numbers: Seq[Long], entry: Entry) {
    import BucketedStore.StoreWriter

    val files: Map[String, Seq[File]] = entry.files

    /** The tf store's compacted-epoch mark: the largest epoch a fold
      * compaction has absorbed. */
    val mark: Option[Long] = entry.mark

    private val root = fs.makeQualified(new Path(store))

    private def path(l: Layout): Path =
      if (l.table.isEmpty) root else new Path(root, l.table)

    /** The dirs of `l` this version holds files in, with their bucket
      * ids. */
    private def present(l: Layout): Seq[(Int, String)] =
      l.bucketCol.fold(l.dirs(Nil))(_ =>
          l.dirs(files.keys.toSeq.flatMap(l.bucketOf).sorted))
        .filter(d => files.contains(d._2))

    /** Table `l`, filtered to `keys` when given. */
    def read(l: Layout, keys: Option[Seq[Int]] = None): DataFrame =
      BucketedStore.relation(s, path(l), l.schema, l.bucketCol, keys) {
        () =>
          keys.fold(present(l))(l.dirs).collect {
            case (k, d) if files.contains(d) => (k, new Path(root, d),
              files(d).map(f => new FileStatus(f.size, false, 0, 0, f.mtime,
                new Path(root, s"$d/${f.name}"))).toArray)
          }
      }

    /** A write of `rows` (projected to `l`'s columns) into the `keys`
      * buckets of `l` ([[BucketedStore.writeBucketed]]'s layout; no
      * keys, no write), or into the unpartitioned `l` as `nFiles` files
      * sorted by its `ordCols`. With `replace`, the version's files in
      * those dirs leave the store. */
    def write(l: Layout, rows: DataFrame, keys: Seq[Int] = Nil,
        replace: Boolean = false, nFiles: Int = 1): Write = {
      val out = rows.select(l.cols.map(col): _*)
      val dirs = l.dirs(keys).map(_._2)
      new Write(l.table, if (replace) dirs else Nil, opts => {
        if (dirs.nonEmpty) l.bucketCol.fold(out.coalesce(nFiles)
            .sortWithinPartitions(l.ordCols.map(col): _*)
            .storeWrite.options(opts).mode("append")
            .parquet(path(l).toString))(c =>
          BucketedStore.writeBucketed(out, path(l).toString, "append", c,
            l.ordCols, options = opts))
        dirs
      })
    }

    /** An append of `rows` to the bucketed `l`: the buckets it touched
      * are observed on its own write job, so no job collects them and
      * no untouched dir is listed. */
    def append(l: Layout, rows: DataFrame): Write = {
      val c = l.bucketCol.get
      new Write(l.table, Nil, opts => {
        val touched = Observation()
        BucketedStore.writeBucketed(rows.select(l.cols.map(col): _*)
            .observe(touched, collect_set(col(c)).as("ks")),
          path(l).toString, "append", c, l.ordCols, options = opts)
        l.dirs(touched.get("ks").asInstanceOf[scala.collection.Seq[Int]]
          .toSeq.sorted).map(_._2)
      })
    }

    /** The `keys` buckets of `l` rewritten without the rows whose id
      * (`l`'s first column) is in `delete`; a bucket left empty leaves
      * the store. */
    def retraction(l: Layout, keys: Seq[Int], delete: DataFrame): Write =
      write(l, BucketedStore.survivors(read(l, Some(keys)), delete,
        l.cols.head, l.cols), keys, replace = true)

    /** The buckets (or the unpartitioned 0) of `l` holding more than
      * `maxFiles` files. */
    def over(l: Layout, maxFiles: Int): Seq[Int] =
      present(l).collect { case (k, d) if files(d).size > maxFiles => k }

    /** Compaction of `l`: each dir holding more than `maxFiles` files
      * rewritten through `fold` — by default DISTINCT, which also
      * reclaims a replayed append's duplicate rows — as one file per
      * bucket or, unpartitioned, as at most `maxFiles` files; None when
      * no dir is over. */
    def compaction(l: Layout, maxFiles: Int,
        fold: DataFrame => DataFrame = _.distinct()): Option[Write] = {
      val ks = over(l, maxFiles)
      Option.when(ks.nonEmpty)(write(l, fold(read(l, Some(ks))), ks,
        replace = true, nFiles = maxFiles))
    }

    /** Commit the next version: `writes` as one concurrent wave (the
      * writes into one table one after another: concurrent jobs into
      * one dir would share its committer's `_temporary`), then the
      * entry, then GC. A wave that wrote into no dir commits nothing.
      * The entry's mark is the larger of this version's and `mark`,
      * taken after the wave. */
    def commit(span: String, mark: => Option[Long] = None)(
        writes: Seq[Write]): Unit = {
      val tag = java.util.UUID.randomUUID().toString
      val opts = Map("mapreduce.output.basename" -> tag,
        "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")
      val wrote = UnifiedClusters.inParallel(
        writes.map(_.table).distinct.map(t => () =>
          writes.filter(_.table == t).flatMap(w =>
            Span(s, if (t.isEmpty) span else s"$span.$t")(w.run(opts)))))
      val replaced = writes.flatMap(_.replaced).toSet
      val dirs = (replaced.toSeq ++ wrote.flatten).distinct
      if (dirs.isEmpty) return
      val listed = dirs.map { d =>
        d -> (try Some(fs.listStatus(new Path(root, d)).toSeq
            .filter(st => st.isFile && BucketedStore.isData(st.getPath.getName))
            .map(st => File(st.getPath.getName, st.getLen,
              st.getModificationTime)))
          catch { case _: FileNotFoundException => None })
      }.toMap
      val next = files -- replaced ++ listed.map { case (d, onDisk) =>
        d -> (files.getOrElse(d, Nil).filterNot(_ => replaced(d)) ++
          onDisk.toSeq.flatten.filter(_.name.startsWith(tag + "-")))
      }.filter(_._2.nonEmpty)
      val log = new Path(root, Dir)
      writeEntry(fs, new Path(log, (numbers.last + 1).toString),
        Entry(next, (this.mark ++ mark).maxOption))
      def delete(p: Path, recursive: Boolean): Unit =
        require(fs.delete(p, recursive), s"store GC: could not delete $p")
      listed.foreach { case (d, onDisk) =>
        val keep = next.getOrElse(d, Nil).map(_.name).toSet
        onDisk.toSeq.flatten.filterNot(f => keep(f.name))
          .foreach(f => delete(new Path(root, s"$d/${f.name}"), false))
        // a bucket dir left empty goes too, as Spark's own overwrite
        // would drop it
        if (keep.isEmpty && onDisk.isDefined && d.contains('='))
          delete(new Path(root, d), true)
      }
      numbers.foreach(n => delete(new Path(log, n.toString), false))
    }
  }
}
