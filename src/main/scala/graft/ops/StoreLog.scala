package graft.ops

import java.io.{BufferedReader, BufferedWriter, EOFException,
  FileNotFoundException, InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{GZIPInputStream, GZIPOutputStream, ZipException}

import org.apache.hadoop.fs.{ChecksumException, FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.util.Span

/** The commit log of a cluster store (the MinHash store of q89/s15 and
  * the unified store of q61d/q61f/s22/s24): the contract of Structured
  * Streaming's file sink and its `_spark_metadata` log. New files land
  * under fresh names, and one put-if-absent entry is the commit point.
  *
  * `<store>/_graft_log/N` is version N: the store's whole live file
  * list, gzipped text grouped by table and bucket dir, each file with
  * its size and mtime. Paths are store-relative, so a hard-linked clone
  * ([[graft.util.Ephemeral.cloneDir]]) reads as its source. A read
  * ([[open]]) costs one listing of `_graft_log/` and one open of the
  * newest entry, whatever the table count; no table dir is listed.
  *
  * A commit ([[Version.commit]]):
  *  1. runs its writes as one concurrent wave, each a plain `append`
  *     into the live table dirs under a file-name prefix of its own
  *     (the write's `mapreduce.output.basename`);
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

  /** A table of a store: its name, its schema (DDL; the bucket column,
    * when there is one, is its last column, an INT), and the columns
    * each file is sorted by. */
  final case class Layout(table: String, schema: String,
      bucketCol: Option[String], ordCols: Seq[String]) {
    def cols: Seq[String] = StructType.fromDDL(schema).fieldNames.toSeq

    /** The store-relative dirs of `keys` (the table's own dir when it
      * has no bucket column), with their bucket ids. */
    def dirs(keys: Seq[Int]): Seq[(Int, String)] =
      bucketCol.fold(Seq(0 -> table))(c =>
        keys.distinct.map(k => k -> s"$table/$c=$k"))
  }

  /** One write of a commit into `table`: `run` writes new files, with
    * the Hadoop options it is given, into `dirs` (store-relative). With
    * `replace`, the version's files in those dirs leave the store. Its
    * jobs carry the description `<span>.<table>`. */
  final class Write private[StoreLog] (val table: String,
      val dirs: Seq[String], val replace: Boolean,
      val run: Map[String, String] => Unit)

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
      .collectFirst { case Some(files) => files }
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
    writeEntry(fs, new Path(log, "0"), walk(root, "").groupMap(_._1)(_._2))
  }

  /** Entry `path`, or None when its write did not finish. */
  private def readEntry(fs: FileSystem, path: Path)
      : Option[Map[String, Seq[File]]] = {
    val raw = fs.open(path)
    try {
      val in = new BufferedReader(
        new InputStreamReader(new GZIPInputStream(raw), UTF_8))
      Some(Iterator.continually(in.readLine()).takeWhile(_ != null).toSeq
        .map(_.split('\t')).groupMap(_(0)) {
          case Array(_, name, size, mtime) =>
            File(name, size.toLong, mtime.toLong)
        })
    } catch {
      case _: EOFException | _: ZipException | _: ChecksumException => None
    } finally raw.close()
  }

  /** Create entry `path` — put-if-absent — naming `files`, one
    * `dir name size mtime` line (tab-separated) per file, grouped by
    * dir. */
  private def writeEntry(fs: FileSystem, path: Path,
      files: Map[String, Seq[File]]): Unit = {
    val out = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(fs.create(path, false)), UTF_8))
    try for ((dir, inDir) <- files.toSeq.sortBy(_._1);
        f <- inDir.sortBy(_.name))
      out.write(s"$dir\t${f.name}\t${f.size}\t${f.mtime}\n")
    finally out.close()
  }

  /** A version of `store`, the live `files` of its newest complete
    * entry: its tables, read from the entry alone, and the commit of the
    * next version. `numbers` are the entries listed when it was
    * opened. */
  final class Version private[StoreLog] (s: SparkSession, store: String,
      fs: FileSystem, numbers: Seq[Long], val files: Map[String, Seq[File]]) {
    import BucketedStore.StoreWriter

    private val root = fs.makeQualified(new Path(store))

    /** The dirs of `l` this version holds files in, with their bucket
      * ids. */
    private def present(l: Layout): Seq[(Int, String)] =
      l.bucketCol.fold(l.dirs(Nil))(c => l.dirs(files.keys.toSeq
          .flatMap(_.stripPrefix(s"${l.table}/$c=").toIntOption).sorted))
        .filter(d => files.contains(d._2))

    /** Table `l`, filtered to `keys` when given. */
    def read(l: Layout, keys: Option[Seq[Int]] = None): DataFrame =
      BucketedStore.relation(s, new Path(root, l.table), l.schema,
          l.bucketCol, keys) { () =>
        keys.fold(present(l))(l.dirs).collect {
          case (k, d) if files.contains(d) => (k, new Path(root, d),
            files(d).map(f => new FileStatus(f.size, false, 0, 0, f.mtime,
              new Path(root, s"$d/${f.name}"))).toArray)
        }
      }

    /** A write of `rows` (projected to `l`'s columns) into the `keys`
      * buckets of `l` ([[BucketedStore.writeBucketed]]'s layout), or into
      * the unpartitioned `l` as `nFiles` files sorted by its `ordCols`. */
    def write(l: Layout, rows: DataFrame, keys: Seq[Int] = Nil,
        replace: Boolean = false, nFiles: Int = 1): Write = {
      val out = rows.select(l.cols.map(col): _*)
      new Write(l.table, l.dirs(keys).map(_._2), replace, opts =>
        l.bucketCol.fold(out.coalesce(nFiles)
            .sortWithinPartitions(l.ordCols.map(col): _*)
            .storeWrite.options(opts).mode("append")
            .parquet(s"$store/${l.table}"))(c =>
          BucketedStore.writeBucketed(out, s"$store/${l.table}", "append",
            c, l.ordCols, options = opts)))
    }

    /** The `keys` buckets of `l` rewritten without the rows whose id
      * (`l`'s first column) is in `delete`; a bucket left empty leaves
      * the store. */
    def retraction(l: Layout, keys: Seq[Int], delete: DataFrame): Write =
      write(l, BucketedStore.survivors(read(l, Some(keys)), delete,
        l.cols.head, l.cols), keys, replace = true)

    /** Compaction of `l`: each dir holding more than `maxFiles` files
      * rewritten DISTINCT (which also reclaims a replayed append's
      * duplicate rows), as one file per bucket or, unpartitioned, as at
      * most `maxFiles` files; None when no dir is over. */
    def compaction(l: Layout, maxFiles: Int): Option[Write] = {
      val over = present(l).collect {
        case (k, d) if files(d).size > maxFiles => k }
      Option.when(over.nonEmpty)(write(l, read(l, Some(over)).distinct(),
        over, replace = true, nFiles = maxFiles))
    }

    /** Commit the next version: `writes` (those with no dir skipped)
      * as one concurrent wave, then the entry, then GC. */
    def commit(span: String)(writes: Seq[Write]): Unit = {
      val todo = writes.filter(_.dirs.nonEmpty)
      if (todo.isEmpty) return
      val tag = java.util.UUID.randomUUID().toString
      val opts = Map("mapreduce.output.basename" -> tag,
        "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")
      UnifiedClusters.inParallel(todo.map(w =>
        () => Span(s, s"$span.${w.table}")(w.run(opts))))
      val listed = todo.flatMap(_.dirs).distinct.map { d =>
        d -> (try Some(fs.listStatus(new Path(root, d)).toSeq
            .filter(st => st.isFile && BucketedStore.isData(st.getPath.getName))
            .map(st => File(st.getPath.getName, st.getLen,
              st.getModificationTime)))
          catch { case _: FileNotFoundException => None })
      }.toMap
      val replaced = todo.filter(_.replace).flatMap(_.dirs).toSet
      val next = files -- replaced ++ listed.map { case (d, onDisk) =>
        d -> (files.getOrElse(d, Nil).filterNot(_ => replaced(d)) ++
          onDisk.toSeq.flatten.filter(_.name.startsWith(tag + "-")))
      }.filter(_._2.nonEmpty)
      val log = new Path(root, Dir)
      writeEntry(fs, new Path(log, (numbers.last + 1).toString), next)
      def delete(p: Path, recursive: Boolean): Unit =
        require(fs.delete(p, recursive), s"store GC: could not delete $p")
      listed.foreach { case (d, onDisk) =>
        val keep = next.getOrElse(d, Nil).map(_.name).toSet
        onDisk.toSeq.flatten.filterNot(f => keep(f.name))
          .foreach(f => delete(new Path(root, s"$d/${f.name}"), false))
        // a bucket dir left empty goes too, as Spark's own overwrite
        // would drop it
        if (keep.isEmpty && onDisk.isDefined && d.contains('/'))
          delete(new Path(root, d), true)
      }
      numbers.foreach(n => delete(new Path(log, n.toString), false))
    }
  }
}
