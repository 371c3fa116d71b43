package graft.ops

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader,
  DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  PartitionPath, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructField,
  StructType}

import graft.util.NioLocalFileSystem

/** The lifecycle of the engine's parquet stores, one definition each:
  * the bucketed write, the schema'd read, compaction and the
  * touched-bucket retraction rewrite. Every bucketed store but the IVF
  * cells commits through its log instead ([[StoreLog]]) and shares the
  * write and the relation here; the listing-path ops ([[table]],
  * [[compactBuckets]], [[retractBucketRewrite]]) serve the IVF cell
  * stores alone.
  *
  * All store I/O goes through the Hadoop FileSystem API resolved from
  * the store path's own scheme: the stores live on HDFS/S3 at the
  * claimed scale, where a local-filesystem listing would silently see
  * nothing. Every operation builds its driver-side `FileSystem` once,
  * from [[NioLocalFileSystem.conf]], so one class sees every store
  * mutation. Listings are bounded and run on the driver, for writes
  * and reads alike: one `listStatus` of the table dir (at most 64
  * bucket dirs), plus one per bucket a pass touches. A read
  * ([[table]]) lists every bucket dir it reads — a pruned read only
  * its keys' dirs — and starts no Spark listing job. */
object BucketedStore {

  private[ops] def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(
      NioLocalFileSystem.conf(s.sparkContext.hadoopConfiguration))

  /** The ids of the `bucketCol=N` dirs directly under `dir` (none when
    * `dir` is absent), with each dir's path. */
  private def bucketDirs(fs: FileSystem, dir: Path, bucketCol: String)
      : Seq[(Int, Path)] =
    (if (fs.exists(dir)) fs.listStatus(dir).toSeq else Seq.empty)
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(bucketCol + "="))
      .map(st => (st.getPath.getName.stripPrefix(bucketCol + "=").toInt,
        st.getPath))

  private def parquetFiles(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)

  /** A name Spark's file listing reads as data: neither hidden (`_`,
    * `.`) nor a copy in flight. */
  private[ops] def isData(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".") &&
      !name.endsWith("._COPYING_")

  /** The listing-path ops refuse the tables of a store with a commit
    * log, in the table's own dir or its parent's: an unlogged write
    * there would be invisible to its readers, or delete files its log
    * still names. */
  private def requireUnlogged(fs: FileSystem, table: Path): Unit =
    require(Seq(table, table.getParent)
        .forall(d => !fs.exists(new Path(d, StoreLog.Dir))),
      s"$table belongs to a store with a commit log " +
        s"(${StoreLog.Dir}): read and write it through the log")

  /** The schema Spark recorded in one parquet footer of `dir` (its row
    * metadata), plus `partition` when the table is partitioned; None
    * when `dir` is absent or holds no file Spark wrote. Read on the
    * driver, so a store read starts no schema-inference job. */
  private def schemaOf(s: SparkSession, fs: FileSystem, dir: Path,
      partition: Option[StructField]): Option[StructType] = {
    val conf = s.sparkContext.hadoopConfiguration
    (if (fs.exists(dir)) parquetFiles(fs, dir) else Nil).headOption
      .flatMap { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        finally reader.close()
      }
      .map { json =>
        val data = DataType.fromJson(json).asInstanceOf[StructType]
        partition.fold(data)(data.add)
      }
  }

  /** A reader carrying the schema of [[schemaOf]] `dir`; without one,
    * Spark's own schema inference (and its errors, a missing path's
    * included). It only reads, so it probes through the session's own
    * cached filesystem. */
  private[graft] def reader(s: SparkSession, dir: Path,
      partition: Option[StructField]): DataFrameReader =
    schemaOf(s, dir.getFileSystem(s.sparkContext.hadoopConfiguration), dir,
      partition).fold(s.read)(s.read.schema(_))

  /** The one writer of every parquet store, `rows.storeWrite`:
    * `rows.write` with the per-write Hadoop options of
    * [[NioLocalFileSystem]], so a `file:` store sets the permissions of
    * the files and dirs it creates in-process instead of forking
    * `chmod` for each. Other schemes are untouched. */
  private[graft] implicit final class StoreWriter(private val rows: DataFrame)
      extends AnyVal {
    def storeWrite: DataFrameWriter[Row] =
      rows.write.options(NioLocalFileSystem.writeOptions)
  }

  /** The listing reader of an unlogged hash-bucketed table (the IVF
    * cells, through [[compactBuckets]] and [[retractBucketRewrite]]):
    * `schema` (DDL, its last column the INT `bucketCol`) over the
    * `bucketCol=N` dirs under `path`, LISTED ON THE DRIVER — one
    * `listStatus` of `path` plus one per bucket dir. With `keys`, only
    * those keys' dirs are listed (no listing of `path`) and the frame
    * is filtered to them, so the scan keeps its partition filter; empty
    * `keys` read nothing.
    *
    * Why not `s.read.schema(..).parquet(..)`: Spark lists a table of
    * more than `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (32) dirs with a parallel listing job, one task per bucket dir —
    * a scheduler round per read for a few KB of files, and that
    * threshold is a session-wide setting. Rows are the same: only
    * files whose names start with neither `_` nor `.` are read (so
    * `_SUCCESS`, `.crc` files and `_temporary` are skipped), an
    * all-emptied table reads as empty, and an absent `path` fails as
    * Spark's reader does. Snapshot semantics are Spark's too: the frame
    * keeps the listing it was created with; a frame created after a
    * write sees the write. A `refresh()` of the index (a
    * `refreshByPath` over a cached plan) lists again, on the driver. */
  private[graft] def table(s: SparkSession, path: String, schema: String,
      bucketCol: String, keys: Option[Seq[Int]] = None): DataFrame = {
    val root = new Path(path)
    val fs = fsOf(s, root)
    requireUnlogged(fs, root)
    if (!fs.exists(root)) return s.read.schema(schema).parquet(path)
    val qualified = fs.makeQualified(root)
    relation(s, qualified, schema, Some(bucketCol), keys) { () =>
      keys.fold(bucketDirs(fs, qualified, bucketCol))(
        _.distinct.map(k => (k, new Path(qualified, s"$bucketCol=$k"))))
        .flatMap { case (k, dir) =>
          val data =
            try fs.listStatus(dir).filter(f => f.isFile &&
              isData(f.getPath.getName))
            catch {
              case _: java.io.FileNotFoundException => Array.empty[FileStatus]
            }
          Option.when(data.nonEmpty)((k, dir, data))
        }
    }
  }

  /** A parquet table over the files `files` gives — (bucket, dir, data
    * files) per non-empty bucket dir of `root`, or one (_, `root`,
    * files) entry without `bucketCol` — read under `schema` (DDL; with
    * `bucketCol`, its last column is that INT partition column) and
    * filtered to `keys` when given. `files` runs when the frame is
    * built and on every `refresh()`. */
  private[ops] def relation(s: SparkSession, root: Path, schema: String,
      bucketCol: Option[String], keys: Option[Seq[Int]])(
      files: () => Seq[(Int, Path, Array[FileStatus])]): DataFrame = {
    val full = StructType.fromDDL(schema)
    bucketCol.foreach(c => require(full.last.name == c &&
      full.last.dataType == IntegerType,
      s"bucketed table $root: the last column of '$schema' must be the " +
        s"INT bucket column $c"))
    val partition = StructType(bucketCol.map(_ => full.last).toSeq)
    val df = s.baseRelationToDataFrame(HadoopFsRelation(
      new BucketIndex(s, root, bucketCol, files), partition,
      StructType(full.filterNot(partition.contains)), None,
      new ParquetFileFormat, Map.empty)(s))
    (bucketCol, keys) match {
      case (Some(c), Some(ks)) =>
        if (ks.isEmpty) df.limit(0) else df.filter(col(c).isin(ks: _*))
      case _ => df
    }
  }

  /** [[relation]]'s file index. */
  private final class BucketIndex(s: SparkSession, root: Path,
      bucketCol: Option[String],
      files: () => Seq[(Int, Path, Array[FileStatus])])
      extends PartitioningAwareFileIndex(s, Map.empty, None) {
    @volatile private var listed = index()

    private def index(): (PartitionSpec, Map[Path, Array[FileStatus]],
        mutable.LinkedHashMap[Path, FileStatus]) = {
      val dirs = files()
      (bucketCol.fold(PartitionSpec.emptySpec)(c =>
        PartitionSpec(StructType(Seq(StructField(c, IntegerType))),
          dirs.map { case (k, dir, _) => PartitionPath(InternalRow(k), dir) })),
        dirs.map { case (_, dir, data) => dir -> data }.toMap,
        mutable.LinkedHashMap.from(
          dirs.flatMap(_._3).map(f => f.getPath -> f)))
    }

    override def rootPaths: Seq[Path] = Seq(root)
    override def partitionSpec(): PartitionSpec = listed._1
    override protected def leafDirToChildrenFiles
        : Map[Path, Array[FileStatus]] = listed._2
    override protected def leafFiles
        : mutable.LinkedHashMap[Path, FileStatus] = listed._3
    override def refresh(): Unit = listed = index()
  }

  /** The one write of every bucketed store: `rows` land under `path`
    * partitioned by `bucketCol`, each bucket file sorted by
    * (`bucketCol` +: `ordCols`) so parquet row-group stats serve point
    * probes. Invariant: each call adds at most ONE file per bucket
    * dir. Hash-partitioning on the bucket column sends all of a
    * bucket's rows to one task, which writes them as one file; without
    * the shuffle every upstream task appends to every bucket dir
    * (width x buckets small files per write, compounding per append).
    * The shuffle takes no partition count, so AQE sizes the write to
    * its data: coalescing only merges whole hash partitions, so a
    * bucket never splits across tasks at any width (a fixed 64 paid 64
    * tasks for a 40-row micro-batch append). `dynamicOverwrite`
    * replaces only the buckets `rows` holds and leaves the rest;
    * `options` are further per-write Hadoop options (a logged
    * commit's file-name prefix). */
  private[graft] def writeBucketed(rows: DataFrame, path: String,
      mode: String, bucketCol: String, ordCols: Seq[String],
      dynamicOverwrite: Boolean = false,
      options: Map[String, String] = Map.empty): Unit = {
    val w = rows.repartition(col(bucketCol))
      .sortWithinPartitions((bucketCol +: ordCols).map(col): _*)
      .storeWrite.options(options).mode(mode)
    (if (dynamicOverwrite) w.option("partitionOverwriteMode", "dynamic")
     else w).partitionBy(bucketCol).parquet(path)
  }

  /** The rows of `rows` whose `idCol` is not in `delete` (a one-column
    * frame of ids), projected to `cols`: a retraction's survivors. */
  private[ops] def survivors(rows: DataFrame, delete: DataFrame,
      idCol: String, cols: Seq[String]): DataFrame =
    rows.join(delete.toDF(idCol), Seq(idCol), "left_anti")
      .select(cols.map(col): _*)

  /** Compaction of a hash-bucket-partitioned store: enumerate bucket
    * dirs DRIVER-SIDE (bounded listing, no scan), read ONLY the
    * buckets holding more than `maxFilesPerBucket` parquet files
    * (partition-pruned, schema from one of their footers), rewrite
    * each as one sorted file, DISTINCT over `projection` (which also
    * reclaims an at-least-once replayed append's duplicate rows), via a
    * sibling temp dir (Spark refuses a read-and-overwrite of the same
    * path), and swap with dynamic partition overwrite so healthy
    * buckets' files stay untouched. The temp dir is deleted after the
    * swap, and a failed delete fails the pass, naming the dir. The
    * bucket column must be INT. Returns the compacted bucket ids. */
  private[graft] def compactBuckets(s: SparkSession, store: String,
      partCol: String, projection: Seq[Column], ordCols: Seq[String],
      maxFilesPerBucket: Int): Seq[Int] = {
    val root = new Path(store)
    val fs = fsOf(s, root)
    requireUnlogged(fs, root)
    val over = bucketDirs(fs, root, partCol)
      .filter { case (_, dir) =>
        parquetFiles(fs, dir).size > maxFilesPerBucket }
      .sortBy(_._1)
    if (over.isEmpty) return Seq.empty
    val tmp = store + "_compacting"
    val schema = schemaOf(s, fs, over.head._2,
        Some(StructField(partCol, IntegerType)))
      .getOrElse(sys.error(s"compaction: no Spark footer in ${over.head._2}"))
    val pruned = table(s, store, schema.toDDL, partCol, Some(over.map(_._1)))
    val compacted = pruned.select(projection :+ col(partCol): _*).distinct()
    writeBucketed(compacted, tmp, "overwrite", partCol, ordCols)
    // read back with the written frame's schema: no inference job
    table(s, tmp, compacted.schema.toDDL, partCol)
      .storeWrite.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(store)
    require(fs.delete(new Path(tmp), true),
      s"compaction: could not delete the temp dir $tmp")
    over.map(_._1)
  }

  /** Touched-bucket rewrite for a retraction: the `keys` buckets of
    * the table at `path` (read as [[table]] under `schema`, listing
    * only those buckets) keep the rows whose `idCol` is not in
    * `delete` (a one-column frame of ids), projected to `projCols` plus
    * `bucketCol` and written back sorted by `ordCols` with dynamic
    * partition overwrite; every touched bucket the rewrite emptied is
    * deleted explicitly — dynamic overwrite cannot remove a partition
    * it writes no rows for, and a ghost bucket would keep serving
    * deleted rows. No keys, no work: the table is not even listed. */
  private[graft] def retractBucketRewrite(s: SparkSession, path: String,
      schema: String, bucketCol: String, keys: Seq[Int],
      delete: DataFrame, idCol: String, projCols: Seq[String],
      ordCols: Seq[String]): Unit = {
    if (keys.isEmpty) return
    // surviving buckets via the materialization's own observe (round
    // 17, materializeWithKeys) — one job instead of two per rewrite
    val (rewritten, survivedKeys) = Dedup.materializeWithKeys(
      survivors(table(s, path, schema, bucketCol, Some(keys)), delete,
        idCol, projCols :+ bucketCol),
      bucketCol)
    val survived = survivedKeys.toSet
    if (survived.nonEmpty)
      writeBucketed(rewritten, path, "overwrite", bucketCol, ordCols,
        dynamicOverwrite = true)
    val fs = fsOf(s, new Path(path))
    keys.filterNot(survived).foreach(k =>
      deleteEmptiedBucket(fs, new Path(s"$path/$bucketCol=$k")))
    s.catalog.refreshByPath(path)
  }

  /** Delete an EMPTIED live bucket's directory, failing LOUDLY when
    * the delete itself fails (ADVICE r16: `fs.delete` returning false
    * — or throwing — used to be swallowed here, and a silently-failed
    * delete leaves a ghost bucket serving retracted rows; on a
    * right-to-be-forgotten path that failure must surface, not
    * vanish). An already-absent directory IS success: a replayed
    * retraction re-names buckets its first delivery removed, and
    * replay-idempotence requires treating them as done. */
  private def deleteEmptiedBucket(fs: FileSystem, path: Path): Unit =
    if (fs.exists(path))
      require(fs.delete(path, true),
        s"retraction: could not delete emptied bucket $path — a ghost " +
          "bucket would keep serving retracted rows")
}
