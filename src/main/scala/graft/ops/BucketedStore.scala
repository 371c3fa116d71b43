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

import graft.util.{NioLocalFileSystem, Span}

/** The lifecycle of the engine's parquet stores, one definition each:
  * the bucketed write, the schema'd read, compaction, the
  * touched-bucket retraction rewrite, the unpartitioned rename swap,
  * and the cluster stores' label commit with its torn marker.
  *
  * All store I/O goes through the Hadoop FileSystem API resolved from
  * the store path's own scheme: the stores live on HDFS/S3 at the
  * claimed scale, where a local-filesystem listing would silently see
  * nothing. Listings are bounded and run on the driver, for writes
  * and reads alike: one `listStatus` of the table dir (at most 64
  * bucket dirs), plus one per bucket a pass touches. A read
  * ([[table]]) lists every bucket dir it reads — a pruned read only
  * its keys' dirs — and starts no Spark listing job. */
object BucketedStore {

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

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

  /** The schema Spark recorded in one parquet footer of `dir` (its row
    * metadata), plus `partition` when the table is partitioned; None
    * when `dir` is absent or holds no file Spark wrote. Read on the
    * driver, so a store read starts no schema-inference job. */
  private def schemaOf(s: SparkSession, dir: Path,
      partition: Option[StructField]): Option[StructType] = {
    val conf = s.sparkContext.hadoopConfiguration
    val fs = fsOf(s, dir)
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
    * included). */
  private[graft] def reader(s: SparkSession, dir: Path,
      partition: Option[StructField]): DataFrameReader =
    schemaOf(s, dir, partition).fold(s.read)(s.read.schema(_))

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

  /** The one reader of a hash-bucketed table: `schema` (DDL, its last
    * column the INT `bucketCol`) over the `bucketCol=N` dirs under
    * `path`, LISTED ON THE DRIVER — one `listStatus` of `path` plus one
    * per bucket dir. With `keys`, only those keys' dirs are listed
    * (no listing of `path`) and the frame is filtered to them, so the
    * scan keeps its partition filter; empty `keys` read nothing.
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
    if (!fs.exists(root)) return s.read.schema(schema).parquet(path)
    val full = StructType.fromDDL(schema)
    require(full.last.name == bucketCol &&
      full.last.dataType == IntegerType,
      s"bucketed table $path: the last column of '$schema' must be the " +
        s"INT bucket column $bucketCol")
    val index = new BucketIndex(s, fs.makeQualified(root), bucketCol, keys)
    val df = s.baseRelationToDataFrame(HadoopFsRelation(index,
      StructType(Seq(full.last)), StructType(full.init), None,
      new ParquetFileFormat, Map.empty)(s))
    keys.fold(df)(ks =>
      if (ks.isEmpty) df.limit(0) else df.filter(col(bucketCol).isin(ks: _*)))
  }

  /** [[table]]'s file index: the bucket dirs of `root` (or only the
    * `keys` dirs) and their data files, listed on the driver when built
    * and on every `refresh()`. */
  private final class BucketIndex(s: SparkSession, root: Path,
      bucketCol: String, keys: Option[Seq[Int]])
      extends PartitioningAwareFileIndex(s, Map.empty, None) {
    @volatile private var listed = list()

    private def list(): (PartitionSpec, Map[Path, Array[FileStatus]],
        mutable.LinkedHashMap[Path, FileStatus]) = {
      val fs = root.getFileSystem(hadoopConf)
      val dirs = keys.fold(bucketDirs(fs, root, bucketCol))(
        _.distinct.map(k => (k, new Path(root, s"$bucketCol=$k"))))
      val files = dirs.flatMap { case (k, dir) =>
        val data =
          try fs.listStatus(dir)
            .filter(f => f.isFile && isData(f.getPath.getName))
          catch {
            case _: java.io.FileNotFoundException => Array.empty[FileStatus]
          }
        Option.when(data.nonEmpty)((k, dir, data))
      }
      (PartitionSpec(StructType(Seq(StructField(bucketCol, IntegerType))),
        files.map { case (k, dir, _) => PartitionPath(InternalRow(k), dir) }),
        files.map { case (_, dir, data) => dir -> data }.toMap,
        mutable.LinkedHashMap.from(
          files.flatMap(_._3).map(f => f.getPath -> f)))
    }

    private def isData(name: String): Boolean =
      !name.startsWith("_") && !name.startsWith(".") &&
        !name.endsWith("._COPYING_")

    override def rootPaths: Seq[Path] = Seq(root)
    override def partitionSpec(): PartitionSpec = listed._1
    override protected def leafDirToChildrenFiles
        : Map[Path, Array[FileStatus]] = listed._2
    override protected def leafFiles
        : mutable.LinkedHashMap[Path, FileStatus] = listed._3
    override def refresh(): Unit = listed = list()
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
    * replaces only the buckets `rows` holds and leaves the rest. */
  private[graft] def writeBucketed(rows: DataFrame, path: String,
      mode: String, bucketCol: String, ordCols: Seq[String],
      dynamicOverwrite: Boolean = false): Unit = {
    val w = rows.repartition(col(bucketCol))
      .sortWithinPartitions((bucketCol +: ordCols).map(col): _*)
      .storeWrite.mode(mode)
    (if (dynamicOverwrite) w.option("partitionOverwriteMode", "dynamic")
     else w).partitionBy(bucketCol).parquet(path)
  }

  /** Compaction of a hash-bucket-partitioned store: enumerate bucket
    * dirs DRIVER-SIDE (bounded listing, no scan), read ONLY the
    * buckets holding more than `maxFilesPerBucket` parquet files
    * (partition-pruned, schema from one of their footers), rewrite
    * each as one sorted file via a sibling temp dir (Spark refuses a
    * read-and-overwrite of the same path), and swap with dynamic
    * partition overwrite so healthy buckets' files stay untouched.
    * The bucket column must be INT. Returns the compacted bucket ids.
    *
    * `fold` is the per-bucket rewrite: DISTINCT over `projection` by
    * default (idempotent-fact stores: hashes, band rows — it also
    * reclaims an at-least-once replayed append's duplicate rows); the
    * tf store passes a SUM fold because its delta rows compact by
    * addition, not dedup. */
  private[graft] def compactBuckets(s: SparkSession, store: String,
      partCol: String, projection: Seq[Column], ordCols: Seq[String],
      maxFilesPerBucket: Int,
      fold: Option[DataFrame => DataFrame] = None): Seq[Int] = {
    val root = new Path(store)
    val fs = fsOf(s, root)
    val over = bucketDirs(fs, root, partCol)
      .filter { case (_, dir) =>
        parquetFiles(fs, dir).size > maxFilesPerBucket }
      .sortBy(_._1)
    if (over.isEmpty) return Seq.empty
    val tmp = store + "_compacting"
    val schema = schemaOf(s, over.head._2,
        Some(StructField(partCol, IntegerType)))
      .getOrElse(sys.error(s"compaction: no Spark footer in ${over.head._2}"))
    val pruned = table(s, store, schema.toDDL, partCol, Some(over.map(_._1)))
    val compacted = fold.fold(
      pruned.select(projection :+ col(partCol): _*).distinct())(
      f => f(pruned))
    writeBucketed(compacted, tmp, "overwrite", partCol, ordCols)
    // read back with the written frame's schema: no inference job
    table(s, tmp, compacted.schema.toDDL, partCol)
      .storeWrite.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(store)
    // temp dir is scratch; best-effort recursive cleanup
    try fs.delete(new Path(tmp), true)
    catch { case _: java.io.IOException => () }
    over.map(_._1)
  }

  /** Compaction of an UNPARTITIONED parquet table that gains one
    * file-set per append (the cluster stores' edge tables): when it
    * holds more than `maxFiles` parquet files, rewrite it DISTINCT
    * (idempotent; reclaims replayed appends) through
    * [[replaceUnpartitioned]]. */
  private[graft] def compactUnpartitioned(s: SparkSession, dir: String,
      maxFiles: Int): Unit = {
    val live = new Path(dir)
    val fs = fsOf(s, live)
    if (fs.exists(live) && parquetFiles(fs, live).size > maxFiles)
      replaceUnpartitioned(s, dir,
        reader(s, live, None).parquet(dir).distinct(), maxFiles)
  }

  /** Replace an unpartitioned table with `rows` (which may read the
    * table itself) as at most `nFiles` files (coalesce, no shuffle),
    * each sorted by all of its columns so its bytes do not depend on
    * the order the scan met its rows in: write them to a sibling temp
    * dir, then swap by RENAME. Both copies exist on disk at every
    * instant; the worst crash leaves the live path briefly absent —
    * which the cluster stores' existence checks fail fast on — with
    * the previous table intact at `<dir>_old` for manual recovery. */
  private[graft] def replaceUnpartitioned(s: SparkSession, dir: String,
      rows: DataFrame, nFiles: Int): Unit = {
    val live = new Path(dir)
    val fs = fsOf(s, live)
    val tmp = new Path(s"${dir}_replacing")
    rows.coalesce(nFiles).sortWithinPartitions(rows.columns.map(col): _*)
      .storeWrite.mode("overwrite").parquet(tmp.toString)
    val old = new Path(s"${dir}_old")
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(live, old), s"could not move $live aside")
    require(fs.rename(tmp, live),
      s"could not move $tmp into place — previous table preserved at $old")
    try fs.delete(old, true)
    catch { case _: java.io.IOException => () }
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
      table(s, path, schema, bucketCol, Some(keys))
        .join(delete.toDF(idCol), Seq(idCol), "left_anti")
        .select((projCols :+ bucketCol).map(col): _*),
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
    * replay-idempotence requires treating them as done. Best-effort
    * try/ignore remains appropriate only for `_old`/staging cleanup,
    * where a leftover dir is garbage, not a correctness hazard. */
  private def deleteEmptiedBucket(fs: FileSystem, path: Path): Unit =
    if (fs.exists(path))
      require(fs.delete(path, true),
        s"retraction: could not delete emptied bucket $path — a ghost " +
          "bucket would keep serving retracted rows")

  private val StagingDir = "clusters_staging"

  /** The cluster stores' crashed-commit marker: [[commitLabels]]
    * writes the `clusters_staging` dir before the edges change and
    * deletes it after the label swap, so a clean store never carries
    * it and every torn window does. Clean commits therefore pay one FS
    * existence probe instead of any O(edges) invariant work. */
  private[graft] def tornMarker(s: SparkSession, store: String): Boolean = {
    val p = new Path(s"$store/$StagingDir")
    fsOf(s, p).exists(p)
  }

  /** A live label bucket moved aside by [[swapStagedBuckets]], as
    * `_aside_N`: hidden from every reader. [[table]] lists only `kb=`
    * dirs, and Spark's listing skips a `_` name unless it holds a `=`
    * (a partition dir). */
  private val AsidePrefix = "_aside_"

  /** Swap the staging dir's `kb=N` dirs into the live label table by
    * two RENAMES each: the live dir aside to `_aside_N`, the staged
    * dir in, then the aside dir deleted — metadata only, no data bytes
    * move on a rename-capable filesystem. Every bucket's labels stay on
    * disk under a live or an aside name at every instant. Returns the
    * staged bucket ids (partitionBy writes no dir for an empty
    * bucket). */
  private def swapStagedBuckets(fs: FileSystem, staged: Path,
      live: Path): Seq[Int] =
    bucketDirs(fs, staged, "kb").map { case (k, dir) =>
      val target = new Path(live, dir.getName)
      val aside = new Path(live, s"$AsidePrefix$k")
      val replaced = fs.exists(target)
      if (replaced)
        require(fs.rename(target, aside),
          s"bucket swap: could not move $target aside")
      require(fs.rename(dir, target),
        s"bucket swap: could not move $dir into place")
      if (replaced)
        require(fs.delete(aside, true),
          s"bucket swap: could not delete $aside")
      k
    }

  /** Delete the aside dirs a crashed [[swapStagedBuckets]] left in
    * `live`, before a swap reuses their names. */
  private def deleteAsideDirs(fs: FileSystem, live: Path): Unit =
    if (fs.exists(live))
      fs.listStatus(live)
        .filter(_.getPath.getName.startsWith(AsidePrefix))
        .foreach(st => require(fs.delete(st.getPath, true),
          s"bucket swap: could not delete leftover ${st.getPath}"))

  /** The label commit of the cluster stores (the MinHash store's
    * update, the unified store's update and retraction). `staged` are
    * the new label rows of the `keys` buckets of `store/clusters`
    * (kb = pmod(doc_id, 64)); `torn` is [[tornMarker]] as read ONCE,
    * before this commit's staging write — the staging dir IS the
    * marker, so a later read would call every commit torn. Steps, in
    * order:
    *  1. the label staging write and the caller's `writes` (index
    *     appends or rewrites) as ONE concurrent wave
    *     (`<span>.stage_and_writes`). The writes are mutually
    *     independent (disjoint paths, pre-materialized inputs);
    *  2. the caller's `edges` write (`<span>.edges`);
    *  3. the label swap (`<span>.label_swap`): each staged bucket dir
    *     replaces its live dir by two renames ([[swapStagedBuckets]]),
    *     and every key the swap did not bring back is deleted — a
    *     bucket whose docs all left the label table. Then one
    *     `refreshByPath`; DataFrames created
    *     before the swap still hold the pre-swap file listing (Spark's
    *     snapshot semantics), so collect them first or re-create them;
    *  4. the marker is deleted — unconditionally: a commit that staged
    *     nothing still certifies the store, because its relabel ran
    *     against the marker it read.
    *
    * When `torn`, `staged` must be the WHOLE label set, CC(edges)
    * (the heals of [[Dedup.relabelAgainst]] and of the retraction),
    * and the keys are every live bucket plus the staged ones: a bucket
    * the crashed commit should have emptied (a retracted doc's label)
    * is deleted rather than left as a ghost. A torn commit first
    * deletes any aside dir a crashed swap left behind.
    *
    * Crash posture. The steps are not atomic; the marker makes every
    * crash window visible. It exists from step 1 to step 4 whenever
    * step 2, the only step that can break labels = CC(edges), changes
    * the edge set: a changed edge touches a component, and a touched
    * component stages its label buckets. A crash inside
    * step 1 can leave index rows changed with no marker; index rows are
    * idempotent facts that cannot break that invariant: the batch's
    * docs are band-discoverable but unclustered (update) or edge-visible
    * but not band-discoverable (retraction) until the same batch is
    * replayed. Indices change before edges, so a crash can never
    * persist an edge whose doc no future batch can band-match. A crash
    * in steps 2-4 leaves the marker beside stale or mixed-generation
    * label buckets. A crash between a bucket's two renames leaves its
    * live dir absent and its previous labels in an aside dir that no
    * reader sees; a swap runs only after the staging write that
    * created the marker, so an aside dir never outlives its marker.
    * Read-backs refuse a marked store, and the next completed update
    * (any batch, empty included) or retraction deletes the aside dirs
    * and rebuilds the whole label set as CC(edges). What a crash
    * can lose is the un-written tail of its own batch (its edges, or
    * its index rows and edges): replaying the same batch restores them
    * byte-identically (the at-least-once posture of the `foreachBatch`
    * callers; replayed appends anti-join away, and compaction's
    * DISTINCT reclaims duplicate index rows). */
  private[graft] def commitLabels(s: SparkSession, store: String,
      torn: Boolean, staged: DataFrame, keys: Seq[Int], span: String)(
      writes: Seq[() => Unit])(edges: => Unit): Unit = {
    val tmp = new Path(s"$store/$StagingDir")
    val live = new Path(s"$store/clusters")
    val fs = fsOf(s, tmp)
    Span(s, s"$span.stage_and_writes")(UnifiedClusters.inParallel(
      (() => if (keys.nonEmpty) writeBucketed(staged, tmp.toString,
        "overwrite", "kb", Seq("cluster_id", "doc_id"))) +: writes))
    Span(s, s"$span.edges")(edges)
    val all =
      if (torn) {
        deleteAsideDirs(fs, live)
        (keys ++ bucketDirs(fs, live, "kb").map(_._1)).distinct
      } else keys
    if (all.nonEmpty) Span(s, s"$span.label_swap") {
      // with no keys nothing was staged: a crashed commit's leftovers
      // in the marker dir must not be swapped in
      val survived =
        if (keys.isEmpty) Set.empty[Int]
        else swapStagedBuckets(fs, tmp, live).toSet
      all.filterNot(survived).foreach(k =>
        deleteEmptiedBucket(fs, new Path(live, s"kb=$k")))
      s.catalog.refreshByPath(store)
    }
    try fs.delete(tmp, true)
    catch { case _: java.io.IOException => () }
  }
}
