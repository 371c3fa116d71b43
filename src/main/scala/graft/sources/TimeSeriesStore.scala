package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructField}

import graft.ops.BucketedStore
import graft.ops.BucketedStore.StoreWriter

/** The engine's time-series store — the InfluxDB replacement
  * (SURVEY.md §1.4): a day-partitioned parquet table keyed by the
  * reference's 03:00Z-anchored day (rg.py:61-68).
  *
  * Why this layout at 100 TB:
  *  - `day=` hive partitions -> time-range queries become partition
  *    PRUNING (directories never listed), the same win the reference
  *    gets from InfluxDB's time index.
  *  - append-only daily partitions match the ingest cadence (one cron
  *    batch/day, rg.py:43-50); idempotent re-runs overwrite a single
  *    partition, the InfluxDB point-identity-overwrite analog (O-37).
  *  - files within a partition stay row-group-sized via the writer's
  *    repartition, so executors get balanced splits.
  */
object TimeSeriesStore {

  private def anchoredDay(c: org.apache.spark.sql.Column) =
    to_date(date_trunc("DAY", c - expr("INTERVAL 3 HOURS")))

  /** Append points (any frame with a `ts` column) partitioned by day;
    * returns the number of rows written. `dynamic` overwrite mode
    * (a per-write option, so the session's own mode is untouched)
    * replaces only the partitions present in the batch — the
    * idempotent-replay semantics of the reference.
    *
    * The count is observed in the write's own result stage, after the
    * repartition, so no second pass over `points` runs. It is exact:
    * the scheduler merges a result task's metrics once per partition,
    * whatever its retries or speculative copies. (The over-count
    * caveat of `Dedup.materializeWithCount` comes from checkpoints
    * executing their plan twice and does not apply here.) */
  def write(points: DataFrame, path: String,
      overwritePartitions: Boolean = false): Long = {
    val rows = Observation()
    points
      .withColumn("day", anchoredDay(col("ts")))
      .repartition(col("day"))
      .observe(rows, count(lit(1)).as("n"))
      .storeWrite
      .partitionBy("day")
      .option("partitionOverwriteMode", "dynamic")
      .mode(if (overwritePartitions) "overwrite" else "append")
      .parquet(path)
    rows.get("n").asInstanceOf[Long]
  }

  /** The newest `day=` directory of the store at `path`, if any: the
    * anchored day is monotone in `ts`, so the newest points live there.
    * One `listStatus`; a missing store has none. */
  private def newestDay(s: SparkSession, path: String): Option[Path] = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val dirs = try fs.listStatus(root) catch {
      case _: java.io.FileNotFoundException => Array.empty[FileStatus]
    }
    dirs.filter(d => d.isDirectory && d.getPath.getName.startsWith("day="))
      .map(_.getPath).maxByOption(_.getName)
  }

  /** A reader with the store's schema from one footer of `dayDir`
    * ([[BucketedStore.reader]]): no schema-inference job. */
  private def reader(s: SparkSession, dayDir: Path) =
    BucketedStore.reader(s, dayDir, Some(StructField("day", DateType)))

  /** Read the whole store, its schema taken from the newest partition. */
  def read(s: SparkSession, path: String): DataFrame =
    newestDay(s, path).fold(s.read)(reader(s, _)).parquet(path)

  /** Read only the newest `day=` partition (with its `day` column), or
    * None when the store has no partition yet. */
  def readNewestDay(s: SparkSession, path: String): Option[DataFrame] =
    newestDay(s, path).map(d =>
      reader(s, d).option("basePath", path).parquet(d.toString))

  /** Read back a day range; the filter on the partition column prunes
    * directories before any file IO. */
  def readRange(s: SparkSession, path: String,
      fromDay: String, untilDay: String): DataFrame =
    read(s, path)
      .filter(col("day") >= lit(fromDay) && col("day") < lit(untilDay))
}
