package graft.ingest

import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Append-only audit trail + watermark lookups (SURVEY §2.7 C6 / §2.3
  * J5; reference hospitalA_mysqlToLanding.py:199-216 append,
  * :124-137 watermark `MAX(load_timestamp)` with default `1900-01-01`
  * at :134).
  *
  * Stored as parquet at `path`; appends are one tiny file per
  * table-load (a run appends O(#tables) rows — compaction is a
  * maintenance concern, not a hot path).
  *
  * Appends are serialized: table loads run concurrently, and two
  * parquet appends into one directory share FileOutputCommitter's
  * `_temporary` directory, so one job's cleanup could delete the
  * other's pending output.
  */
final class AuditLog(spark: SparkSession, path: String) {
  import spark.implicits._

  /** The reference's epoch default for never-loaded tables (:134). */
  val DefaultWatermark: Timestamp = Timestamp.valueOf("1900-01-01 00:00:00")

  private def exists: Boolean =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new Path(path))

  /** S11: append one audit row. */
  def append(rec: AuditRecord): Unit = synchronized {
    Seq(rec).toDS().write.mode(SaveMode.Append).parquet(path)
  }

  def all(): org.apache.spark.sql.DataFrame =
    if (exists) spark.read.parquet(path)
    else spark.emptyDataset[AuditRecord].toDF()

  /** J5/A6: latest successful load watermark of every table of
    * `datasource` that has one, in one scan of the audit trail. */
  def latestWatermarks(datasource: String): Map[String, Timestamp] =
    all()
      .filter(col("data_source") === datasource && col("status") === "SUCCESS")
      .groupBy(col("tablename"))
      .agg(max(col("load_timestamp")))
      .as[(String, Timestamp)]
      .collect()
      .toMap

  /** J5/A6: latest successful load watermark for (datasource, table). */
  def latestWatermark(datasource: String, table: String): Timestamp =
    latestWatermarks(datasource).getOrElse(table, DefaultWatermark)
}
