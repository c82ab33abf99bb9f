package graft.ingest

import java.sql.Timestamp
import java.time.LocalDate

/** Outcome of one table-load attempt (per-table failure isolation:
  * reference hospitalA_mysqlToLanding.py:249-251 catches, logs, and
  * `continue`s to the next table).
  */
final case class TableLoadResult(
    table: String,
    status: String, // "SUCCESS" | "FAILED"
    records: Long,
    error: Option[String])

/** Config-driven incremental loader (SURVEY §2.7 C3; reference
  * hospitalA_mysqlToLanding.py:141-196 extract, :236-257 main loop).
  *
  * Per table: archive prior landing files → extract (full, or
  * incremental rows past the audit watermark) → write JSON-lines to the
  * landing zone → append one audit row. A failing table is audited
  * FAILED and does not stop the run.
  *
  * [[run]] loads the active tables of one datasource concurrently
  * (graft.ops.Concurrently): each table touches only its own landing
  * and archive directories, the shared audit appends are serialized by
  * [[AuditLog]], and the watermarks are read once, before any table
  * starts. Results stay in config order, and `run` returns only after
  * every table has finished.
  *
  * Scale notes: the extract-to-landing path is a single distributed
  * read→write with the incremental predicate pushed into the scan
  * (SourceConnector.readIncremental); the reference's
  * `toPandas()`→local-file→upload driver bottleneck
  * (hospitalA_mysqlToLanding.py:177-185) is designed out. The audit
  * record_count and the reference's zero-row short-circuit (:171-175)
  * ride the write's own observe/CollectMetrics (ops/Observed) — ONE
  * scan of the source per load, not a count pass plus a write pass; a
  * zero-row extract rolls its empty output back so the landing
  * contract ("no file for an empty extract") is unchanged.
  */
final class IngestionRunner(
    spark: org.apache.spark.sql.SparkSession,
    source: SourceConnector,
    landing: LandingZone,
    audit: AuditLog,
    logger: PipelineLogger,
    clock: () => Timestamp) {

  def loadTable(entry: LoadConfigEntry, runDate: LocalDate): TableLoadResult =
    load(entry, runDate, audit.latestWatermark(entry.datasource, entry.tablename))

  private def isIncremental(entry: LoadConfigEntry): Boolean =
    entry.loadtype.equalsIgnoreCase("incremental")

  /** One table load; `since` (the audit watermark) is only evaluated
    * for an incremental load. */
  private def load(entry: LoadConfigEntry, runDate: LocalDate, since: => Timestamp)
      : TableLoadResult = {
    val table = entry.tablename
    try {
      val archived = landing.archive(entry.datasource, table, runDate)
      if (archived == 0) logger.info("No existing files to archive", "archive", table)
      else logger.info(s"Archived $archived existing file(s)", "archive", table)

      logger.info("Starting extraction", "extract", table)
      val df =
        if (isIncremental(entry)) source.readIncremental(spark, table, entry.watermark, since)
        else source.read(spark, table)

      // ONE source scan: the row count rides the write itself
      // (observe/CollectMetrics — ops/Observed) instead of a separate
      // df.count() pass. The write is STAGED and only promoted when
      // non-empty, so the "no file for an empty extract" contract
      // holds in every crash interleaving (a crash before publish
      // leaves the table dir untouched).
      val (observed, obs) =
        graft.ops.Observed.rowStats(df, s"ingest_${entry.datasource}_$table")
      landing.writeStaged(observed, entry.datasource, table)
      val n = graft.ops.Observed.stageMetrics(obs)("n_rows")
      if (n == 0) {
        landing.discardStaged(entry.datasource, table)
        logger.log("WARNING", "No new records found", "extract", table)
      } else {
        landing.publishStaged(entry.datasource, table)
        logger.info(s"Data written to landing zone ($n rows)", "write", table)
      }
      audit.append(AuditRecord(entry.datasource, table, entry.loadtype, n, clock(), "SUCCESS"))
      TableLoadResult(table, "SUCCESS", n, None)
    } catch {
      case e: Exception =>
        logger.error("Extraction failed", "extract", table, e.toString)
        audit.append(AuditRecord(entry.datasource, table, entry.loadtype, 0L, clock(), "FAILED"))
        TableLoadResult(table, "FAILED", 0L, Some(e.toString))
    }
  }

  /** The main per-table loop over active config rows (:236-257), with
    * the tables loaded concurrently; results in config order. */
  def run(config: Seq[LoadConfigEntry], datasource: String, runDate: LocalDate)
      : Seq[TableLoadResult] = {
    logger.info("Pipeline started", "start")
    val active = LoadConfig.active(config, datasource)
    val watermarks =
      if (active.exists(isIncremental)) audit.latestWatermarks(datasource)
      else Map.empty[String, Timestamp]
    val results = graft.ops.Concurrently.all(active.map { e => () =>
      load(e, runDate, watermarks.getOrElse(e.tablename, audit.DefaultWatermark))
    })
    if (results.forall(_.status == "SUCCESS"))
      logger.success("Pipeline completed successfully", "end")
    else
      logger.log("WARNING", s"${results.count(_.status == "FAILED")} table(s) failed", "end")
    logger.flush()
    results
  }
}
