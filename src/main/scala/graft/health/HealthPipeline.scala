package graft.health

import java.sql.Timestamp
import java.time.LocalDate

import graft.ingest._
import graft.ops.Concurrently
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end reference medallion: init → config-driven ingestion
  * (both hospitals) → claims/CPT bronze loads → silver (type-1 dims +
  * five SCD2 merges) → four gold marts, sequenced by [[PipelineRunner]]
  * exactly like the reference DAG chain
  * (/root/reference/dags/parent_dag.py:21-44 → pyspark_dag.py:67-126 →
  * bq_dag.py:44-96). Within a stage, the independent tables (one
  * hospital's loads, the seven silver tables, the four marts) are
  * processed concurrently; the stages themselves stay in that order.
  *
  * Storage is path-based parquet under `workRoot`:
  * landing/ audit_log/ pipeline_logs/ bronze/ silver/ gold/.
  * Silver writes go through write-temp-then-swap, because a merge
  * result's plan reads the target's current files — an in-place
  * overwrite would delete its own input mid-job (SURVEY §7.3).
  *
  * @param fixturesRoot source data root with the reference layout:
  *                     emr/hospital-a and emr/hospital-b per-table
  *                     CSVs, claims per-file CSVs, cptcodes/cptcodes.csv
  * @param configPath   load_config.csv (reference configs/ layout)
  * @param clock        injectable wall clock — drives audit
  *                     `load_timestamp` (and therefore incremental
  *                     watermarks) and SCD2 bookkeeping timestamps
  */
final class HealthPipeline(
    spark: SparkSession,
    fixturesRoot: String,
    configPath: String,
    workRoot: String,
    clock: () => Timestamp) {

  /** Opt-in decimal monetary mode (§7.4 extension): set this session
    * conf to "true" and the SCD2 silver chain types every monetary
    * column DECIMAL(18,2) instead of the reference-faithful double —
    * exact, order-independent cents arithmetic end-to-end (the gold
    * marts preserve the type via type-matched COALESCE zeros). Read
    * per run, so one session can operate both modes. */
  private def scd2Entities: Seq[HealthSilver.Entity] =
    if (spark.conf.getOption(HealthPipeline.DecimalMoneyKey).contains("true"))
      HealthSilver.scd2EntitiesWith(HealthSilver.MoneyDecimal)
    else HealthSilver.scd2Entities

  private val auditPath = s"$workRoot/audit_log"
  private val logsPath = s"$workRoot/pipeline_logs"
  val landing = new LandingZone(spark, s"$workRoot/landing")
  val audit = new AuditLog(spark, auditPath)
  val logger = new PipelineLogger(spark, logsPath, clock)

  private val fs =
    new Path(workRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def exists(path: String): Boolean = fs.exists(new Path(path))

  private def bronzePath(t: String) = s"$workRoot/bronze/$t"
  private def silverPath(t: String) = s"$workRoot/silver/$t"
  private def goldPath(t: String) = s"$workRoot/gold/$t"

  def silver(t: String): DataFrame = readRecovered(silverPath(t))
  def gold(t: String): DataFrame = readRecovered(goldPath(t))

  /** Read a swap-published table, first finishing any swap that a
    * previous run's crash interrupted between delete and rename
    * (graft.ops.TableSwap contract). */
  private def readRecovered(path: String): DataFrame = {
    recover(path)
    spark.read.parquet(path)
  }

  private def recover(path: String): Boolean =
    graft.ops.TableSwap.recover(fs, new Path(path), graft.ops.TableSwap.tmpPath(path))

  /** Write-temp-then-swap (atomic table replace without reading and
    * overwriting the same files in one job); recovers an interrupted
    * prior swap BEFORE overwriting the temp dir — that temp may be the
    * only surviving copy of the table. */
  private def writeSwap(df: DataFrame, path: String): Unit = {
    val tmp = graft.ops.TableSwap.tmpPath(path)
    val dst = new Path(path)
    graft.ops.TableSwap.recover(fs, dst, tmp)
    df.write.mode("overwrite").parquet(tmp.toString)
    graft.ops.TableSwap.publish(fs, dst, tmp)
  }

  /** Reference load config, with the hospital-B patients watermark
    * pointed at the seed CSV's actual header (`Updated_Date`; the
    * hospital-B DDL says `ModifiedDate` — SURVEY §1.3 drift note). */
  def config(): Seq[LoadConfigEntry] =
    LoadConfig.read(spark, configPath).map { e =>
      if (e.datasource == "hospital_b_db" && e.tablename == "patients")
        e.copy(watermark = "Updated_Date")
      else e
    }

  def ingest(datasource: String, dir: String, runDate: LocalDate): Seq[TableLoadResult] =
    new IngestionRunner(spark, new CsvSource(dir), landing, audit, logger, clock)
      .run(config(), datasource, runDate)

  /** Bronze claims: both hospital files in one scan, datasource tagged
    * from the file path, exact-duplicate rows dropped
    * (claims.py:16-25). */
  def loadBronzeClaims(): Unit = {
    val df = spark.read.option("header", "true").csv(s"$fixturesRoot/claims/*.csv")
      .withColumn("datasource",
        when(input_file_name().contains("hospital2"), "hosb")
          .when(input_file_name().contains("hospital1"), "hosa")
          .otherwise("None"))
      .dropDuplicates()
    df.write.mode("overwrite").parquet(bronzePath("claims"))
  }

  /** Bronze CPT codes: header CSV + the column rename fold
    * (cpt_codes.py:15-20). */
  def loadBronzeCpt(): Unit = {
    val raw = spark.read.option("header", "true").csv(s"$fixturesRoot/cptcodes/cptcodes.csv")
    val renamed = raw.columns.foldLeft(raw)((d, c) =>
      d.withColumnRenamed(c, c.replace(" ", "_").toLowerCase))
    renamed.write.mode("overwrite").parquet(bronzePath("cpt_codes"))
  }

  /** Bronze view of this run's landed data: landing JSON for the EMR
    * tables (suffix _ha/_hb per bronze.sql:3-63 naming), parquet for
    * claims/cpt. A table that landed nothing this run is simply absent
    * — like a bronze external table over an empty prefix. */
  private def bronzeTable(name: String): Option[DataFrame] = name match {
    case _ if name.endsWith("_ha") =>
      val t = name.stripSuffix("_ha")
      if (exists(landing.tableDir("hospital_a_db", t)))
        Some(landing.read("hospital_a_db", t))
      else None
    case _ if name.endsWith("_hb") =>
      val t = name.stripSuffix("_hb")
      if (exists(landing.tableDir("hospital_b_db", t)))
        Some(landing.read("hospital_b_db", t))
      else None
    case _ =>
      if (exists(bronzePath(name))) Some(spark.read.parquet(bronzePath(name))) else None
  }

  /** Silver (silver.sql, whole file): the two type-1 dims reload and
    * the five SCD2 entities merge over whatever bronze data is present.
    *
    * The seven tables are independent, so they are built and written
    * concurrently ([[Concurrently]]), in two rounds: first every
    * unit reads its bronze input and stages its frame, and each SCD2
    * entity checks its staged types against its standing history; only
    * when all seven are ready do the seven writes start. A refused
    * type flip therefore leaves every silver table unchanged. A failure
    * is rethrown only after every unit of the round has finished. */
  def runSilver(): Unit = {
    val ts = clock()
    val dims: Seq[() => Option[() => Unit]] = Seq(
      () => for {
        ha <- bronzeTable("departments_ha")
        hb <- bronzeTable("departments_hb")
      } yield () => writeSwap(HealthSilver.departments(ha, hb), silverPath("departments")),
      () => for {
        ha <- bronzeTable("providers_ha")
        hb <- bronzeTable("providers_hb")
      } yield () => writeSwap(HealthSilver.providers(ha, hb), silverPath("providers")))
    val merges = scd2Entities.map(e => () => prepareMerge(e, ts))
    Concurrently.all(Concurrently.all(dims ++ merges).flatten)
    ()
  }

  /** Stage one SCD2 entity and return its merge-and-publish step, or
    * None when none of its bronze inputs landed. */
  private def prepareMerge(e: HealthSilver.Entity, ts: Timestamp): Option[() => Unit] = {
    val bronze = e.bronzeTables.flatMap(t => bronzeTable(t).map(t -> _)).toMap
    if (bronze.isEmpty) None
    else {
      val staged = e.stage(bronze)
      // finish an interrupted swap first: probing before it would
      // mistake a table whose swap crashed for an absent one and
      // bootstrap it empty, discarding its history
      recover(silverPath(e.table))
      val target =
        if (exists(silverPath(e.table))) refuseTypeDrift(e.table, silver(e.table), staged)
        else staged
          .select((e.keyCol +: e.compareCols).map(col): _*)
          .withColumn("inserted_date", lit(null).cast("timestamp"))
          .withColumn("modified_date", lit(null).cast("timestamp"))
          .withColumn("is_current", lit(true))
          .limit(0)
      Some(() => writeSwap(e.merge(lit(ts))(target, staged), silverPath(e.table)))
    }
  }

  /** Refuse a type flip over standing history: merging decimal
    * staging into float silver (or vice versa, after toggling
    * spark.graft.decimalMoney mid-history) would NOT fail — the SCD2
    * union/join would silently widen back to double and void the
    * exact-cents contract. Type drift is a migration, not a merge
    * (Warehouse.appendEvolving's rule). Returns `history`. */
  private def refuseTypeDrift(table: String, history: DataFrame, staged: DataFrame)
      : DataFrame = {
    val tgt = history.schema
    val drift = staged.schema
      .filter(f => tgt.fieldNames.contains(f.name))
      .filter(f => tgt(f.name).dataType != f.dataType)
    if (drift.nonEmpty) throw new IllegalStateException(
      s"silver.$table: staged column types differ from the existing table " +
        drift.map(f => s"${f.name}: ${tgt(f.name).dataType.simpleString} -> " +
          f.dataType.simpleString).mkString("(", ", ", ")") +
        " — did spark.graft.decimalMoney flip mid-history? Migrate explicitly.")
    history
  }

  /** Gold: the four marts (gold.sql), truncate-and-reload. The silver
    * reads, then the four mart writes, each run concurrently; a failure
    * is rethrown only after all four writes have finished. */
  def runGold(): Unit = {
    val Seq(p, e, t, c, pr, d) = Concurrently.all(
      Seq("patients", "encounters", "transactions", "claims", "providers", "departments")
        .map(n => () => silver(n)))
    Concurrently.all(Seq(
      () => writeSwap(HealthGold.providerChargeSummary(t, pr, d),
        goldPath("provider_charge_summary")),
      () => writeSwap(HealthGold.patientHistory(p, e, t, c), goldPath("patient_history")),
      () => writeSwap(HealthGold.providerPerformance(pr, e, t, c),
        goldPath("provider_performance")),
      () => writeSwap(HealthGold.departmentPerformance(d, e, t),
        goldPath("department_performance"))))
    ()
  }

  /** The full DAG, one in-process chain with per-stage retry
    * (parent_dag.py:21-44; retries=1 per bq_dag.py:39-40; 5-min
    * retry delay per parent_dag.py:16-17). `retryDelayMs`/`sleep`
    * pass through to [[PipelineRunner.run]] so failure-path specs —
    * and operators who want a different cadence — never wait out a
    * real five minutes (same injection discipline as `clock`). */
  def run(runDate: LocalDate,
      retryDelayMs: Long = PipelineRunner.DefaultRetryDelayMs,
      sleep: Long => Unit = Thread.sleep): Seq[StageResult] =
    PipelineRunner.run(Seq(
      Stage("init", () => { Bootstrap.ensureTables(spark, auditPath, logsPath); () }),
      Stage("ingest_hospital_a",
        () => { ingest("hospital_a_db", s"$fixturesRoot/emr/hospital-a", runDate); () }),
      Stage("ingest_hospital_b",
        () => { ingest("hospital_b_db", s"$fixturesRoot/emr/hospital-b", runDate); () }),
      Stage("bronze_claims", () => loadBronzeClaims()),
      Stage("bronze_cpt", () => loadBronzeCpt()),
      Stage("silver", () => runSilver()),
      Stage("gold", () => runGold())), logger,
      retryDelayMs = retryDelayMs, sleep = sleep)
}

object HealthPipeline {
  /** Session conf key for the opt-in decimal monetary mode. */
  val DecimalMoneyKey = "spark.graft.decimalMoney"
}
