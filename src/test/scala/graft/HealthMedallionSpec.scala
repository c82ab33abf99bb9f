package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.LocalDate

import graft.health.HealthPipeline
import org.apache.spark.sql.functions._

/** The medallion end to end over a tiny two-hospital fixture the spec
  * writes itself, so it runs on every host (the reference-data specs
  * cancel where the reference checkout is absent). It pins what the
  * concurrent stages must keep: the stage chain and its order, the
  * audit trail, every silver and gold count, per-table failure
  * isolation with results in config order, and a refused decimal-mode
  * flip that leaves every silver table untouched.
  *
  * The fixture keeps the reference's quirks that decide the counts:
  * hospital B's drifted patients header and a literal `NULL` first
  * name, `H1-`/`H2-` provider IDs the facts never reference,
  * byte-identical department files and one ClaimID range shared by
  * both claim files.
  */
class HealthMedallionSpec extends SparkSpec {

  private val runDate = LocalDate.of(2025, 1, 15)
  private val t1 = Timestamp.valueOf("2025-01-15 05:00:00")

  private val silverCounts = Map("patients" -> 6L, "encounters" -> 4L,
    "transactions" -> 4L, "claims" -> 4L, "cpt_codes" -> 3L, "departments" -> 4L,
    "providers" -> 4L)
  private val goldCounts = Map("patient_history" -> 6L, "provider_charge_summary" -> 0L,
    "provider_performance" -> 4L, "department_performance" -> 4L)
  /** Load-config order of each hospital's tables. */
  private val configOrder = Seq("encounters", "patients", "transactions", "providers",
    "departments")

  private def write(path: String, lines: String*): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Writes the fixture; returns (fixturesRoot, load_config.csv). */
  private def fixture(): (String, String) = {
    val root = tmpDir("medallion")
    val src = s"$root/sources"
    write(s"$src/emr/hospital-a/patients.csv",
      "PatientID,FirstName,LastName,MiddleName,SSN,PhoneNumber,Gender,DOB,Address,ModifiedDate",
      "HOSP1-000001,Ann,Ray,A,111-22-3333,555.100.2000,Female,1980-01-01,\"1 Main St, Salem\",2024-01-05 10:00:00",
      "HOSP1-000002,Bob,Lee,,111-22-3334,555.100.2001,Male,1975-02-02,2 Oak Ave,2024-02-06 10:00:00",
      "HOSP1-000003,Cal,Kim,C,111-22-3335,555.100.2002,Male,1990-03-03,3 Pine Rd,2024-03-07 10:00:00")
    write(s"$src/emr/hospital-b/patients.csv",
      "ID,F_Name,L_Name,M_Name,SSN,PhoneNumber,Gender,DOB,Address,Updated_Date",
      "HOSP2-000001,Dee,Fox,D,222-33-4444,555.200.3000,Female,1985-04-04,4 Elm St,2024-04-08 10:00:00",
      "HOSP2-000002,Eve,Gil,,222-33-4445,555.200.3001,Female,1970-05-05,5 Hill Ct,2024-05-09 10:00:00",
      "HOSP2-000003,NULL,Hay,H,222-33-4446,555.200.3002,Male,1965-06-06,6 Lake Dr,2024-06-10 10:00:00")
    for ((dir, h, enc) <- Seq(("hospital-a", 1, 1), ("hospital-b", 2, 3))) {
      write(s"$src/emr/$dir/encounters.csv",
        "EncounterID,PatientID,EncounterDate,EncounterType,ProviderID,DepartmentID," +
          "ProcedureCode,InsertedDate,ModifiedDate",
        s"ENC$enc,HOSP$h-000001,2024-01-10 09:00:00,Inpatient,PROV0001,DEPT001,10021," +
          "2024-01-10 09:00:00,2024-01-11 09:00:00",
        s"ENC${enc + 1},HOSP$h-000002,2024-02-10 09:00:00,Outpatient,PROV0002,DEPT002,10028," +
          "2024-02-10 09:00:00,2024-02-11 09:00:00")
      write(s"$src/emr/$dir/transactions.csv",
        "TransactionID,EncounterID,PatientID,ProviderID,DeptID,VisitDate,ServiceDate," +
          "PaidDate,VisitType,Amount,AmountType,PaidAmount,ClaimID,PayorID,ProcedureCode," +
          "ICDCode,LineOfBusiness,MedicaidID,MedicareID,InsertDate,ModifiedDate",
        s"TRANS$enc,ENC$enc,HOSP$h-000001,PROV0001,DEPT001,2024-01-10 09:00:00," +
          "2024-01-11 09:00:00,2024-02-01 09:00:00,Inpatient,988.3699951171875,Copay," +
          "500.25,CLM000001,Aetna,10021,A1.2,Commercial,MCD000001,MCR000001," +
          "2024-01-10 09:00:00,2024-01-12 09:00:00",
        s"TRANS${enc + 1},ENC${enc + 1},HOSP$h-000002,PROV0002,DEPT002,2024-02-10 09:00:00," +
          "2024-02-11 09:00:00,2024-03-01 09:00:00,Outpatient,120.5,Full,120.5,CLM000002," +
          "Cigna,10028,B3.4,Medicare,MCD000002,MCR000002,2024-02-10 09:00:00," +
          "2024-02-12 09:00:00")
      write(s"$src/emr/$dir/providers.csv",
        "ProviderID,FirstName,LastName,Specialization,DeptID,NPI",
        s"H$h-PROV0001,Gus,Ito,Cardiologist,DEPT001,1234567890",
        s"H$h-PROV0002,Ida,Joy,Neurologist,DEPT002,1234567891")
      write(s"$src/emr/$dir/departments.csv", "DeptID,Name", "DEPT001,Cardiology",
        "DEPT002,Neurology")
      write(s"$src/claims/hospital${h}_claim_data.csv",
        "ClaimID,TransactionID,PatientID,EncounterID,ProviderID,DeptID,ServiceDate," +
          "ClaimDate,PayorID,ClaimAmount,PaidAmount,ClaimStatus,PayorType,Deductible," +
          "Coinsurance,Copay,InsertDate,ModifiedDate",
        s"CLM000001,TRANS$enc,HOSP$h-000001,ENC$enc,PROV0001,DEPT001,2024-01-11 09:00:00," +
          "2024-01-20 09:00:00,Aetna,900.5,450.25,Approved,Private,10.0,20.0,5.0," +
          "2024-01-20 09:00:00,2024-01-20 09:00:00",
        s"CLM000002,TRANS${enc + 1},HOSP$h-000002,ENC${enc + 1},PROV0002,DEPT002," +
          "2024-02-11 09:00:00,2024-02-20 09:00:00,Cigna,100.0,100.0,Paid,Government," +
          "0.0,0.0,0.0,2024-02-20 09:00:00,2024-02-20 09:00:00")
    }
    write(s"$src/cptcodes/cptcodes.csv",
      "Procedure Code Category,CPT Codes,Procedure Code Descriptions,Code Status",
      "Surgery,10021,\"Incision of skin, simple\",No Change",
      "Medicine,10028,Assay of organ,Added",
      "Radiology,10035,Imaging of bone,No change")
    val cfg = s"$root/load_config.csv"
    write(cfg, "database,datasource,tablename,loadtype,watermark,is_active,targetpath" +:
      Seq("hospital_a_db" -> "hospital-a", "hospital_b_db" -> "hospital-b").flatMap {
        case (db, dir) => configOrder.map { t =>
          val load = if (t == "providers" || t == "departments") "Full,"
            else "Incremental,ModifiedDate"
          s"$db,$db,$t,$load,1,$dir"
        }
      }: _*)
    (src, cfg)
  }

  /** A pipeline over a fresh fixture; returns it with its work root. */
  private def pipeline(clock: () => Timestamp = () => t1): (HealthPipeline, String) = {
    val (src, cfg) = fixture()
    val work = tmpDir("medallion-work")
    (new HealthPipeline(spark, src, cfg, work, clock), work)
  }

  test("run: seven stages in order, ten audited loads, silver and gold counts") {
    val (pipe, _) = pipeline()
    val results = pipe.run(runDate, retryDelayMs = 0)
    results.map(r => (r.name, r.status, r.attempts)) shouldBe Seq(
      "init", "ingest_hospital_a", "ingest_hospital_b", "bronze_claims", "bronze_cpt",
      "silver", "gold").map(n => (n, "SUCCESS", 1))

    val audit = pipe.audit.all()
    audit.filter(col("status") === "SUCCESS").count() shouldBe 10
    audit.count() shouldBe 10

    silverCounts.foreach { case (t, n) =>
      withClue(s"silver.$t: ")(pipe.silver(t).count() shouldBe n)
    }
    pipe.silver("patients").filter(col("is_quarantined")).count() shouldBe 1
    pipe.silver("claims").select(countDistinct(col("Claim_Key"))).head().getLong(0) shouldBe 2
    goldCounts.foreach { case (t, n) =>
      withClue(s"gold.$t: ")(pipe.gold(t).count() shouldBe n)
    }
  }

  test("a missing source CSV fails only its own table; results stay in config order") {
    val (src, cfg) = fixture()
    Files.delete(Paths.get(s"$src/emr/hospital-a/transactions.csv"))
    val pipe = new HealthPipeline(spark, src, cfg, tmpDir("medallion-work"), () => t1)
    val a = pipe.ingest("hospital_a_db", s"$src/emr/hospital-a", runDate)
    val b = pipe.ingest("hospital_b_db", s"$src/emr/hospital-b", runDate)
    a.map(_.table) shouldBe configOrder
    b.map(_.table) shouldBe configOrder
    a.map(_.status) shouldBe configOrder.map(t => if (t == "transactions") "FAILED" else "SUCCESS")
    b.map(_.status).distinct shouldBe Seq("SUCCESS")

    val audit = pipe.audit.all()
    audit.filter(col("status") === "FAILED")
      .select("data_source", "tablename").collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq shouldBe Seq(("hospital_a_db", "transactions"))
    audit.filter(col("status") === "SUCCESS").count() shouldBe 9

    val landed = for {
      (db, res) <- Seq("hospital_a_db" -> a, "hospital_b_db" -> b)
      r <- res if r.status == "SUCCESS"
    } yield {
      pipe.landing.read(db, r.table).count() shouldBe r.records
      r.records
    }
    landed should have length 9
    landed.forall(_ > 0) shouldBe true
    Files.exists(Paths.get(pipe.landing.tableDir("hospital_a_db", "transactions"))) shouldBe false
  }

  test("a decimal-mode flip over standing history fails silver and writes no silver table") {
    var now = t1
    val (pipe, work) = pipeline(() => now)
    pipe.run(runDate, retryDelayMs = 0).map(_.status).distinct shouldBe Seq("SUCCESS")

    /** Schema, row count and data files: a rewrite with equal
      * content still shows as new part-file names. */
    def snapshot(t: String) = {
      val df = pipe.silver(t)
      val files = new java.io.File(s"$work/silver/$t").list().toSeq.sorted
      (df.schema.toDDL, df.count(), files)
    }
    val before = silverCounts.keys.map(t => t -> snapshot(t)).toMap

    now = Timestamp.valueOf("2025-01-16 05:00:00")
    spark.conf.set(HealthPipeline.DecimalMoneyKey, "true")
    try {
      val res = pipe.run(runDate.plusDays(1), retryDelayMs = 0)
      val silver = res.find(_.name == "silver").get
      silver.status shouldBe "FAILED"
      silver.error.get should include("decimalMoney")
      res.find(_.name == "gold").get.status shouldBe "SKIPPED"
    } finally spark.conf.unset(HealthPipeline.DecimalMoneyKey)

    before.foreach { case (t, b) => withClue(s"silver.$t: ")(snapshot(t) shouldBe b) }
  }

  test("a silver swap interrupted between delete and rename keeps its history on re-run") {
    var now = t1
    val (pipe, work) = pipeline(() => now)
    pipe.run(runDate, retryDelayMs = 0).map(_.status).distinct shouldBe Seq("SUCCESS")
    // the crash window of TableSwap.publish: the table dir is gone and
    // only the committed temp copy of it survives
    Files.move(Paths.get(s"$work/silver/cpt_codes"),
      Paths.get(s"$work/silver/cpt_codes__swap_tmp"))

    now = Timestamp.valueOf("2025-01-16 05:00:00")
    pipe.run(runDate.plusDays(1), retryDelayMs = 0).map(_.status).distinct shouldBe
      Seq("SUCCESS")
    // bronze CPT codes are reloaded in full and unchanged, so the merge
    // keeps every run-1 row as it was instead of re-inserting it
    val after = pipe.silver("cpt_codes")
    after.count() shouldBe silverCounts("cpt_codes")
    after.filter(col("inserted_date") === t1).count() shouldBe silverCounts("cpt_codes")
  }
}
