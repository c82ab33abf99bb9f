package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of the seven reference health entities in the
  * `fixturesRoot` layout `graft.health.HealthPipeline` reads:
  *
  * {{{
  * emr/hospital-a/{patients,encounters,transactions,providers,departments}.csv
  * emr/hospital-b/…           (same tables, drifted patients header)
  * claims/hospital1_claim_data.csv, claims/hospital2_claim_data.csv
  * cptcodes/cptcodes.csv
  * load_config.csv            (next to the data, not inside it)
  * }}}
  *
  * The reference data's quirks are reproduced on purpose, because the
  * silver quarantine counts and the gold fan-out depend on them:
  *  - hospital-B patients use the drifted header (`ID`, `F_Name`, …,
  *    `Updated_Date` instead of `ModifiedDate`);
  *  - hospital-B first names are the literal string `NULL` on every
  *    row whose 1-based index ends in 02 (the reference has them on
  *    lines 403, 1403, 2403, …);
  *  - provider IDs carry `H1-`/`H2-` prefixes while the facts reference
  *    bare `PROV####`, so provider joins match nothing;
  *  - both department files are byte-identical;
  *  - both claim files use the same ClaimID range;
  *  - amounts are float32 values printed as doubles
  *    (`988.3699951171875`).
  *
  * CSV fields that contain commas are quoted, and no field ever holds a
  * double quote: Spark's CSV escape character is `\`, so an RFC-4180
  * doubled quote would shift columns silently.
  *
  * Every count the pipeline's output should show is computed here from
  * the generated rows, independently of the engine: see [[Declared]].
  */
object HealthFixtures {

  /** Reference volumes per hospital (BASELINE.md / FIXTURES.md);
    * patients, encounters, transactions and claims scale with the
    * volume factor, the dimension tables do not. */
  val RefPatients = 5000
  val RefEncounters = 10000
  val RefTransactions = 10000
  val Providers = 24
  val Departments = 20
  val CptRows = 1161

  /** The run's clock and date. */
  val Clock: Timestamp = Timestamp.valueOf("2025-01-15 05:00:00")
  val RunDate: LocalDate = LocalDate.of(2025, 1, 15)

  /** Expected silver state of one SCD2 entity after a run. */
  final case class Scd2Counts(total: Long, current: Long, closed: Long,
      quarantined: Long, insertedThisRun: Long, closedThisRun: Long)

  /** What a correct run over the generated sources must produce. */
  final case class Declared(
      sourceRows: Long,
      sourceBytes: Long,
      landedRows: Long,
      scd2: Map[String, Scd2Counts],
      dims: Map[String, Long],
      gold: Map[String, Long])

  /** The generated sources (the pipeline's `fixturesRoot`), the load
    * config and the declared counts. */
  final case class Generated(sources: Path, config: Path, declared: Declared)

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def ts(t: LocalDateTime): String = t.format(tsFmt)

  private val FirstNames = Seq("James", "Mary", "Robert", "Patricia", "John", "Jennifer",
    "Michael", "Linda", "David", "Elizabeth", "William", "Barbara", "Richard", "Susan",
    "Joseph", "Jessica", "Thomas", "Sarah", "Charles", "Karen")
  private val LastNames = Seq("Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia",
    "Miller", "Davis", "Rodriguez", "Martinez", "Hernandez", "Lopez", "Gonzalez",
    "Wilson", "Anderson", "Thomas", "Taylor", "Moore", "Jackson", "Martin")
  private val Streets = Seq("Main St", "Oak Ave", "Pine Rd", "Maple Dr", "Cedar Ln",
    "Elm St", "Lake View Blvd", "Hill Ct")
  private val Cities = Seq("Springfield", "Riverside", "Franklin", "Greenville",
    "Bristol", "Clinton", "Fairview", "Salem")
  private val States = Seq("IL", "CA", "TX", "NY", "OH", "PA", "FL", "WA")
  private val EncounterTypes =
    Seq("Emergency", "Inpatient", "Outpatient", "Routine Checkup", "Telemedicine")
  private val DeptNames = Seq("Emergency", "Cardiology", "Neurology", "Oncology",
    "Pediatrics", "Orthopedics", "Radiology", "Dermatology", "Gastroenterology",
    "Psychiatry", "Urology", "Nephrology", "Pulmonology", "Endocrinology",
    "Ophthalmology", "Rheumatology", "Hematology", "Obstetrics", "Anesthesiology",
    "General Surgery")
  private val Specializations = Seq("Cardiologist", "Neurologist", "Oncologist",
    "Pediatrician", "Orthopedist", "Radiologist", "Dermatologist", "Psychiatrist")
  private val VisitTypes = Seq("Emergency", "Inpatient", "Outpatient", "Telemedicine")
  private val AmountTypes = Seq("Copay", "Coinsurance", "Deductible", "Full")
  private val Payors = Seq("Medicare", "BlueCross", "Aetna", "Cigna", "UnitedHealth",
    "Medicaid")
  private val PayorTypes = Seq("Self-pay", "Private", "Government", "Employer")
  private val ClaimStatuses = Seq("Approved", "Denied", "Paid", "Pending", "Rejected")
  private val LinesOfBusiness = Seq("Commercial", "Medicare", "Medicaid", "Exchange")
  private val CptCategories = Seq("Evaluation and Management", "Anesthesia", "Surgery",
    "Radiology", "Pathology and Laboratory", "Medicine")

  /** A CSV field: quoted when it holds a comma; a double quote inside a
    * field is a generator bug (see the class comment), so it throws. */
  private def field(s: String): String = {
    require(!s.contains('"'), s"generated CSV field holds a double quote: $s")
    if (s.contains(',')) "\"" + s + "\"" else s
  }

  private final class Csv(header: Seq[String]) {
    val rows = mutable.ArrayBuffer[Seq[String]]()
    def add(r: String*): Unit = { require(r.length == header.length); rows += r }
    def render: Array[Byte] =
      (header.map(field).mkString(",") +: rows.iterator.map(_.map(field).mkString(",")).toSeq)
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
  }

  /** A float32 amount in [lo, hi), printed as its exact double value. */
  private def amount(r: SplittableRandom, lo: Double, hi: Double): Float =
    (lo + r.nextDouble() * (hi - lo)).toFloat
  private def money(f: Float): String = f.toDouble.toString

  private def pick[A](r: SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.length))

  private def dateIn(r: SplittableRandom, from: LocalDateTime, days: Int): LocalDateTime =
    from.plusSeconds(r.nextLong(days * 86400L))

  // ------------------------------------------------------------------
  // Row models
  // ------------------------------------------------------------------

  private final case class Patient(id: String, first: String, last: String, middle: String,
      ssn: String, phone: String, gender: String, dob: String, address: String,
      modified: String) {
    def quarantined: Boolean = first.equalsIgnoreCase("null")
  }
  private final case class Encounter(id: String, patient: String, date: String,
      kind: String, provider: String, dept: String, procedure: String,
      inserted: String, modified: String)
  private final case class Txn(id: String, encounter: String, patient: String,
      provider: String, dept: String, visit: String, service: String, paid: String,
      visitType: String, amount: Float, amountType: String, paidAmount: Float,
      claimId: String, payor: String, procedure: String, icd: String, lob: String,
      medicaid: String, medicare: String, inserted: String, modified: String)

  private final class Hospital(val index: Int) {
    val patients = mutable.ArrayBuffer[Patient]()
    val encounters = mutable.ArrayBuffer[Encounter]()
    val txns = mutable.ArrayBuffer[Txn]()
    def tag: String = if (index == 0) "hosa" else "hosb"
    def dir: String = if (index == 0) "hospital-a" else "hospital-b"
    def db: String = if (index == 0) "hospital_a_db" else "hospital_b_db"
    /** Disjoint numeric ID ranges per hospital for encounters and
      * transactions; patients carry the `HOSP1-`/`HOSP2-` prefix. */
    def patientId(n: Int): String = f"HOSP${index + 1}-$n%06d"
    def encounterId(n: Int): String = f"ENC${index * 5000000 + n}%07d"
    def txnId(n: Int): String = f"TRANS${index * 5000000 + n}%07d"
  }

  def generate(root: Path, seed: Long, volume: Double): Generated = {
    val r = new SplittableRandom(seed)
    val nPat = math.max(1, math.round(RefPatients * volume).toInt)
    val nEnc = math.max(1, math.round(RefEncounters * volume).toInt)
    val nTx = math.max(1, math.round(RefTransactions * volume).toInt)
    val base = LocalDateTime.of(2022, 1, 1, 0, 0)

    val cptCodes = (0 until CptRows).map(i => (10021 + i * 7).toString)
    val hospitals = Seq(new Hospital(0), new Hospital(1))

    def newPatient(h: Hospital, n: Int): Patient = {
      val first = if (h.index == 1 && n % 100 == 2) "NULL" else pick(r, FirstNames)
      val addr = s"${100 + r.nextInt(9900)} ${pick(r, Streets)}, ${pick(r, Cities)}, " +
        s"${pick(r, States)} ${10000 + r.nextInt(89999)}"
      Patient(h.patientId(n), first, pick(r, LastNames),
        if (r.nextInt(4) == 0) "" else pick(r, FirstNames).take(1),
        f"${100 + r.nextInt(800)}%03d-${10 + r.nextInt(89)}%02d-${1000 + r.nextInt(8999)}%04d",
        if (r.nextBoolean()) f"+1-${200 + r.nextInt(799)}-${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04dx${r.nextInt(10000)}%04d"
        else f"${200 + r.nextInt(799)}.${r.nextInt(1000)}%03d.${r.nextInt(10000)}%04d",
        if (r.nextBoolean()) "Male" else "Female",
        LocalDate.of(1930 + r.nextInt(75), 1 + r.nextInt(12), 1 + r.nextInt(28)).toString,
        addr, ts(dateIn(r, base, 1000)))
    }
    def newEncounter(h: Hospital, n: Int): Encounter = {
      val modified = ts(dateIn(r, base, 1000))
      val ins = dateIn(r, base, 1000)
      Encounter(h.encounterId(n), h.patients(r.nextInt(h.patients.length)).id,
        ts(dateIn(r, base, 1000)), pick(r, EncounterTypes),
        f"PROV${1 + r.nextInt(Providers)}%04d", f"DEPT${1 + r.nextInt(Departments)}%03d",
        pick(r, cptCodes), ts(ins), modified)
    }
    def newTxn(h: Hospital, n: Int): Txn = {
      val modified = ts(dateIn(r, base, 1000))
      val e = h.encounters(r.nextInt(h.encounters.length))
      val amt = amount(r, 50, 5000)
      val visit = dateIn(r, base, 1000)
      Txn(h.txnId(n), e.id, e.patient, e.provider, e.dept, ts(visit),
        ts(visit.plusDays(r.nextInt(5))), ts(visit.plusDays(10 + r.nextInt(60))),
        pick(r, VisitTypes), amt, pick(r, AmountTypes), (amt * r.nextDouble()).toFloat,
        f"CLM$n%06d", pick(r, Payors), e.procedure, s"${('A' + r.nextInt(26)).toChar}" +
          s"${r.nextInt(100)}.${r.nextInt(10)}", pick(r, LinesOfBusiness),
        f"MCD${r.nextInt(1000000)}%06d", f"MCR${r.nextInt(1000000)}%06d",
        ts(visit), modified)
    }

    hospitals.foreach { h =>
      (1 to nPat).foreach(n => h.patients += newPatient(h, n))
      (1 to nEnc).foreach(n => h.encounters += newEncounter(h, n))
      (1 to nTx).foreach(n => h.txns += newTxn(h, n))
    }
    // claims: one per transaction, SAME ClaimID range in both files
    final case class Claim(id: String, txn: Txn, fields: Seq[String])
    val claims = hospitals.map { h =>
      h.txns.toSeq.zipWithIndex.map { case (t, i) =>
        val amt = amount(r, 50, 5000)
        val claimDate = LocalDateTime.parse(t.service, tsFmt).plusDays(r.nextInt(30))
        Claim(f"CLM${i + 1}%06d", t, Seq(f"CLM${i + 1}%06d", t.id, t.patient, t.encounter,
          t.provider, t.dept, t.service, ts(claimDate), pick(r, Payors), money(amt),
          money((amt * r.nextDouble()).toFloat), pick(r, ClaimStatuses), pick(r, PayorTypes),
          money(amount(r, 0, 500)), money(amount(r, 0, 300)), money(amount(r, 0, 60)),
          ts(claimDate), ts(claimDate)))
      }
    }
    val providers = hospitals.map { h =>
      val csv = new Csv(Seq("ProviderID", "FirstName", "LastName", "Specialization",
        "DeptID", "NPI"))
      (1 to Providers).foreach { n =>
        csv.add(f"H${h.index + 1}-PROV$n%04d", pick(r, FirstNames), pick(r, LastNames),
          pick(r, Specializations), f"DEPT${1 + r.nextInt(Departments)}%03d",
          (1000000000L + r.nextLong(8999999999L)).toString)
      }
      csv.render
    }
    val departments = {
      val csv = new Csv(Seq("DeptID", "Name"))
      (1 to Departments).foreach(n => csv.add(f"DEPT$n%03d", DeptNames(n - 1)))
      csv.render
    }
    val cpt = {
      val csv = new Csv(Seq("Procedure Code Category", "CPT Codes",
        "Procedure Code Descriptions", "Code Status"))
      cptCodes.zipWithIndex.foreach { case (code, i) =>
        val desc = s"${pick(r, Seq("Incision", "Excision", "Repair", "Imaging", "Assay"))}" +
          s" of ${pick(r, Seq("skin", "bone", "joint", "vessel", "organ"))}, " +
          s"${pick(r, Seq("simple", "complex", "intermediate"))}" +
          (if (i % 9 == 0) "   " else "")
        val status = i % 22 match {
          case 0 => "No change"
          case 1 if i % 44 == 1 => "Added"
          case 1 => "Moved from GAST"
          case _ => "No Change"
        }
        csv.add(pick(r, CptCategories), code, desc, status)
      }
      csv.render
    }
    val claimCsvs = claims.map { cs =>
      val csv = new Csv(Seq("ClaimID", "TransactionID", "PatientID", "EncounterID",
        "ProviderID", "DeptID", "ServiceDate", "ClaimDate", "PayorID", "ClaimAmount",
        "PaidAmount", "ClaimStatus", "PayorType", "Deductible", "Coinsurance", "Copay",
        "InsertDate", "ModifiedDate"))
      cs.foreach(c => csv.add(c.fields: _*))
      csv.render
    }
    val claimsPerTxn: Map[String, Int] =
      claims.flatten.groupBy(_.txn.id).map { case (k, v) => k -> v.length }

    val sources = root.resolve("sources")
    val (sourceRows, sourceBytes) = writeSources(sources, hospitals, providers, departments,
      claimCsvs, cpt)

    // patient_history: one row per patient and (encounter, claim-row)
    // pair, at least one of each (outer joins)
    val encByPatient = hospitals.flatMap(_.encounters).groupBy(_.patient)
    val txByPatient = hospitals.flatMap(_.txns).groupBy(_.patient)
    val history = hospitals.flatMap(_.patients).iterator.map { p =>
      val e = math.max(1, encByPatient.get(p.id).map(_.length).getOrElse(0)).toLong
      val t = txByPatient.get(p.id)
        .map(_.map(x => math.max(1, claimsPerTxn.getOrElse(x.id, 0)).toLong).sum)
        .getOrElse(1L)
      e * t
    }.sum

    val nClaims = claims.map(_.length.toLong).sum
    val declared = Declared(
      sourceRows = sourceRows, sourceBytes = sourceBytes,
      landedRows = 2L * (nPat + nEnc + nTx + Providers + Departments),
      scd2 = Map(
        "patients" -> Scd2Counts(2L * nPat, 2L * nPat, 0,
          hospitals.flatMap(_.patients).count(_.quarantined), 2L * nPat, 0),
        "encounters" -> Scd2Counts(2L * nEnc, 2L * nEnc, 0, 0, 2L * nEnc, 0),
        "transactions" -> Scd2Counts(2L * nTx, 2L * nTx, 0, 0, 2L * nTx, 0),
        "claims" -> Scd2Counts(nClaims, nClaims, 0, 0, nClaims, 0),
        "cpt_codes" -> Scd2Counts(CptRows, CptRows, 0, 0, CptRows, 0)),
      dims = Map("departments" -> 2L * Departments, "providers" -> 2L * Providers),
      gold = Map("provider_charge_summary" -> 0L, "patient_history" -> history,
        "provider_performance" -> 2L * Providers, "department_performance" -> 2L * Departments))

    val config = root.resolve("load_config.csv")
    val cfg = new Csv(Seq("database", "datasource", "tablename", "loadtype", "watermark",
      "is_active", "targetpath"))
    hospitals.foreach { h =>
      Seq("encounters", "patients", "transactions").foreach { t =>
        val wm = if (h.index == 1 && t == "patients") "Updated_Date" else "ModifiedDate"
        cfg.add(h.db, h.db, t, "Incremental", wm, "1", h.dir)
      }
      Seq("providers", "departments").foreach(t => cfg.add(h.db, h.db, t, "Full", "", "1", h.dir))
    }
    Files.write(config, cfg.render)
    Generated(sources, config, declared)
  }

  /** Write the sources; returns (data rows, bytes). */
  private def writeSources(dir: Path, hospitals: Seq[Hospital], providers: Seq[Array[Byte]],
      departments: Array[Byte], claims: Seq[Array[Byte]], cpt: Array[Byte]): (Long, Long) = {
    var rows = 0L
    var bytes = 0L
    def put(rel: String, data: Array[Byte]): Unit = {
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, data)
      rows += data.count(_ == '\n') - 1
      bytes += data.length
    }
    hospitals.foreach { h =>
      val pHeader =
        if (h.index == 0) Seq("PatientID", "FirstName", "LastName", "MiddleName", "SSN",
          "PhoneNumber", "Gender", "DOB", "Address", "ModifiedDate")
        else Seq("ID", "F_Name", "L_Name", "M_Name", "SSN", "PhoneNumber", "Gender", "DOB",
          "Address", "Updated_Date")
      val pc = new Csv(pHeader)
      h.patients.foreach(p => pc.add(p.id, p.first, p.last, p.middle, p.ssn, p.phone,
        p.gender, p.dob, p.address, p.modified))
      val ec = new Csv(Seq("EncounterID", "PatientID", "EncounterDate", "EncounterType",
        "ProviderID", "DepartmentID", "ProcedureCode", "InsertedDate", "ModifiedDate"))
      h.encounters.foreach(e => ec.add(e.id, e.patient, e.date, e.kind, e.provider, e.dept,
        e.procedure, e.inserted, e.modified))
      val tc = new Csv(Seq("TransactionID", "EncounterID", "PatientID", "ProviderID",
        "DeptID", "VisitDate", "ServiceDate", "PaidDate", "VisitType", "Amount",
        "AmountType", "PaidAmount", "ClaimID", "PayorID", "ProcedureCode", "ICDCode",
        "LineOfBusiness", "MedicaidID", "MedicareID", "InsertDate", "ModifiedDate"))
      h.txns.foreach(t => tc.add(t.id, t.encounter, t.patient, t.provider, t.dept, t.visit,
        t.service, t.paid, t.visitType, money(t.amount), t.amountType, money(t.paidAmount),
        t.claimId, t.payor, t.procedure, t.icd, t.lob, t.medicaid, t.medicare, t.inserted,
        t.modified))
      put(s"emr/${h.dir}/patients.csv", pc.render)
      put(s"emr/${h.dir}/encounters.csv", ec.render)
      put(s"emr/${h.dir}/transactions.csv", tc.render)
      put(s"emr/${h.dir}/providers.csv", providers(h.index))
      put(s"emr/${h.dir}/departments.csv", departments)
    }
    put("claims/hospital1_claim_data.csv", claims(0))
    put("claims/hospital2_claim_data.csv", claims(1))
    put("cptcodes/cptcodes.csv", cpt)
    (rows, bytes)
  }
}
