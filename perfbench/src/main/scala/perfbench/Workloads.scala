package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.health.HealthPipeline
import graft.ingest.{Bootstrap, PipelineRunner, Stage, StageResult, TableLoadResult}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** What one workload measured. Latencies are seconds. */
final class Measured {
  var setupS = 0.0
  val iterationS = mutable.ArrayBuffer[Double]()
  val opS = mutable.ArrayBuffer[Double]()
  val storedRatio = mutable.ArrayBuffer[Double]()
  var attempted = 0L
  var failed = 0L
  val layers = mutable.LinkedHashMap[String, Double]()

  /** Record `n` checked operations of which `bad` failed. */
  def ops(n: Long, bad: Long): Unit = { attempted += n; failed += bad }
}

/** Runs `body` back to back until `seconds` have passed and it has run
  * at least `min` times. */
object Loop {
  def apply(seconds: Int, min: Int)(body: => Unit): Unit = {
    val end = System.nanoTime() + seconds * 1000000000L
    var n = 0
    while (n < min || System.nanoTime() < end) { body; n += 1 }
  }
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** One benchmark workload. `warmUp` runs once during set-up; each
  * `iterate` returns the iteration's wall seconds; a run times at least
  * `minIterations` iterations. */
trait Workload {
  def sourceRows: Long
  def minIterations: Int
  def warmUp(m: Measured): Unit
  def iterate(m: Measured, timed: Boolean): Double
  def iterateTraced(m: Measured, tracer: Tracer): Double
}

/** The medallion workload: a full load from an empty work root. */
final class PipelineWorkload(spark: SparkSession, work: Path, seed: Long, volume: Double)
    extends Workload {

  private val fixtures = HealthFixtures.generate(work.resolve("fixtures"), seed, volume)
  private val srcDir = fixtures.sources
  private val clock = HealthFixtures.Clock
  private val declared = fixtures.declared
  private var iteration = 0
  private var goldHashes: Option[Map[String, Long]] = None
  /** Stage names of the latest `HealthPipeline.run`; the traced stage
    * chain must match them. */
  private var runStages: Option[Seq[String]] = None

  def sourceRows: Long = declared.sourceRows
  def minIterations: Int = 1

  /** No warm-up: a daily run starts in a fresh process, so the first
    * iteration is measured JIT-cold, as the product runs it. */
  def warmUp(m: Measured): Unit = ()

  /** An empty work root for the next iteration. Not timed. */
  private def freshRoot(): Path = {
    iteration += 1
    val root = work.resolve(s"run-$iteration")
    Fs.delete(root)
    root
  }

  private def pipeline(root: Path) = new HealthPipeline(spark, srcDir.toString,
    fixtures.config.toString, root.toString, () => clock)

  /** One untraced iteration: `HealthPipeline.run`, timed, then checked. */
  def iterate(m: Measured, timed: Boolean): Double = {
    val root = freshRoot()
    val (results, wall) =
      Loop.timed(pipeline(root).run(HealthFixtures.RunDate, retryDelayMs = 0))
    runStages = Some(results.map(_.name))
    finish(m, root, results, wall, timed)
    wall
  }

  /** One traced iteration: the same stage chain `HealthPipeline.run`
    * builds, driven through `PipelineRunner.run`, with a span around
    * each layer call. `run()` has no hooks, so the chain is a copy; its
    * stage names must equal those of the untraced `run()` before it,
    * or the check fails. */
  def iterateTraced(m: Measured, tracer: Tracer): Double = {
    val root = freshRoot()
    val pipe = pipeline(root)
    val ingested = mutable.ArrayBuffer[TableLoadResult]()
    def ingest(db: String, dir: String): Unit =
      ingested ++= pipe.ingest(db, srcDir.resolve(s"emr/$dir").toString,
        HealthFixtures.RunDate)
    val stages = Seq(
      Stage("init", () => tracer.span("init") {
        Bootstrap.ensureTables(spark, s"$root/audit_log", s"$root/pipeline_logs"); ()
      }),
      Stage("ingest_hospital_a", () => tracer.span("ingest.hospital_a")(
        ingest("hospital_a_db", "hospital-a"))),
      Stage("ingest_hospital_b", () => tracer.span("ingest.hospital_b")(
        ingest("hospital_b_db", "hospital-b"))),
      Stage("bronze_claims", () => tracer.span("bronze.claims")(pipe.loadBronzeClaims())),
      Stage("bronze_cpt", () => tracer.span("bronze.cpt")(pipe.loadBronzeCpt())),
      Stage("silver", () => tracer.span("silver")(pipe.runSilver())),
      Stage("gold", () => tracer.span("gold")(pipe.runGold())))
    val (results, wall) = Loop.timed(tracer.span("pipeline")(
      PipelineRunner.run(stages, pipe.logger, retryDelayMs = 0)))
    tracer.drain()
    val names = results.map(_.name)
    val sameChain = runStages.contains(names)
    if (!sameChain) System.err.println(s"[perfbench] CHECK FAILED: traced stages " +
      s"${names.mkString(",")} differ from run()'s ${runStages.getOrElse(Nil).mkString(",")}")
    m.ops(1, if (sameChain) 0 else 1)

    val root0 = tracer.named("pipeline").last
    val stageSpans = tracer.children(root0)
    val cores = spark.sparkContext.defaultParallelism
    PerLayer.PipelineLayers.foreach { layer =>
      val spans = stageSpans.filter(s => s.name == layer || s.name.startsWith(layer + "."))
      val c = new Counters
      spans.foreach(s => c += tracer.subtree(s))
      val wallS = spans.map(_.wallS).sum
      m.layers ++= Seq(
        s"$layer.wall_s" -> wallS, s"$layer.jobs" -> c.jobs.get.toDouble,
        s"$layer.tasks" -> c.tasks.get.toDouble, s"$layer.task_s" -> c.taskS,
        s"$layer.cpu_s" -> c.cpuS,
        s"$layer.core_util" -> (if (wallS > 0) c.taskS / (wallS * cores) else 0.0),
        s"$layer.shuffle_bytes" -> c.shuffleWrite.get.toDouble,
        s"$layer.bytes_written" -> c.bytesWritten.get.toDouble)
    }
    m.layers("pipeline.residual_s") = root0.wallS - stageSpans.map(_.wallS).sum
    m.layers("ingest.rows_landed") = ingested.map(_.records).sum.toDouble
    m.layers("ingest.tables_failed") = ingested.count(_.status != "SUCCESS").toDouble
    val counts = silverCounts(pipe)
    m.layers("silver.rows_out") = counts.values.map(_.total).sum.toDouble +
      declared.dims.keys.toSeq.map(pipe.silver(_).count()).sum
    m.layers("silver.rows_inserted") = counts.values.map(_.insertedThisRun).sum.toDouble
    m.layers("silver.rows_closed") = counts.values.map(_.closedThisRun).sum.toDouble
    m.layers("silver.rows_quarantined") = counts.values.map(_.quarantined).sum.toDouble
    m.layers("gold.rows_out") = Gold.marts.map(t => pipe.gold(t).count()).sum.toDouble
    finish(m, root, results, wall, timed = false)
    wall
  }

  private def silverCounts(pipe: HealthPipeline): Map[String, HealthFixtures.Scd2Counts] =
    declared.scd2.keys.map { t =>
      val ts = lit(clock)
      val r = pipe.silver(t).agg(
        count(lit(1)),
        count(when(col("is_current"), 1)),
        count(when(!col("is_current"), 1)),
        count(when(col("is_quarantined"), 1)),
        count(when(col("is_current") && col("inserted_date") === ts, 1)),
        count(when(!col("is_current") && col("modified_date") === ts, 1))).head()
      t -> HealthFixtures.Scd2Counts(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    }.toMap

  /** Output checks, then bookkeeping; the work root is removed. */
  private def finish(m: Measured, root: Path, results: Seq[StageResult], wall: Double,
      timed: Boolean): Unit = {
    val checkT0 = System.nanoTime()
    val pipe = pipeline(root)
    val problems = mutable.ArrayBuffer[String]()
    def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what
    var ops = 0L

    // stages: every one SUCCESS on its first attempt
    results.foreach { r =>
      ops += 1
      check(r.status == "SUCCESS" && r.attempts == 1, s"stage ${r.name}: $r")
    }
    // audit: this run's rows, one SUCCESS per (hospital, table)
    val audit = pipe.audit.all().filter(col("load_timestamp") === lit(clock))
      .groupBy("status").agg(count(lit(1)), sum("record_count")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    ops += 10
    val succeeded = audit.get("SUCCESS").map(_._1).getOrElse(0L)
    if (succeeded != 10) problems += s"audit: $succeeded SUCCESS rows, expected 10"
    m.ops(0, audit.get("FAILED").map(_._1).getOrElse(0L))
    check(audit.get("SUCCESS").map(_._2).contains(declared.landedRows),
      s"audit: landed ${audit.get("SUCCESS").map(_._2)}, expected ${declared.landedRows}")
    // silver: counts equal the generator's declared counts
    silverCounts(pipe).foreach { case (t, got) =>
      ops += 1
      check(got == declared.scd2(t), s"silver.$t: $got, expected ${declared.scd2(t)}")
    }
    declared.dims.foreach { case (t, n) =>
      ops += 1
      val got = pipe.silver(t).count()
      check(got == n, s"silver.$t: $got rows, expected $n")
    }
    // gold: row counts as declared, content identical across the
    // iterations of this process
    val hashes = Gold.marts.map { t =>
      ops += 1
      val (rows, hash) = Gold.contentHash(pipe.gold(t))
      check(rows == declared.gold(t), s"gold.$t: $rows rows, expected ${declared.gold(t)}")
      t -> hash
    }.toMap
    goldHashes match {
      case None => goldHashes = Some(hashes)
      case Some(first) => Gold.marts.foreach { t =>
        ops += 1
        check(first(t) == hashes(t), s"gold.$t: content hash differs from the first run")
      }
    }
    problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    m.ops(ops, problems.length)
    val checkS = (System.nanoTime() - checkT0) / 1e9
    System.err.println(f"[perfbench] iteration $wall%.2f s, checks $checkS%.2f s")

    if (timed) {
      m.iterationS += wall
      m.opS += wall
      m.storedRatio += Fs.size(root).toDouble / declared.sourceBytes
    }
    Fs.delete(root)
  }
}

object Gold {
  val marts = Seq("provider_charge_summary", "patient_history", "provider_performance",
    "department_performance")

  /** (rows, all-column hash sum) with doubles narrowed to float32, so
    * the hash does not depend on floating-point summation order. */
  def contentHash(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == DoubleType) col(f.name).cast(FloatType) else col(f.name)
    }
    val r = df.select(xxhash64(cols.toSeq: _*).as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}

/** The cold query board: a fixed list of `SparkEntry` queries, each
  * followed by the all-column hash action `graft.Bench` uses, with the
  * engine's caches released before every query. */
final class BoardWorkload(spark: SparkSession, work: Path, seed: Long, sf: Double)
    extends Workload {
  import BoardWorkload._

  private val dir = work.resolve("board").toString
  val sizes: BoardData.Sizes = BoardData.generate(spark, dir, seed, sf)
  val sourceBytes: Long = Fs.size(work.resolve("board"))
  /** The seed sets the query order. */
  val order: Seq[String] = new scala.util.Random(seed).shuffle(Queries)
  private val checkpointDir = Fs.checkpointDir(spark)

  private def release(): Unit = {
    graft.ops.SharedCache.releaseAll()
    graft.ops.Checkpoints.releaseAll(spark)
    spark.catalog.clearCache()
  }

  private def hashAction(df: DataFrame): (DataFrame, (Long, Long)) = {
    val h = xxhash64(df.columns.map(col).toSeq: _*)
    val act = df.select(h.as("h")).agg(count(lit(1)), coalesce(sum("h"), lit(0L)))
    // collect() runs the action on `act`'s own QueryExecution, so its
    // planning tracker holds this action's Catalyst phases
    val r = act.collect().head
    (act, (r.getLong(0), r.getLong(1)))
  }

  /** Each query's (rows, hash), which every pass must reproduce. q01's
    * comes from a plain filter on the generated lineitem, written apart
    * from the engine's query, so a wrong result that repeats from pass
    * to pass still fails; the others come from the reference pass. */
  private val expected = mutable.Map[String, (Long, Long)](
    "q01_pruned_scan" -> hashAction(spark.read.parquet(s"$dir/lineitem.parquet")
      .where(col("l_quantity") < 3.0 &&
        col("l_shipdate") >= lit(java.time.LocalDateTime.of(1997, 1, 1, 0, 0)))
      .select("l_orderkey", "l_extendedprice", "l_shipdate"))._2)

  def sourceRows: Long = sizes.totalRows

  /** Two timed passes, so a run's latency sample has two values per
    * query and `run_s` is the mean of two passes. */
  def minIterations: Int = 2

  /** The reference pass: records each query's (rows, hash) and warms
    * the JIT. */
  def warmUp(m: Measured): Unit = iterate(m, timed = false)

  /** One pass over the board. */
  def iterate(m: Measured, timed: Boolean): Double = {
    var bad = 0L
    var storedBytes = 0L
    val (_, wall) = Loop.timed(order.foreach { q =>
      release()
      val fn = graft.SparkEntry.queries(q)
      val t0 = System.nanoTime()
      val result =
        try Right(hashAction(fn(spark, dir))._2)
        catch { case e: Exception => Left(e.toString) }
      val latency = (System.nanoTime() - t0) / 1e9
      storedBytes += checkpointDir.map(Fs.size).getOrElse(0L)
      result match {
        case Left(err) =>
          bad += 1
          System.err.println(s"[perfbench] QUERY FAILED: $q: $err")
        case Right(got) => expected.get(q) match {
          case None => expected(q) = got
          case Some(want) if want != got =>
            bad += 1
            System.err.println(s"[perfbench] CHECK FAILED: $q: (rows, hash) $got, expected $want")
          case _ => ()
        }
      }
      if (timed) m.opS += latency
    })
    release()
    m.ops(order.length, bad)
    System.err.println(f"[perfbench] pass $wall%.2f s")
    if (timed) {
      m.iterationS += wall
      m.storedRatio += (sourceBytes + storedBytes).toDouble / sourceBytes
    }
    wall
  }

  /** One traced pass: spans around the release, the query function
    * (build) and the hash action, plus Catalyst phase times read from
    * the action's `queryExecution.tracker`. */
  def iterateTraced(m: Measured, tracer: Tracer): Double = {
    var bad = 0L
    val phases = mutable.Map[String, Double]().withDefaultValue(0.0)
    var cachedPeak = 0L
    val (_, wall) = Loop.timed(tracer.span("board") {
      order.foreach { q =>
        tracer.span("release")(release())
        tracer.span(s"query.$q") {
          try {
            val df = tracer.span("build")(graft.SparkEntry.queries(q)(spark, dir))
            val (act, got) = tracer.span("action")(hashAction(df))
            act.queryExecution.tracker.phases.foreach { case (phase, summary) =>
              phases(phase) += summary.durationMs / 1e3
            }
            if (!expected.get(q).contains(got)) bad += 1
          } catch { case _: Exception => bad += 1 }
        }
        cachedPeak = math.max(cachedPeak, spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum)
      }
    })
    release()
    tracer.drain()
    m.ops(order.length, bad)

    val cores = spark.sparkContext.defaultParallelism
    val board = tracer.named("board").last
    val queries = tracer.children(board).filter(_.name.startsWith("query."))
    def total(name: String): Double =
      queries.flatMap(tracer.children).filter(_.name == name).map(_.wallS).sum
    val c = new Counters
    queries.foreach(q => c += tracer.subtree(q))
    val queryWall = queries.map(_.wallS).sum
    m.layers ++= Seq(
      "queries.build_s" -> total("build"), "queries.action_s" -> total("action"),
      "catalyst.analysis_s" -> phases("analysis"),
      "catalyst.optimization_s" -> phases("optimization"),
      "catalyst.planning_s" -> phases("planning"),
      "queries.jobs" -> c.jobs.get.toDouble, "queries.stages" -> c.stages.get.toDouble,
      "queries.tasks" -> c.tasks.get.toDouble, "queries.task_s" -> c.taskS,
      "queries.cpu_s" -> c.cpuS, "queries.gc_s" -> c.gcS,
      "queries.deserialize_s" -> c.deserializeS,
      "queries.core_util" -> (if (queryWall > 0) c.taskS / (queryWall * cores) else 0.0),
      "queries.shuffle_read_bytes" -> c.shuffleRead.get.toDouble,
      "queries.shuffle_write_bytes" -> c.shuffleWrite.get.toDouble,
      "queries.spill_bytes" -> c.spill.get.toDouble,
      "ops.cache_release_s" ->
        tracer.children(board).filter(_.name == "release").map(_.wallS).sum,
      "ops.cached_bytes" -> cachedPeak.toDouble)
    queries.foreach { s =>
      val id = s.name.stripPrefix("query.")
      val kids = tracer.children(s)
      m.layers(s"query.$id.build_s") = kids.filter(_.name == "build").map(_.wallS).sum
      m.layers(s"query.$id.action_s") = kids.filter(_.name == "action").map(_.wallS).sum
    }
    wall
  }
}

object BoardWorkload {
  /** The board: q212 and q194 (the kernel and fixpoint targets) and
    * four of the frozen `graft.Bench` anchors, one per plan shape:
    * pruned scan, broadcast join, aggregation and exact dedup. The other
    * sixteen anchors are left out so that a reference pass and two
    * timed passes fit the run budget; see README.md. */
  val Queries: Seq[String] = Seq(
    "q01_pruned_scan", "q06_join_left_broadcast", "q12_agg_kpi_dashboard",
    "q20_dedup_exact", "q212_curve_comparison", "q194_cluster_agreement")
}

/** Local file-system helpers (the benchmark only touches its own
  * checkout, so java.nio on local paths is enough). */
object Fs {
  import scala.jdk.CollectionConverters._

  def size(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  def checkpointDir(spark: SparkSession): Option[Path] =
    spark.conf.getOption(graft.ops.Checkpoints.DirKey).filter(_.nonEmpty)
      .map(java.nio.file.Paths.get(_))
}
