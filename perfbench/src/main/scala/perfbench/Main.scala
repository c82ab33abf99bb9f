package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark entry point: one workload, one seed, one measurement.
  *
  * {{{
  * Main --workload <pipeline_full|board_cold>
  *      --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * The session has the shape `graft.Bench` and `graft.Verify` gate on:
  * the engine's extensions, ANSI off, AQE on, shuffle partitions = cores
  * and `local[cores]`, all in this one process.
  *
  * Set-up (session start, input generation and the workload's
  * warm-up, if it has one) is timed as `setup_s`; then iterations run
  * back to back for `--seconds`, at least one. With `--trace 1` an
  * untraced, a traced and another untraced iteration follow, and the
  * per-layer metrics
  * are printed instead of the end-to-end ones. Every iteration's
  * outputs are checked; the last stdout line is the result JSON.
  */
object Main {

  /** Fixture volume factor (× the reference volumes) of the pipeline
    * workloads and scale factor of the board's generated tables. */
  val Volume = 0.1
  val Sf = 0.005

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  private def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Seq("pipeline_full", "board_cold").contains(a.workload),
      s"unknown workload ${a.workload}")
    Fs.delete(a.work)
    Files.createDirectories(a.work)

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config(graft.ops.Checkpoints.DirKey, a.work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] session $sessionS%.2f s")

    val m = new Measured
    val (w, genS) = Loop.timed[Workload](a.workload match {
      case "board_cold" => new BoardWorkload(spark, a.work, a.seed, Sf)
      case _ => new PipelineWorkload(spark, a.work, a.seed, Volume)
    })
    System.err.println(f"[perfbench] generate $genS%.2f s")
    m.setupS = sessionS + genS + Loop.timed(w.warmUp(m))._2

    // the host probe brackets the measured iterations
    val probePre = Host.cpuProbe(spark)
    Loop(a.seconds, w.minIterations)(w.iterate(m, timed = true))
    if (a.trace) {
      // overhead: the traced iteration against the mean of the untraced
      // ones on either side of it, so JIT warm-up during the three
      // favours neither side
      val before = w.iterate(m, timed = false)
      val tracer = new Tracer(spark, s"${a.workload}-${a.seed}")
      val traced = w.iterateTraced(m, tracer)
      tracer.stop()
      val after = w.iterate(m, timed = false)
      m.layers("trace.overhead_ratio") = traced / ((before + after) / 2)
      val out = a.work.getParent.resolve(s"trace-${a.workload}-${a.seed}.jsonl")
      Files.writeString(out, tracer.toJson)
      println(s"[perfbench] spans written to $out")
    }
    val probePost = Host.cpuProbe(spark)
    spark.stop()
    Fs.delete(a.work)

    val runS = Stats.median(m.iterationS.toSeq)
    val measuredS = m.iterationS.sum
    val e2e = Seq(
      ("setup_s", m.setupS, "s"),
      ("run_s", runS, "s"),
      ("rows_per_s", w.sourceRows / runS, "1/s"),
      ("queries_per_s", m.opS.length / measuredS, "1/s"),
      ("query_p50_s", Stats.quantile(m.opS.toSeq, 0.5), "s"),
      ("query_p90_s", Stats.quantile(m.opS.toSeq, 0.9), "s"),
      ("bytes_stored_per_source_byte", Stats.median(m.storedRatio.toSeq), "ratio"),
      ("peak_rss_mb", Host.peakRssMb(), "MB"))
    val failedRatio = m.failed.toDouble / math.max(1L, m.attempted)

    val host = Json.obj("nproc" -> cores.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "seed" -> a.seed.toString, "workload" -> Json.str(a.workload),
      "volume" -> Json.num(Volume), "sf" -> Json.num(Sf),
      "iterations" -> m.iterationS.length.toString,
      "query_samples" -> m.opS.length.toString,
      "cpu_probe_pre_s" -> Json.num(probePre), "cpu_probe_post_s" -> Json.num(probePost))
    println(s"[perfbench] host $host")
    e2e.foreach { case (k, v, u) => println(f"[perfbench] $k%-30s ${Json.num(v)} $u") }
    println(f"[perfbench] ${"failed_ratio"}%-30s ${Json.num(failedRatio)} ratio " +
      s"(${m.failed} of ${m.attempted} operations)")
    m.layers.foreach { case (k, v) => println(f"[perfbench] layer $k%-40s ${Json.num(v)}") }

    val metrics =
      if (a.trace) PerLayer.names.map(k => (k, m.layers.getOrElse(k, 0.0), Units.of(k)))
      else e2e
    val result = Json.obj(
      "correct" -> (m.failed == 0).toString,
      "attempted" -> m.attempted.toString,
      "failed" -> m.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
      }: _*))
    println(result)
    if (m.failed > 0) sys.exit(1)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Every per-layer metric a traced run reports, on every workload; a
  * layer the workload does not run reads 0. */
object PerLayer {
  val PipelineLayers = Seq("init", "ingest", "bronze", "silver", "gold")
  val names: Seq[String] =
    PipelineLayers.flatMap(l => Seq("wall_s", "jobs", "tasks", "task_s", "cpu_s", "core_util",
      "shuffle_bytes", "bytes_written").map(m => s"$l.$m")) ++
    Seq("ingest.rows_landed", "ingest.tables_failed", "silver.rows_out",
      "silver.rows_inserted", "silver.rows_closed", "silver.rows_quarantined",
      "gold.rows_out", "pipeline.residual_s") ++
    Seq("queries.build_s", "queries.action_s", "catalyst.analysis_s",
      "catalyst.optimization_s", "catalyst.planning_s", "queries.jobs", "queries.stages",
      "queries.tasks", "queries.task_s", "queries.cpu_s", "queries.gc_s",
      "queries.deserialize_s", "queries.core_util", "queries.shuffle_read_bytes",
      "queries.shuffle_write_bytes", "queries.spill_bytes", "ops.cache_release_s",
      "ops.cached_bytes") ++
    BoardWorkload.Queries.flatMap(q => Seq(s"query.$q.build_s", s"query.$q.action_s")) :+
    "trace.overhead_ratio"
}

/** Units of the per-layer metrics, by name suffix. */
object Units {
  def of(name: String): String = name.split('.').last match {
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_bytes") || n == "bytes_written" => "bytes"
    case "core_util" | "overhead_ratio" => "ratio"
    case _ => "count"
  }
}

/** Host context, so a reader can tell a degraded host from a
  * regression. */
object Host {

  /** CPU + shuffle probe following `graft.Bench.sentinel`: hash a
    * fixed range of longs, shuffle into 64 groups and fold. Data-
    * independent, so its time measures the host, not the engine. One
    * discarded warm-up, then the min of two. Sized at 2M longs over
    * 8 partitions (Bench uses 20M over 32 and the min of three) so the
    * pair of probes costs about a second. */
  def cpuProbe(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 2000000L, 1, 8)
        .select(xxhash64(col("id")).as("h"))
        .groupBy(pmod(col("h"), lit(64L)).as("g"))
        .agg(sum("h").as("s"), count(lit(1)).as("c"))
        .agg(sum(xxhash64(col("g"), col("s"), col("c")))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    math.min(once(), once())
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val status = Files.readAllLines(Paths.get("/proc/self/status"))
    val line = status.toArray(Array[String]()).find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("VmHWM missing from /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
