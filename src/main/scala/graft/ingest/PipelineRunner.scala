package graft.ingest

import scala.util.control.NonFatal

/** One orchestration stage: a name and a thunk. Mirrors one Airflow
  * task in the reference's DAG chain. */
final case class Stage(name: String, run: () => Unit)

final case class StageResult(name: String, status: String, attempts: Int, error: Option[String])

/** In-process sequential orchestrator (SURVEY §2.7 C8; reference
  * parent_dag.py:21-44 parent → ingestion → transforms chain,
  * retries=1 per task with a 5-minute retry delay per
  * parent_dag.py:16-17 / bq_dag.py:39-40 default_args, daily 05:00
  * cadence per parent_dag.py:23).
  *
  * Stages run strictly in order — the reference's DAG is a straight
  * chain (init → ingest hospitals → bronze → silver → gold), so a
  * Seq is the whole dependency graph. Inside a stage, independent
  * units of work (a datasource's table loads, the silver tables, the
  * gold marts) may run concurrently through graft.ops.Concurrently;
  * such a stage returns, or throws its first failure, only after all
  * of its units have finished, so a retry never overlaps a write of
  * the failed attempt. Each stage gets `retries`
  * re-attempts separated by `retryDelayMs` (the Airflow retry_delay);
  * a stage that exhausts them halts the run (downstream stages are
  * skipped, as Airflow would skip downstream tasks).
  *
  * Cadence: [[runDaily]] is the in-process equivalent of the
  * reference's `schedule_interval='0 5 * * *'` — sleep until the next
  * UTC HH:MM, run the chain, repeat. Deployments with an external
  * scheduler (cron, Airflow, k8s CronJob) instead invoke [[run]] once
  * per trigger; the engine keeps that contract schedule-agnostic by
  * holding NO state between runs except the audit watermarks, which
  * make any cadence (or a manual re-run) idempotent.
  *
  * The clock and sleeper are injectable so specs cover delay/cadence
  * logic without wall-clock waits.
  */
object PipelineRunner {

  /** Airflow retry_delay parity: 5 minutes (parent_dag.py:16-17). */
  val DefaultRetryDelayMs: Long = 5 * 60 * 1000L

  def run(stages: Seq[Stage], logger: PipelineLogger, retries: Int = 1,
      retryDelayMs: Long = DefaultRetryDelayMs,
      sleep: Long => Unit = Thread.sleep): Seq[StageResult] = {
    val results = Vector.newBuilder[StageResult]
    var halted = false
    for (stage <- stages) {
      if (halted) {
        results += StageResult(stage.name, "SKIPPED", 0, None)
      } else {
        var attempt = 0
        var done = false
        var lastErr: Option[String] = None
        while (!done && attempt <= retries) {
          attempt += 1
          try {
            logger.info(s"Stage started (attempt $attempt)", stage.name)
            stage.run()
            logger.success("Stage completed", stage.name)
            done = true
          } catch {
            case NonFatal(e) =>
              lastErr = Some(e.toString)
              logger.error("Stage failed", stage.name, "", e.toString)
              if (attempt <= retries && retryDelayMs > 0) sleep(retryDelayMs)
          }
        }
        if (done) results += StageResult(stage.name, "SUCCESS", attempt, None)
        else {
          results += StageResult(stage.name, "FAILED", attempt, lastErr)
          halted = true
        }
      }
    }
    logger.flush()
    results.result()
  }

  /** Millis from `now` until the next UTC `hour`:`minute` — tomorrow's
    * occurrence when today's has already passed (or is exactly now). */
  private[graft] def millisUntilNext(
      hour: Int, minute: Int, now: java.time.Instant): Long = {
    val utc = java.time.ZoneOffset.UTC
    val today = now.atZone(utc).toLocalDate
    val todayAt = today.atTime(hour, minute).atZone(utc).toInstant
    val next =
      if (todayAt.isAfter(now)) todayAt
      else today.plusDays(1).atTime(hour, minute).atZone(utc).toInstant
    java.time.Duration.between(now, next).toMillis
  }

  /** Daily cadence loop (reference parent_dag.py:23,
    * `schedule_interval='0 5 * * *'` → hour=5): sleep until the next
    * UTC HH:MM, run the chain, repeat. `rounds` bounds the loop for
    * tests and drain-style deployments; the default never returns. */
  def runDaily(stages: Seq[Stage], logger: PipelineLogger,
      hour: Int = 5, minute: Int = 0, retries: Int = 1,
      retryDelayMs: Long = DefaultRetryDelayMs, rounds: Int = Int.MaxValue,
      now: () => java.time.Instant = () => java.time.Instant.now(),
      sleep: Long => Unit = Thread.sleep): Unit = {
    var i = 0
    while (i < rounds) {
      sleep(millisUntilNext(hour, minute, now()))
      run(stages, logger, retries, retryDelayMs, sleep)
      i += 1
    }
  }
}
