package graft.ingest

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Structured pipeline logging (SURVEY §2.7 C5; reference
  * hospitalA_mysqlToLanding.py:54-90). Events are buffered on the
  * driver and appended in one write at `flush()` — the reference's
  * per-event remote insert (:84-90) is a designed-out anti-pattern
  * (SURVEY §4.3 #3). The buffer is guarded by the logger's lock, so
  * units of work running concurrently can log into one logger.
  */
final class PipelineLogger(spark: SparkSession, path: String, clock: () => Timestamp) {
  import spark.implicits._

  private val buf = ArrayBuffer.empty[LogEvent]

  def log(eventType: String, message: String, step: String,
      table: String = "", errorTrace: String = ""): Unit = {
    val event = LogEvent(clock(), eventType, message, step, table, errorTrace)
    synchronized { buf += event }
  }

  def info(msg: String, step: String, table: String = ""): Unit =
    log("INFO", msg, step, table)
  def success(msg: String, step: String, table: String = ""): Unit =
    log("SUCCESS", msg, step, table)
  def error(msg: String, step: String, table: String, trace: String): Unit =
    log("ERROR", msg, step, table, trace)

  def pending: Seq[LogEvent] = synchronized(buf.toSeq)

  /** Append all buffered events as one write; clears the buffer. */
  def flush(): Unit = synchronized {
    if (buf.nonEmpty) {
      buf.toSeq.toDS().write.mode(SaveMode.Append).parquet(path)
      buf.clear()
    }
  }
}
