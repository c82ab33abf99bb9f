package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Execution counters of one span, summed from listener events. */
final class Counters {
  val jobs, stages, tasks = new AtomicLong
  val runNs, cpuNs, gcMs, deserializeNs = new AtomicLong
  val shuffleRead, shuffleWrite, spill, bytesWritten = new AtomicLong

  def +=(o: Counters): Unit = Seq(
    jobs -> o.jobs, stages -> o.stages, tasks -> o.tasks, runNs -> o.runNs,
    cpuNs -> o.cpuNs, gcMs -> o.gcMs, deserializeNs -> o.deserializeNs,
    shuffleRead -> o.shuffleRead, shuffleWrite -> o.shuffleWrite, spill -> o.spill,
    bytesWritten -> o.bytesWritten).foreach { case (a, b) => a.addAndGet(b.get) }

  def taskS: Double = runNs.get / 1e9
  def cpuS: Double = cpuNs.get / 1e9
  def gcS: Double = gcMs.get / 1e3
  def deserializeS: Double = deserializeNs.get / 1e9
}

/** One timed call: name, start, end and parent; the tracer's run id
  * is written with it. */
final case class Span(id: Int, name: String, parent: Option[Int], startNs: Long,
    var endNs: Long = 0L) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** The traced run's instrumentation: spans around each layer call plus
  * one `SparkListener` that attributes job, stage and task metrics to
  * the span that was open on the driver thread when the job started.
  *
  * Attribution rides a Spark local property (set when a span opens),
  * which Spark copies onto every job the thread submits, including the
  * jobs SQL execution starts on its helper threads. The listener bus is
  * asynchronous, so [[drain]] runs a marker job and waits for its end
  * event: the bus is FIFO, so every earlier event has been seen by then.
  *
  * Spans are kept in memory and written out once, by [[toJson]], when
  * the run ends.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  @volatile private var markerLatch: CountDownLatch = new CountDownLatch(0)
  @volatile private var markerGroup = ""

  private def countersOf(span: Int): Counters = counters.computeIfAbsent(span, _ => new Counters)

  private val listener = new SparkListener {
    private def spanOf(props: java.util.Properties): Option[Int] =
      Option(props).flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toInt)

    override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties).foreach { s =>
      countersOf(s).jobs.incrementAndGet()
      e.stageInfos.foreach(i => stageSpan.put(i.stageId, s))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { s =>
        stageSpan.put(e.stageInfo.stageId, s)
        countersOf(s).stages.incrementAndGet()
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val c = countersOf(s)
        c.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          c.runNs.addAndGet(m.executorRunTime * 1000000L)
          c.cpuNs.addAndGet(m.executorCpuTime)
          c.gcMs.addAndGet(m.jvmGCTime)
          c.deserializeNs.addAndGet(m.executorDeserializeTime * 1000000L)
          c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.spill.addAndGet(m.diskBytesSpilled)
          c.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
        }
      }
  }

  private val markerListener = new SparkListener {
    private val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == markerGroup))
        markerJobs.add(e.jobId)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markerJobs.remove(e.jobId)) markerLatch.countDown()
  }

  sc.addSparkListener(listener)
  sc.addSparkListener(markerListener)

  /** Times `body` as a span named `name`, nested in the open span. */
  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.length, name, open.headOption.map(_.id), System.nanoTime())
    spans += s
    open.push(s)
    val saved = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open.pop()
      sc.setLocalProperty(SpanProperty, saved)
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = {
    val group = s"perfbench-drain-${System.nanoTime()}"
    markerGroup = group
    markerLatch = new CountDownLatch(1)
    val saved = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, null)
    sc.setJobGroup(group, "listener drain marker")
    try sc.parallelize(Seq(1), 1).count()
    finally { sc.clearJobGroup(); sc.setLocalProperty(SpanProperty, saved) }
    if (!markerLatch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain within 60 s")
  }

  def stop(): Unit = { sc.removeSparkListener(listener); sc.removeSparkListener(markerListener) }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def children(s: Span): Seq[Span] = spans.filter(_.parent.contains(s.id)).toSeq
  def selfS(s: Span): Double = s.wallS - children(s).map(_.wallS).sum

  /** Counters of `s` and every span nested in it. */
  def subtree(s: Span): Counters = {
    val c = new Counters
    def go(x: Span): Unit = {
      Option(counters.get(x.id)).foreach(c += _)
      children(x).foreach(go)
    }
    go(s)
    c
  }

  /** The spans as JSON lines, one object per span. */
  def toJson: String = spans.map { s =>
    val c = Option(counters.get(s.id)).getOrElse(new Counters)
    Json.obj(
      "run_id" -> Json.str(runId), "id" -> s.id.toString, "name" -> Json.str(s.name),
      "parent" -> s.parent.map(_.toString).getOrElse("null"),
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
      "wall_s" -> Json.num(s.wallS), "self_s" -> Json.num(selfS(s)),
      "jobs" -> c.jobs.get.toString, "stages" -> c.stages.get.toString,
      "tasks" -> c.tasks.get.toString, "task_s" -> Json.num(c.taskS),
      "cpu_s" -> Json.num(c.cpuS), "gc_s" -> Json.num(c.gcS),
      "shuffle_read_bytes" -> c.shuffleRead.get.toString,
      "shuffle_write_bytes" -> c.shuffleWrite.get.toString,
      "bytes_written" -> c.bytesWritten.get.toString)
  }.mkString("", "\n", "\n")
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
