package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracer. Every call the harness makes into the program is
  * a span (name, start, end, parent). When tracing is on, the span's id
  * is set as the Spark job group on the calling thread, so every job the
  * call submits, from the caller or from the program's own pool threads
  * (which inherit the thread's local properties), is tied to it. A
  * SparkListener records jobs and stages; a QueryExecutionListener
  * records each DataFrame action. Everything stays in memory until
  * `toJson`. While the tracer is inactive (the default) no listener is
  * attached and `span` only runs its body. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val milli0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock as the listener's job and stage times. */
  def now: Double = milli0 + (System.nanoTime() - nano0) / 1e6

  import Tracer.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0

  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val actions = mutable.ArrayBuffer.empty[Map[String, Any]]
  @volatile private var lastEvent = System.nanoTime()
  /** Listener callbacks run on the listener bus thread. */
  private def locked[T](body: => T): T = Tracer.this.synchronized(body)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = locked {
      val p = Option(e.properties)
      def prop(k: String): String = p.map(_.getProperty(k)).orNull
      jobs(e.jobId) = mutable.Map("id" -> e.jobId, "start" -> e.time,
        "group" -> prop("spark.jobGroup.id"),
        "desc" -> prop("spark.job.description"),
        "stages" -> e.stageIds.toSeq)
      lastEvent = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = locked {
      jobs.get(e.jobId).foreach { j =>
        j("end") = e.time
        j("ok") = e.jobResult == JobSucceeded
      }
      lastEvent = System.nanoTime()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      locked {
        val s = e.stageInfo
        val m = s.taskMetrics
        stages += Map("id" -> s.stageId, "attempt" -> s.attemptNumber(),
          "tasks" -> s.numTasks,
          "submitted" -> s.submissionTime.getOrElse(0L),
          "completed" -> s.completionTime.getOrElse(0L),
          "run_ms" -> (if (m == null) 0L else m.executorRunTime),
          "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
          "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
          "records_read" ->
            (if (m == null) 0L else m.inputMetrics.recordsRead),
          "shuffle_bytes" -> (if (m == null) 0L
            else m.shuffleWriteMetrics.bytesWritten),
          "spill_bytes" -> (if (m == null) 0L
            else m.memoryBytesSpilled + m.diskBytesSpilled),
          "peak_mem" -> (if (m == null) 0L else m.peakExecutionMemory))
        lastEvent = System.nanoTime()
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def rec(func: String, ns: Long, ok: Boolean): Unit =
      locked {
        val end = now
        actions += Map("func" -> func, "end" -> end,
          "start" -> (end - ns / 1e6), "ok" -> ok)
        lastEvent = System.nanoTime()
      }
    override def onSuccess(func: String, qe: QueryExecution,
        durationNs: Long): Unit = rec(func, durationNs, ok = true)
    override def onFailure(func: String, qe: QueryExecution,
        exception: Exception): Unit = rec(func, 0L, ok = false)
  }

  private var active = false

  /** Attach (true) or detach (false) the listeners. Detaching first
    * waits for the events of the jobs already run. */
  def setActive(on: Boolean): Unit = if (on != active) {
    if (on) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      drain()
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    active = on
  }

  /** Run `body` as a span named `name`, child of the current span. */
  def span[T](name: String, attrs: (String, Any)*)(body: => T): T = {
    if (!active) return body
    val s = synchronized {
      nextId += 1
      val sp = Span(s"pb-$nextId", name,
        stack.headOption.map(_.id).orNull, now, Double.NaN, attrs.toMap)
      spans += sp
      stack = sp :: stack
      sp
    }
    sc.setJobGroup(s.id, name)
    try body
    finally {
      s.end = now
      synchronized { stack = stack.tail }
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Wait until the listener bus has delivered every job's end: no
    * event for a quiet period and every started job has ended. */
  def drain(timeoutMs: Long = 20000L): Unit = {
    val t0 = System.nanoTime()
    def quiet = (System.nanoTime() - lastEvent) > 300L * 1000 * 1000
    def open = synchronized(jobs.values.exists(j => !j.contains("end")))
    while ((open || !quiet) &&
        (System.nanoTime() - t0) < timeoutMs * 1000L * 1000L)
      Thread.sleep(50)
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start" -> s.start, "end" -> s.end,
        "attrs" -> s.attrs)).toSeq,
      "jobs" -> jobs.values.map(_.toMap).toSeq,
      "stages" -> stages.toSeq,
      "actions" -> actions.toSeq)
  }
}

object Tracer {
  private final case class Span(id: String, name: String,
      parent: String, start: Double, var end: Double,
      attrs: Map[String, Any])
}
