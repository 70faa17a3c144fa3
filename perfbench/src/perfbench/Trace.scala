package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `trace` is the id of the
  * root span of the same request or query. Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      start: Long, end: Long, attrs: String) {
  def ns: Long = end - start
}

/** In-memory span recorder. With `enabled` false every call is a plain
  * pass-through; `on` lets a traced run switch recording off for the
  * segments that measure the tracing overhead. Spans are written when the
  * run ends, never during it. */
final class Trace(val enabled: Boolean) {
  @volatile var on: Boolean = enabled

  private val ids = new AtomicLong
  private val done = new ConcurrentLinkedQueue[Span]
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def span[A](name: String, attrs: => String = "")(body: => A): A =
    if (!on) body
    else {
      val outer = stack.get
      val id = ids.incrementAndGet()
      val (parent, trace) = outer.headOption.getOrElse((0L, id))
      stack.set((id, trace) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        done.add(Span(id, parent, trace, name, t0, t1, attrs))
      }
    }

  /** Id of the innermost open span on this thread (0 outside any). */
  def currentId: Long = stack.get.headOption.map(_._1).getOrElse(0L)

  /** Record an interval measured by the caller (e.g. a client round trip). */
  def add(name: String, start: Long, end: Long, attrs: String): Unit =
    if (on) {
      val id = ids.incrementAndGet()
      done.add(Span(id, 0L, id, name, start, end, attrs))
    }

  def spans: Seq[Span] = done.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.start).map(s => Json.render(Json.obj(
      "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end, "attrs" -> s.attrs)))
    Json.writeFile(path, lines.mkString("", "\n", "\n"))
  }
}

object Trace {
  /** Local properties the benchmark sets on the threads that submit jobs; the
    * listeners read them back from each job. */
  val TracedKey = "perfbench.traced"
  val SpanKey = "perfbench.span"
}

/** Spark-side counters for traced jobs: job intervals, and per-stage
  * shuffle, input, spill and task counts. Only jobs submitted while the
  * submitting thread carried `perfbench.traced=1` are recorded. */
final class SparkLog extends SparkListener {
  final case class Job(id: Int, span: Long, start: Long)
  final case class Stage(job: Int, submitted: Long, completed: Long, shuffleWrite: Long,
                         inputRecords: Long, spill: Long, tasks: Int)

  val jobs = TrieMap.empty[Int, Job]
  val jobEnds = TrieMap.empty[Int, Long]
  private val stageJob = TrieMap.empty[Int, Int]
  val stages = new ConcurrentLinkedQueue[Stage]

  private def prop(e: SparkListenerJobStart, k: String): String =
    Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (prop(e, Trace.TracedKey) == "1") {
      val span = scala.util.Try(prop(e, Trace.SpanKey).toLong).getOrElse(0L)
      jobs.put(e.jobId, Job(e.jobId, span, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (jobs.contains(e.jobId)) jobEnds.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stageJob.get(i.stageId).foreach { job =>
      val m = i.taskMetrics
      if (m != null)
        stages.add(Stage(job, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.recordsRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, i.numTasks))
    }
  }

  /** Listener events arrive asynchronously: wait (bounded) until every
    * recorded job has ended and the counts stopped moving. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var stable = 0
    var last = -1
    while (stable < 3 && System.nanoTime() < deadline) {
      val open = jobs.keySet.count(j => !jobEnds.contains(j))
      val n = stages.size
      if (open == 0 && n == last) stable += 1 else stable = 0
      last = n
      Thread.sleep(15)
    }
  }

  def stagesOf(pred: Job => Boolean): Seq[Stage] = {
    val ids = jobs.values.filter(pred).map(_.id).toSet
    stages.asScala.toSeq.filter(s => ids(s.job))
  }
}

/** Analysis + optimization + planning time of each traced action, from
  * QueryExecution.tracker. */
final class PlanLog(trace: Trace) extends QueryExecutionListener {
  // boxed, so that poll() on an empty queue reads as null, not 0.0
  private val entries = new ConcurrentLinkedQueue[java.lang.Double]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (trace.on) {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs.toDouble).sum
      entries.add(java.lang.Double.valueOf(ms))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Take every entry recorded so far, waiting (bounded) until at least
    * one has arrived: the action's own callback lands asynchronously. */
  def drain(): Double = {
    val deadline = System.nanoTime() + 2000000000L
    while (entries.isEmpty && System.nanoTime() < deadline) Thread.sleep(1)
    var total = 0.0
    var e = entries.poll()
    while (e != null) { total += e.doubleValue; e = entries.poll() }
    total
  }
}

object SparkLog {
  def attach(spark: SparkSession, trace: Trace): (SparkLog, PlanLog) = {
    val s = new SparkLog
    val p = new PlanLog(trace)
    spark.sparkContext.addSparkListener(s)
    spark.listenerManager.register(p)
    (s, p)
  }

  /** Tag the jobs this thread submits with `span` (recorded only while the
    * trace is on). */
  def tag(spark: SparkSession, trace: Trace, span: Long): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.TracedKey, if (trace.on) "1" else null)
    sc.setLocalProperty(Trace.SpanKey, span.toString)
  }

  def clear(spark: SparkSession): Unit =
    Seq(Trace.TracedKey, Trace.SpanKey).foreach(k => spark.sparkContext.setLocalProperty(k, null))
}
