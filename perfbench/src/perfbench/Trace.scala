package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run. A span is opened around each
  * call the benchmark makes into a layer; spans nest on the calling thread,
  * and the open span's id rides on the Spark local property [[SpanProperty]]
  * so [[SparkCounters]] can charge every job, stage and task to the span
  * that submitted it. Disabled (the default), it only runs the body. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  /** Request id stamped on every span opened until it changes. */
  var request: Long = -1L

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      try body
      finally {
        spans += Span(id, name, parent, request, t0, System.nanoTime(), w0,
          System.currentTimeMillis())
        stack.pop()
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.toString).orNull)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Span name -> summed self time in ms: each span's duration minus the
    * time its direct children cover (children run sequentially on the one
    * benchmark thread, so their durations do not overlap). */
  def selfMs: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.durNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.durNs - childNs(s.id)) / 1e6).sum }
  }

  /** Span name -> summed wall time in ms. */
  def totalMs: Map[String, Double] =
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.durNs / 1e6).sum }

  /** Ids of every span named `name` and of all spans below them. */
  def subtree(name: String): Set[Int] = {
    val kids = spans.groupBy(_.parent).map { case (p, ss) => p -> ss.map(_.id) }
    val roots = spans.filter(_.name == name).map(_.id)
    val out = mutable.Set.empty[Int]
    def walk(id: Int): Unit = if (out.add(id)) kids.getOrElse(id, Nil).foreach(walk)
    roots.foreach(walk)
    out.toSet
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map(s => Main.json(scala.collection.immutable.ListMap(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  /** Times in ns (`System.nanoTime`, for durations) and in wall-clock ms
    * (to place listener events that carry only wall-clock times). */
  final case class Span(id: Int, name: String, parent: Int, request: Long,
                        startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
    def durNs: Long = endNs - startNs
  }
}

/** Per-span counters from Spark's listener bus: jobs, stages, tasks and
  * their task metrics, charged to the span that submitted the job (work no
  * open span submitted is charged to span id -1); plus Catalyst phase time
  * from the query-execution listener, placed by the wall-clock start of the
  * query's first phase. Registered in the traced run only. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  final class Acc {
    val jobs, stages, tasks, failedTasks = new AtomicLong
    val runMs, cpuNs, gcMs, schedWaitMs = new AtomicLong
    val scanRows, scanBytes, shuffleWriteBytes = new AtomicLong
  }

  private val accs = new ConcurrentHashMap[Int, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  /** (wall-clock ms the query's first phase started, analysis +
    * optimization + planning ms) per finished query. */
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val events = new AtomicLong

  private def acc(span: Int): Acc = accs.computeIfAbsent(span, _ => new Acc)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val span = spanOf(e.properties)
    acc(span).jobs.incrementAndGet()
    e.stageIds.foreach(stageSpan.put(_, span))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    events.incrementAndGet()
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(e.stageInfo.stageId, t))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    acc(stageSpan.getOrDefault(e.stageInfo.stageId, -1)).stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val a = acc(stageSpan.getOrDefault(e.stageId, -1))
    a.tasks.incrementAndGet()
    if (e.taskInfo != null) {
      if (e.taskInfo.failed) a.failedTasks.incrementAndGet()
      if (stageSubmitMs.containsKey(e.stageId))
        a.schedWaitMs.addAndGet(
          math.max(0L, e.taskInfo.launchTime - stageSubmitMs.get(e.stageId)))
    }
    val m = e.taskMetrics
    if (m != null) {
      a.runMs.addAndGet(m.executorRunTime)
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.scanRows.addAndGet(m.inputMetrics.recordsRead)
      a.scanBytes.addAndGet(m.inputMetrics.bytesRead)
      a.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  private def onQuery(qe: QueryExecution): Unit = {
    events.incrementAndGet()
    val phases = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
    if (phases.nonEmpty)
      queries.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    onQuery(qe)

  /** Wait until the asynchronous listener bus has delivered every event of
    * the finished phase: no new event for three consecutive polls. */
  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    var polls = 0
    while (quiet < 3 && polls < 60) {
      Thread.sleep(50)
      val now = events.get
      if (now == last) quiet += 1 else quiet = 0
      last = now
      polls += 1
    }
  }

  /** (planning ms, queries) of the queries that started inside one of the
    * given wall-clock intervals. */
  def catalyst(intervals: Seq[(Long, Long)]): (Long, Long) = {
    val in = queries.asScala.filter { case (t, _) =>
      intervals.exists { case (a, b) => t >= a && t <= b } }
    (in.map(_._2).sum, in.size.toLong)
  }

  /** Sum a counter over a set of span ids (all spans when `spans` is None). */
  def sum(spans: Option[Set[Int]])(f: Acc => AtomicLong): Long =
    accs.asScala.collect { case (id, a) if spans.forall(_(id)) => f(a).get }.sum
}
