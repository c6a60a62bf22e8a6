package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spans and engine metrics, recorded from outside the program through
  * Spark's public listener and query-execution callbacks.
  *
  * The harness opens an operation span per measured operation and a call
  * span around each call into graft. The innermost open span travels to
  * Spark as a local property, so every job (and through it every stage
  * and task) is attributed to the call that caused it. Planning phases
  * come from each action's `QueryPlanningTracker`, and plan-node metrics
  * from its executed (final adaptive) plan. Only operations opened with
  * `traced = true` are recorded; the others run through the same code
  * with no span bookkeeping, which is what the tracing overhead compares.
  */
final class Tracer(spark: SparkSession, listen: Boolean) {
  import Tracer._

  private val t0 = System.currentTimeMillis()
  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 0

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageOwner = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val actions = mutable.ArrayBuffer.empty[ActionRec]
  // traced operations' [start, end] wall-clock windows; query-execution
  // callbacks arrive asynchronously, so an action is kept when its
  // planning started inside one
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private var recording = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      span.foreach { s =>
        lock.synchronized {
          val op = spans(s.toInt).op
          jobs(e.jobId) = JobRec(e.jobId, op, s.toInt, e.time, -1L)
          e.stageIds.foreach(st => stageOwner.getOrElseUpdate(st, e.jobId))
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = e.stageInfo
      if (stageOwner.contains(si.stageId))
        stages(si.stageId) = StageRec(si.stageId, stageOwner(si.stageId), si.name,
          si.submissionTime.getOrElse(-1L), si.completionTime.getOrElse(-1L), si.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) lock.synchronized {
        stageOwner.get(e.stageId).foreach { job =>
          tasks += TaskRec(jobs(job).op, e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
            m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
            m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
            m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
            m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
  }

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    if (phases.nonEmpty) {
      val start = phases.values.map(_._1).min
      if (lock.synchronized(windows.exists { case (a, b) => start >= a && start <= b })) {
        val nodes = planNodes(qe.executedPlan)
        lock.synchronized { actions += ActionRec(funcName, start, phases, nodes) }
      }
    }
  }

  if (listen) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Run `body` as one operation; traced operations record spans. */
  def op[T](name: String, traced: Boolean)(body: => T): (T, Option[Int]) =
    if (!traced) (body, None)
    else {
      require(listen, "a traced operation needs a listening tracer")
      val w = lock.synchronized { windows += ((System.currentTimeMillis(), Long.MaxValue)); windows.size - 1 }
      recording = true
      try {
        var id = -1
        val r = span(name, isOp = true) { id = stack.top.id; body }
        (r, Some(id))
      } finally {
        recording = false
        lock.synchronized { windows(w) = (windows(w)._1, System.currentTimeMillis()) }
      }
    }

  /** A call span inside the current traced operation (a no-op outside one). */
  def call[T](name: String)(body: => T): T =
    if (!recording) body else span(name, isOp = false)(body)

  private def span[T](name: String, isOp: Boolean)(body: => T): T = {
    val sc = spark.sparkContext
    val parent = stack.headOption
    val s = lock.synchronized {
      val s = Span(nextId, name, parent.map(_.id).getOrElse(-1),
        if (isOp) nextId else parent.get.op, System.currentTimeMillis(), -1L)
      nextId += 1
      spans += s
      s
    }
    stack.push(s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      stack.pop()
      sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      lock.synchronized { spans(s.id) = s.copy(end = System.currentTimeMillis()) }
    }
  }

  /** Wait until every job this tracer saw has ended and the listener
    * queue has gone quiet, so aggregates read complete data.
    */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var lastSeen = -1
    var quiet = 0
    while (System.currentTimeMillis() < deadline && quiet < 3) {
      Thread.sleep(100)
      val (open, seen) = lock.synchronized((jobs.values.count(_.end < 0), tasks.size + actions.size))
      if (open == 0 && seen == lastSeen) quiet += 1 else quiet = 0
      lastSeen = seen
    }
  }

  /** Jobs whose span is `spanId` or one of its descendants. */
  def jobsUnder(spanId: Int): Int = lock.synchronized {
    val desc = descendants(spanId)
    jobs.values.count(j => desc.contains(j.span))
  }

  private def descendants(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    Set(id) ++ kids.flatMap(descendants)
  }

  /** Per-operation engine figures for operation `op`. */
  def opMetrics(op: Int, cores: Int): OpMetrics = lock.synchronized {
    val s = spans(op)
    val wallS = (s.end - s.start) / 1e3
    val ts = tasks.filter(_.op == op)
    val js = jobs.values.filter(_.op == op).toSeq
    val sts = stages.values.filter(st => jobs.get(st.job).exists(_.op == op)).toSeq
    val acts = actions.filter(a => a.start >= s.start && a.start <= s.end)
    // wall time of the operation with no task running anywhere
    val busy = union(ts.map(t => (math.max(t.launch, s.start), math.min(t.finish, s.end))).toSeq)
    val longest = if (sts.isEmpty) None else Some(sts.maxBy(st => st.end - st.submit))
    val skew = longest.map { st =>
      val d = ts.filter(_.stage == st.id).map(t => (t.finish - t.launch).toDouble).sorted
      if (d.isEmpty || d(d.size / 2) <= 0) 1.0 else d.last / d(d.size / 2)
    }.getOrElse(1.0)
    val writeJobs = js.filter(j => ts.exists(t => t.bytesWritten > 0 && stageOwner.get(t.stage).contains(j.id)))
    val nodeAgg = mutable.LinkedHashMap.empty[String, (Double, Long)]
    acts.foreach(_.nodes.foreach { n =>
      val (sec, rows) = nodeAgg.getOrElse(n.kind, (0.0, 0L))
      nodeAgg(n.kind) = (sec + n.seconds, rows + n.rows)
    })
    val cpuS = ts.map(_.cpuNs).sum / 1e9
    OpMetrics(
      wallS = wallS,
      planS = acts.map(_.phases.values.map { case (a, b) => (b - a) / 1e3 }.sum).sum,
      jobs = js.size, stages = sts.size, tasks = ts.size,
      driverGapS = math.max(0.0, wallS - busy / 1e3),
      taskS = ts.map(_.runMs).sum / 1e3, cpuS = cpuS,
      cpuUtil = if (wallS > 0) cpuS / (wallS * cores) else 0.0,
      gcS = ts.map(_.gcMs).sum / 1e3,
      shuffleWrite = ts.map(_.shuffleWrite).sum, shuffleRead = ts.map(_.shuffleRead).sum,
      spill = ts.map(_.spill).sum,
      peakTaskMem = if (ts.isEmpty) 0L else ts.map(_.peakMem).max,
      taskSkew = skew,
      readBytes = ts.map(_.bytesRead).sum, writeBytes = ts.map(_.bytesWritten).sum,
      writeS = writeJobs.map(j => (j.end - j.start) / 1e3).sum,
      nodes = nodeAgg.toMap)
  }

  /** Generator rows emitted by graft's ordered-pair generator in `op`. */
  def pairGeneratorRows(op: Int): Long = lock.synchronized {
    val s = spans(op)
    actions.filter(a => a.start >= s.start && a.start <= s.end)
      .flatMap(_.nodes).filter(_.pairGenerator).map(_.rows).sum
  }

  /** Every span plus the jobs and stages under traced operations, with
    * times in milliseconds from the tracer's creation.
    */
  def spanJson: Seq[Map[String, Any]] = lock.synchronized {
    val rel = (t: Long) => if (t < 0) -1L else t - t0
    val callSpans = spans.map(s => Map("id" -> s"s${s.id}", "name" -> s.name,
      "parent" -> (if (s.parent < 0) null else s"s${s.parent}"), "op" -> s"s${s.op}",
      "start_ms" -> rel(s.start), "end_ms" -> rel(s.end)))
    val planSpans = actions.zipWithIndex.flatMap { case (a, i) =>
      val parent = spans.filter(s => s.start <= a.start && (s.end < 0 || s.end >= a.start))
        .sortBy(-_.start).headOption
      Map("id" -> s"a$i", "name" -> s"action:${a.func}",
        "parent" -> parent.map(p => s"s${p.id}").orNull, "op" -> parent.map(p => s"s${p.op}").orNull,
        "start_ms" -> rel(a.start), "end_ms" -> rel(a.phases.values.map(_._2).maxOption.getOrElse(a.start))) +:
        a.phases.toSeq.sortBy(_._2._1).map { case (ph, (b, e)) =>
          Map("id" -> s"a$i.$ph", "name" -> s"plan:$ph", "parent" -> s"a$i",
            "op" -> parent.map(p => s"s${p.op}").orNull, "start_ms" -> rel(b), "end_ms" -> rel(e))
        }
    }
    val jobSpans = jobs.values.map(j => Map("id" -> s"j${j.id}", "name" -> s"job ${j.id}",
      "parent" -> s"s${j.span}", "op" -> s"s${j.op}", "start_ms" -> rel(j.start), "end_ms" -> rel(j.end)))
    val stageSpans = stages.values.toSeq.sortBy(_.id).map(st => Map("id" -> s"st${st.id}",
      "name" -> s"stage ${st.id}: ${st.name.takeWhile(_ != '\n')}", "parent" -> s"j${st.job}",
      "op" -> jobs.get(st.job).map(j => s"s${j.op}").orNull,
      "start_ms" -> rel(st.submit), "end_ms" -> rel(st.end), "tasks" -> st.numTasks))
    (callSpans ++ planSpans ++ jobSpans ++ stageSpans).toSeq
  }

  def spanIdsNamed(name: String): Seq[Int] = lock.synchronized(spans.filter(_.name == name).map(_.id).toSeq)
  def opOf(spanId: Int): Int = lock.synchronized(spans(spanId).op)

  def close(): Unit = if (listen) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, end: Long)
  final case class JobRec(id: Int, op: Int, span: Int, start: Long, end: Long)
  final case class StageRec(id: Int, job: Int, name: String, submit: Long, end: Long, numTasks: Int)
  final case class TaskRec(op: Int, stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long, peakMem: Long,
      bytesRead: Long, bytesWritten: Long)
  final case class Node(kind: String, seconds: Double, rows: Long, pairGenerator: Boolean)
  final case class ActionRec(func: String, start: Long, phases: Map[String, (Long, Long)], nodes: Seq[Node])

  final case class OpMetrics(wallS: Double, planS: Double, jobs: Int, stages: Int, tasks: Int,
      driverGapS: Double, taskS: Double, cpuS: Double, cpuUtil: Double, gcS: Double,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, peakTaskMem: Long, taskSkew: Double,
      readBytes: Long, writeBytes: Long, writeS: Double, nodes: Map[String, (Double, Long)])

  /** Node kinds reported per layer; any other node counts only toward
    * the top-by-time list.
    */
  val Kinds: Seq[String] = Seq("Sort", "Window", "HashAggregate", "ObjectHashAggregate",
    "Exchange", "BroadcastExchange", "Generate", "Write")

  private def kindOf(p: SparkPlan): String = p.nodeName match {
    case n if n.contains("InsertInto") || n.startsWith("WriteFiles") => "Write"
    case n if n.startsWith("Execute ") => n.stripPrefix("Execute ").takeWhile(_ != ' ')
    case n => n.takeWhile(_ != ' ')
  }

  /** Every node of the executed plan, descending through adaptive
    * wrappers to the final plan and through query stages and subqueries;
    * a reused exchange is skipped, since its metrics belong to the
    * original. A node's time is the sum of its timing metrics.
    */
  def planNodes(root: SparkPlan): Seq[Node] = {
    val out = mutable.ArrayBuffer.empty[Node]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => ()
      case _ =>
        val secs = p.metrics.values.map { m =>
          m.metricType match {
            case "timing"   => m.value / 1e3
            case "nsTiming" => m.value / 1e9
            case _          => 0.0
          }
        }.sum
        val rows = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        val pairGen = p match {
          case g: org.apache.spark.sql.execution.GenerateExec =>
            g.generator.isInstanceOf[graft.functions.OrderedPairsGen]
          case _ => false
        }
        out += Node(kindOf(p), secs, rows, pairGen)
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(root)
    out.toSeq
  }

  /** Total length of the union of intervals, in the intervals' unit. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }
}
