package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchShims
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildSide}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval: the run, a pass, a call into the program, one of its
  * planning phases, or a job, stage or task it caused. `call` is the id
  * shared by every span of one call. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      call: Long, start: Long, end: Long)

/** What the tracer learned about one call: scheduler counts, executor task
  * metrics and facts read from the executed (AQE-final) plans. */
final class CallTrace(val id: Long, val name: String) {
  var startMs = 0L
  var endMs = 0L
  var jobs = 0
  var stages = 0
  val tasksPerStage = mutable.ArrayBuffer[Int]()
  val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
  val facts = mutable.Map[String, Double]().withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = facts(k) += v
}

/** Span recorder for traced runs: a SparkListener for jobs, stages and tasks
  * plus a QueryExecutionListener for plans and planning phases. The calling
  * thread opens a call with [[begin]] and closes it with [[end]], which
  * drains the listener bus, so every event lands on the call that caused it
  * without the program having to carry an id. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val ids = new java.util.concurrent.atomic.AtomicLong(2) // 1 is the run
  private val spanBuf = mutable.ArrayBuffer[Span]()
  private val callBuf = mutable.ArrayBuffer[CallTrace]()
  private val jobSpan = mutable.Map[Int, Long]()
  private val stageParent = mutable.Map[Int, Long]()
  private val stageSpan = mutable.Map[(Int, Int), Long]()
  @volatile private var current: CallTrace = _

  def nextId(): Long = ids.getAndIncrement()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    PerfbenchShims.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def span(s: Span): Unit = synchronized { spanBuf += s }
  def spans: Seq[Span] = synchronized(spanBuf.toList)
  def calls: Seq[CallTrace] = synchronized(callBuf.toList)

  def begin(name: String): CallTrace = {
    val c = new CallTrace(nextId(), name)
    c.startMs = System.currentTimeMillis()
    current = c
    synchronized { callBuf += c }
    c
  }

  /** Close the call, recording `buildTracker`'s phases (the DataFrame's own
    * analysis, run while the call built it). */
  def end(c: CallTrace, passSpan: Long, buildTracker: Option[QueryPlanningTracker]): Unit = {
    c.endMs = System.currentTimeMillis()
    PerfbenchShims.drainListenerBus(spark.sparkContext)
    buildTracker.foreach(phases(c, _))
    span(Span(c.id, passSpan, "call", c.name, c.id, c.startMs, c.endMs))
    current = null
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = withCall { c =>
    val id = nextId()
    jobSpan(e.jobId) = id
    e.stageIds.foreach(s => stageParent.getOrElseUpdate(s, id))
    c.jobs += 1
    span(Span(id, c.id, "job", s"job ${e.jobId}", c.id, e.time, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = withCall { c =>
    jobSpan.remove(e.jobId).foreach(close(_, e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = withCall { c =>
    val info = e.stageInfo
    val id = nextId()
    stageSpan((info.stageId, info.attemptNumber())) = id
    val start = info.submissionTime.getOrElse(System.currentTimeMillis())
    span(Span(id, stageParent.getOrElse(info.stageId, c.id), "stage",
      s"stage ${info.stageId}", c.id, start, start))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = withCall { c =>
    val info = e.stageInfo
    c.stages += 1
    c.tasksPerStage += info.numTasks
    stageSpan.remove((info.stageId, info.attemptNumber()))
      .foreach(close(_, info.completionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withCall { c =>
    val t = e.taskInfo
    c.taskIntervals += ((t.launchTime, t.finishTime))
    c.add("sched.tasks", 1)
    c.add("exec.task_s", (t.finishTime - t.launchTime) / 1e3)
    Option(e.taskMetrics).foreach { m =>
      c.add("exec.cpu_s", m.executorCpuTime / 1e9)
      c.add("exec.gc_s", m.jvmGCTime / 1e3)
      c.add("exec.launch_s", m.executorDeserializeTime / 1e3)
    }
    span(Span(nextId(), stageSpan.getOrElse((e.stageId, e.stageAttemptId), c.id), "task",
      s"task ${t.taskId}", c.id, t.launchTime, t.finishTime))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    withCall { c =>
      phases(c, qe.tracker)
      planFacts(c, qe.executedPlan)
    }

  // a failed call is counted by the harness, which sees the exception
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def withCall(f: CallTrace => Unit): Unit = {
    val c = current
    if (c != null) synchronized(f(c))
  }

  private def close(id: Long, endMs: Long): Unit = {
    val i = spanBuf.lastIndexWhere(_.id == id)
    if (i >= 0) spanBuf(i) = spanBuf(i).copy(end = endMs)
  }

  private def phases(c: CallTrace, t: QueryPlanningTracker): Unit = synchronized {
    val names = Map(QueryPlanningTracker.ANALYSIS -> "plans.analysis_s",
      QueryPlanningTracker.OPTIMIZATION -> "plans.optimize_s",
      QueryPlanningTracker.PLANNING -> "plans.physical_s")
    t.phases.foreach { case (phase, p) =>
      names.get(phase).foreach { k =>
        c.add(k, (p.endTimeMs - p.startTimeMs) / 1e3)
        span(Span(nextId(), c.id, "plan." + phase, phase, c.id, p.startTimeMs, p.endTimeMs))
      }
    }
  }

  private def seconds(m: SQLMetric): Double = m.metricType match {
    case "nsTiming" => m.value / 1e9
    case "timing" => m.value / 1e3
    case _ => m.value.toDouble
  }

  private def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(seconds).getOrElse(0.0)

  /** Every node of an executed plan, descending into AQE stages and
    * subqueries; reused exchanges and subqueries count where first built. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec | _: ReusedSubqueryExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Rows a subtree emits: its own row counter, else the nearest one below
    * a single-child chain (codegen wrappers, AQE reads, shuffle writes). */
  private def rowsOut(p: SparkPlan): Double =
    p.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(p match {
      case a: AdaptiveSparkPlanExec => rowsOut(a.executedPlan)
      case s: QueryStageExec => rowsOut(s.plan)
      case r: ReusedExchangeExec => rowsOut(r.child)
      case e: ShuffleExchangeExec => metric(e, "shuffleRecordsWritten")
      case _ if p.children.size == 1 => rowsOut(p.children.head)
      case _ => 0.0
    })

  private def planFacts(c: CallTrace, plan: SparkPlan): Unit = nodes(plan).foreach {
    case s: FileSourceScanExec =>
      c.add("scan.rows", metric(s, "numOutputRows"))
      c.add("scan.bytes", metric(s, "filesSize"))
      c.add("scan.time_s", metric(s, "scanTime"))
      c.add("scan.splits", s.inputRDD.getNumPartitions)
    case e: ShuffleExchangeExec =>
      c.add("exchange.bytes", metric(e, "shuffleBytesWritten"))
      c.add("exchange.write_s", metric(e, "shuffleWriteTime"))
      c.add("exchange.fetch_wait_s", metric(e, "fetchWaitTime"))
      c.add("exchange.partitions", metric(e, "numPartitions"))
    case b: BroadcastExchangeExec =>
      c.add("join.build_s", metric(b, "buildTime"))
    case j: BroadcastHashJoinExec =>
      join(c, j, rowsOut(streamed(j.buildSide, j))); c.add("plans.broadcast_joins", 1)
    case j: ShuffledHashJoinExec =>
      c.add("join.build_s", metric(j, "buildTime"))
      join(c, j, rowsOut(streamed(j.buildSide, j))); c.add("plans.shuffled_joins", 1)
    case j: SortMergeJoinExec =>
      join(c, j, rowsOut(j.left)); c.add("plans.shuffled_joins", 1)
    case j: BroadcastNestedLoopJoinExec =>
      join(c, j, rowsOut(streamed(j.buildSide, j))); c.add("plans.broadcast_joins", 1)
    case f: FilterExec if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) =>
      c.add("plans.bloom_filters", 1)
      c.add("bloom.in_rows", rowsOut(f.child))
      c.add("bloom.out_rows", metric(f, "numOutputRows"))
    case a: BaseAggregateExec =>
      c.add("agg.build_s", metric(a, "aggTime"))
      c.facts("agg.peak_bytes") = c.facts("agg.peak_bytes") max metric(a, "peakMemory")
      c.add("agg.spill_bytes", metric(a, "spillSize"))
      c.add("plans.bitmap_rewrites", a.aggregateExpressions.count { e =>
        (e.mode == Final || e.mode == Complete) &&
          e.aggregateFunction.isInstanceOf[graft.functions.BitmapDistinct]
      })
    case _ =>
  }

  private def streamed(build: BuildSide, j: SparkPlan): SparkPlan =
    if (build == BuildLeft) j.children(1) else j.children.head

  private def join(c: CallTrace, j: SparkPlan, probeRows: Double): Unit = {
    c.add("join.probe_rows", probeRows)
    c.add("join.out_rows", metric(j, "numOutputRows"))
  }
}

object Tracer {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (s, e) => (s max lo, e min hi) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - (s max reach); reach = e }
      }
    total
  }

  /** Self time per span kind: each span's duration minus the part of it its
    * child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
        (s.end - s.start - covered(kids, s.start, s.end)) / 1e3
      }.sum
    }
  }
}
