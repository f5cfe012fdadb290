package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: a pass, a pipeline, a call into a layer (builder,
  * executedPlan, noop write) or a Spark job seen by the listener.
  * Times are epoch microseconds; `parent` is the id of the enclosing
  * span (-1 at the top).
  */
final case class Span(id: Int, name: String, layer: String, startUs: Long, endUs: Long,
    parent: Int, runId: String)

/** In-memory span log. Benchmark-side spans nest by construction (a
  * stack); listener-observed job spans get their parent afterwards, as
  * the innermost benchmark span that contains the job's start.
  */
final class Spans(runId: String) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, String, Long)]
  private var next = 0
  // nanoTime has the resolution, currentTimeMillis the epoch that Spark's
  // listener events carry; spans use nanoTime shifted onto that epoch
  private val epochOffsetUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = System.nanoTime() / 1000L + epochOffsetUs

  def apply[T](name: String, layer: String)(body: => T): T = {
    val id = next; next += 1
    stack.push((id, name, layer, nowUs))
    try body finally {
      val (_, n, l, s) = stack.pop()
      buf += Span(id, n, l, s, nowUs, stack.headOption.map(_._1).getOrElse(-1), runId)
    }
  }

  /** Adds Spark job spans (ms resolution) under the innermost
    * benchmark span containing each job's start.
    */
  def addJobs(jobs: Seq[(Int, String, Long, Long)]): Unit = {
    val bench = buf.toVector
    jobs.foreach { case (jobId, group, s, e) =>
      val parent = bench.filter(b => b.startUs <= s && s <= b.endUs)
        .sortBy(b => b.endUs - b.startUs).headOption.map(_.id).getOrElse(-1)
      buf += Span(next, s"job $jobId ($group)", "spark.job", s, e, parent, runId)
      next += 1
    }
  }

  def all: Seq[Span] = buf.toVector

  /** Self time per layer: each span's duration minus its children's. */
  def selfSecondsByLayer: Map[String, Double] = {
    val spans = all
    val childUs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endUs - c.startUs).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endUs - s.startUs) - childUs.getOrElse(s.id, 0L)).sum / 1e6
    }
  }

  def toJson: String = {
    val self = selfSecondsByLayer.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}")
    val spans = all.sortBy(_.id).map { s =>
      s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "layer": ${Json.str(s.layer)}, """ +
        s""""start_us": ${s.startUs}, "end_us": ${s.endUs}, "parent": ${s.parent}, "run_id": ${Json.str(s.runId)}}"""
    }.mkString("[\n", ",\n", "\n]")
    s"""{"run_id": ${Json.str(runId)}, "self_s_by_layer": $self, "spans": $spans}"""
  }
}

/** Task-level totals of one job group. */
final class GroupCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var taskMs = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakTaskMem = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val jobSpans = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
}

/** SparkListener that sums TaskMetrics per job group (one group per
  * pipeline execution). With `full = false` it only keeps the largest
  * task peak execution memory, which the untraced runs report.
  */
final class SparkCounters(full: Boolean) extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupCounters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  @volatile var peakTaskMem = 0L
  /** The job group of the execution in flight. The benchmark runs one
    * execution at a time and drains the bus after it, so every job that
    * starts in between is charged to it: the jobs under its own group,
    * and the streaming micro-batch jobs, which run under their query's
    * group instead.
    */
  @volatile var current = "none"

  private def group(g: String) = groups.getOrElseUpdate(g, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = current
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = (g, e.time)
    if (full) group(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      if (full) group(g).jobSpans += ((e.jobId, g, t0 * 1000L, e.time * 1000L))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (full) group(stageGroup.getOrElse(e.stageInfo.stageId, "none")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && m.peakExecutionMemory > peakTaskMem) peakTaskMem = m.peakExecutionMemory
    if (full) {
      val c = group(stageGroup.getOrElse(e.stageId, "none"))
      c.tasks += 1
      if (!e.taskInfo.successful) c.taskFailures += 1
      c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
        c.peakTaskMem = math.max(c.peakTaskMem, m.peakExecutionMemory)
      }
    }
  }

  def resetPeak(): Unit = peakTaskMem = 0L

  /** Removes and returns the counters of group `g`. */
  def take(g: String): GroupCounters = synchronized { groups.remove(g).getOrElse(new GroupCounters) }
}

/** Collects the QueryExecution of every SQL action, so that the
  * executed plans' SQL metrics can be read once the action is done.
  */
final class PlanCollector extends QueryExecutionListener {
  private val qes = mutable.ArrayBuffer.empty[QueryExecution]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qes += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def take(): Seq[QueryExecution] = synchronized { val r = qes.toVector; qes.clear(); r }
}

/** SQL-metric totals read off executed plans. */
final case class PlanMetrics(scanBytes: Long, scanMs: Long, candidatePairs: Long)

object PlanMetrics {
  /** Every physical node of an executed plan, looking through adaptive
    * wrappers, query stages and cached relations (each cached plan
    * once), and not into reused exchanges.
    */
  def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = if (seen.add(p)) p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => out += s; walk(s.plan)
      case _: ReusedExchangeExec => ()
      case m: InMemoryTableScanExec => out += m; walk(m.relation.cachedPlan)
      case other => out += other; other.children.foreach(walk); other.subqueries.foreach(walk)
    }
    walk(root)
    out.toVector
  }

  def of(qes: Seq[QueryExecution]): PlanMetrics = {
    var bytes = 0L; var ms = 0L; var pairs = 0L
    qes.foreach { qe =>
      nodes(qe.executedPlan).foreach {
        case f: FileSourceScanExec =>
          f.metrics.get("filesSize").foreach(bytes += _.value)
          f.metrics.get("scanTime").foreach(ms += _.value)
        // the containment self-join: the one inner join on the gram code
        case j: BaseJoinExec if j.joinType == org.apache.spark.sql.catalyst.plans.Inner &&
            j.leftKeys.exists(_.references.exists(_.name == "__g")) =>
          j.metrics.get("numOutputRows").foreach(pairs += _.value)
        case _ =>
      }
    }
    PlanMetrics(bytes, ms, pairs)
  }
}

/** Streaming progress of the replayed queries: one entry per
  * micro-batch that read input.
  */
final class StreamProgress extends StreamingQueryListener {
  final case class Batch(seconds: Double, stateRows: Long, stateMemBytes: Long)
  private val batches = mutable.ArrayBuffer.empty[Batch]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0) {
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      batches += Batch(ms / 1000.0, p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
    }
  }
  def take(): Seq[Batch] = synchronized { val r = batches.toVector; batches.clear(); r }
}
