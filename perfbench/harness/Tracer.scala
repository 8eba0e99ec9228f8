package org.apache.spark.graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.GraftColumnarRule
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; the spans of one
  * query share `query`, and `parent` is the id of the enclosing span
  * (-1 for the query span itself).
  */
final case class Span(id: Long, parent: Long, query: String, kind: String,
    name: String, start: Long, end: Long)

/** Layer tracer, attached only during traced passes. It is a Spark
  * listener (jobs, stages, tasks, SQL execution start/end) and a
  * QueryExecutionListener (one callback per SQL execution, which carries
  * the QueryExecution: planning-tracker phases, the final plan and its
  * SQL metrics). Queries run one at a time, so after each query the
  * listener bus is drained and everything buffered since the previous
  * query belongs to this one. Spans are kept in memory and written at the
  * end of the run.
  */
class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  private val sc = spark.sparkContext

  private final case class Exec(id: Long, func: String,
      analysisMs: Double, optimizationMs: Double, planningMs: Double, ruleMs: Double,
      nodes: Int, graftNodes: Int, fallbackNodes: Int,
      graftRowsOut: Long, graftTimedMs: Long, bailouts: Long, degraded: Long)

  private final case class Job(id: Int, execId: Option[Long], start: Long,
      var end: Long, stageIds: Seq[Int])

  // Buffers filled on the listener-bus thread, drained by `harvest`.
  private val execStart = mutable.Map[Long, Long]()
  private val execEnd = mutable.Map[Long, Long]()
  private val execs = mutable.ArrayBuffer[Exec]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.ArrayBuffer[(Int, Long, Long)]()
  private val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  private var peakExecMem = 0L

  val spans = mutable.ArrayBuffer[Span]()
  private var nextSpan = 0L

  def attach(): Unit = {
    sc.listenerBus.waitUntilEmpty() // no stragglers from untraced work
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    sc.listenerBus.waitUntilEmpty()
    spark.listenerManager.unregister(this)
    sc.removeSparkListener(this)
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart => execStart(e.executionId) = e.time
      case e: SparkListenerSQLExecutionEnd => execEnd(e.executionId) = e.time
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobs(e.jobId) = Job(e.jobId, exec, e.time, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += ((i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    counters("sched.tasks") += 1
    val info = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val wall = (info.finishTime - info.launchTime).toDouble
      counters("op.task_run_s") += m.executorRunTime / 1e3
      counters("op.task_cpu_s") += m.executorCpuTime / 1e9
      counters("sched.task_overhead_s") += math.max(0.0, wall - m.executorRunTime) / 1e3
      counters("gc.task_s") += m.jvmGCTime / 1e3
      counters("shuffle.write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
      counters("shuffle.read_mb") +=
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6
      counters("shuffle.fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
      counters("spill.memory_mb") += m.memoryBytesSpilled / 1e6
      counters("spill.disk_mb") += m.diskBytesSpilled / 1e6
      counters("scan.input_mb") += m.inputMetrics.bytesRead / 1e6
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe)

  override def onFailure(func: String, qe: QueryExecution, error: Exception): Unit =
    record(func, qe)

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  /** Plan-layer figures of one SQL execution, computed on the listener
    * thread while the QueryExecution is at hand. */
  private def record(func: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def phase(n: String): Double = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    // Counted first: the rule applied below tags the nodes it rejects, and
    // unchanged subtrees are the same instances in both plans.
    val nodes = collectWithSubqueries(qe.executedPlan) { case p => p }
    val graft = nodes.filter(_.getClass.getSimpleName.startsWith("Graft"))
    val fallback = nodes.count(_.getTagValue(GraftColumnarRule.fallbackReasonTag).isDefined)
    // GraftColumnarRule's own cost: the rule applied from outside to the
    // execution's physical plan, as it stood before Spark's preparations.
    val ruleMs = try {
      val rule = GraftColumnarRule(qe.sparkSession).preColumnarTransitions
      val t0 = System.nanoTime()
      rule(qe.sparkPlan)
      (System.nanoTime() - t0) / 1e6
    } catch { case _: Throwable => 0.0 }
    val exec = Exec(qe.id, func, phase("analysis"), phase("optimization"),
      phase("planning"), ruleMs, nodes.size, graft.size, fallback,
      graft.map(metric(_, "numOutputRows")).sum,
      graft.map(p => metric(p, "sortTime") + metric(p, "buildTime")).sum,
      graft.map(metric(_, "numBailouts")).sum,
      graft.map(metric(_, "degradedPartitions")).sum)
    synchronized { execs += exec }
  }

  private def span(parent: Long, query: String, kind: String, name: String,
      start: Long, end: Long): Long = {
    val id = nextSpan
    nextSpan += 1
    spans += Span(id, parent, query, kind, name, start, end)
    id
  }

  /** Length of the union of [start, end) intervals, in milliseconds. */
  private def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  /** Close the books on one query: drain the bus, turn everything seen
    * since the previous query into per-layer figures and spans, and
    * reset. `start`, `buildEnd` and `end` are epoch ms; `build` and
    * `wall` are the query's build and total wall seconds.
    */
  def harvest(query: String, start: Long, buildEnd: Long, end: Long,
      build: Double, wall: Double): Map[String, Double] = {
    sc.listenerBus.waitUntilEmpty()
    synchronized {
      val qSpan = span(-1, query, "query", query, start, end)
      val bSpan = span(qSpan, query, "build", "build", start, buildEnd)
      val xSpan = span(qSpan, query, "execute", "execute", buildEnd, end)
      def phaseSpan(t: Long): Long = if (t < buildEnd) bSpan else xSpan
      val execSpan = execStart.map { case (id, s) =>
        val action = execs.find(_.id == id).map(_.func).getOrElse("execution")
        id -> span(phaseSpan(s), query, "sql_exec", s"$action $id", s,
          execEnd.getOrElse(id, end))
      }
      val stageTimes = stages.map(s => s._1 -> (s._2, s._3)).toMap
      jobs.values.foreach { j =>
        val parent = j.execId.flatMap(execSpan.get).getOrElse(phaseSpan(j.start))
        val jSpan = span(parent, query, "job", s"job ${j.id}", j.start, j.end)
        j.stageIds.flatMap(id => stageTimes.get(id).map(id -> _)).foreach { case (id, (s, e)) =>
          span(jSpan, query, "stage", s"stage $id", s, e)
        }
      }
      val buildExecs = execStart.count(_._2 < buildEnd)
      val buildJobs = jobs.values.count(_.start < buildEnd)
      val jobS = covered(jobs.values.map(j => (j.start, j.end)).toSeq) / 1e3
      val out = mutable.LinkedHashMap[String, Double](
        "build.s" -> build,
        "build.jobs" -> buildJobs.toDouble,
        "build.sql_execs" -> buildExecs.toDouble,
        "plan.analysis_ms" -> execs.map(_.analysisMs).sum,
        "plan.optimization_ms" -> execs.map(_.optimizationMs).sum,
        "plan.planning_ms" -> execs.map(_.planningMs).sum,
        "plan.graft_rule_ms" -> execs.map(_.ruleMs).sum,
        "plan.nodes" -> execs.map(_.nodes).sum.toDouble,
        "plan.graft_nodes" -> execs.map(_.graftNodes).sum.toDouble,
        "plan.fallback_nodes" -> execs.map(_.fallbackNodes).sum.toDouble,
        "sched.jobs" -> jobs.size.toDouble,
        "sched.stages" -> stages.size.toDouble,
        "sched.job_s" -> jobS,
        "sched.driver_gap_s" -> math.max(0.0, wall - jobS),
        "op.graft_rows_out" -> execs.map(_.graftRowsOut).sum.toDouble,
        "op.graft_timed_ms" -> execs.map(_.graftTimedMs).sum.toDouble,
        "op.agg_bailouts" -> execs.map(_.bailouts).sum.toDouble,
        "op.window_degraded" -> execs.map(_.degraded).sum.toDouble,
        "op.peak_exec_mem_mb" -> peakExecMem / 1e6)
      counters.foreach { case (k, v) => out(k) = v }
      execStart.clear(); execEnd.clear(); execs.clear(); jobs.clear(); stages.clear()
      counters.clear(); peakExecMem = 0L
      out.toMap
    }
  }

  /** Self time per span kind: each span's duration minus the part of its
    * interval that its children cover, summed over spans of that kind. */
  def selfTimes(): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter(c => c._2 > c._1)
        (s.end - s.start - covered(kids.toSeq)) / 1e3
      }.sum
    }
  }
}
