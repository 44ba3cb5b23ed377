package perfbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import Harness.json

object Tracer {
  private final class Job(val id: Int, val span: String, val startMs: Long,
      val stages: Seq[Int], var endMs: Long = -1L, var ok: Boolean = false)
  private final case class Exec(phases: Map[String, (Long, Long)], shape: (Int, Int))

  /** Local property naming the span (`<call>.build` / `<call>.execute`)
    * that the jobs submitted from the calling thread belong to. */
  val SpanKey = "perfbench.span"

  /** Calls whose executed plan must be the full plan (joins and global
    * sorts of `df.queryExecution.executedPlan` all present). */
  val PlanChecked: Set[String] = Set("u3_vader_sentiment", "j_star_revenue_by_region")

  /** Every physical node, looking through adaptive plans, query stages and
    * command wrappers (a parquet write runs its query under a command). */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case w: DataWritingCommandExec => nodes(w.child)
    case o => o.children.flatMap(nodes) ++ o.subqueries.flatMap(nodes)
  })

  /** (joins, global sorts) of a physical plan. */
  def shape(p: SparkPlan): (Int, Int) = {
    val ns = nodes(p)
    (ns.count(_.isInstanceOf[BaseJoinExec]),
      ns.count { case s: SortExec => s.global; case _ => false })
  }
}

/** Records jobs, stages and query executions in memory; `write` dumps the
  * span tree once the run is over. Listeners are installed on first use,
  * so an untraced run registers none. */
final class Tracer(sc: SparkContext) {
  import Tracer._


  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentLinkedQueue[String]()
  private val execs = new ConcurrentLinkedQueue[Exec]()
  /** SQL execution id -> (start, end) wall clock, ms; end -1 while running. */
  private val sqlExecs = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
  private val spans = mutable.ArrayBuffer.empty[String]
  private val callWindows = mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
  private val expected = mutable.Map.empty[String, (Int, Int)]
  private var installed = false
  private val attached = mutable.Set.empty[SparkSession]
  @volatile private var maxPeakMem = 0L
  /** Listener events seen, to tell when the asynchronous bus has drained. */
  private val seen = new java.util.concurrent.atomic.AtomicLong()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      seen.incrementAndGet()
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
      jobs.put(e.jobId, new Job(e.jobId, span, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        seen.incrementAndGet()
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        seen.incrementAndGet()
        sqlExecs.put(s.executionId, (s.time, -1L))
      case x: SparkListenerSQLExecutionEnd =>
        seen.incrementAndGet()
        Option(sqlExecs.get(x.executionId)).foreach { case (st, _) => sqlExecs.put(x.executionId, (st, x.time)) }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m => maxPeakMem = maxPeakMem.max(m.peakExecutionMemory))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      seen.incrementAndGet()
      if (m != null) stages.add(
        s"""{"stage":${i.stageId},"name":${json(i.name)},"tasks":${i.numTasks},""" +
        s""""run_ms":${m.executorRunTime},"gc_ms":${m.jvmGCTime},""" +
        s""""shuffle_write_bytes":${m.shuffleWriteMetrics.bytesWritten},""" +
        s""""spill_bytes":${m.memoryBytesSpilled + m.diskBytesSpilled},""" +
        s""""input_bytes":${m.inputMetrics.bytesRead},"input_rows":${m.inputMetrics.recordsRead},""" +
        s""""output_rows":${m.outputMetrics.recordsWritten},"failed":${i.failureReason.isDefined}}""")
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution, ok: Boolean): Unit = {
      val ph = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      val sh = if (ok) scala.util.Try(shape(qe.executedPlan)).getOrElse((-1, -1)) else (-1, -1)
      execs.add(Exec(ph, sh))
      seen.incrementAndGet()
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe, ok = false)
  }

  /** Installs the job listener once and the plan listener on each session
    * (listeners are per session, and a DAG pass starts a fresh one). */
  def attach(s: SparkSession): Unit = {
    if (!installed) { sc.addSparkListener(jobListener); installed = true }
    if (!attached(s)) { s.listenerManager.register(qeListener); attached += s }
  }

  def addPass(id: String, startMs: Long, endMs: Long): Unit =
    spans += s"""{"id":${json(id)},"parent":null,"kind":"pass","name":${json(id)},"start_ms":$startMs,"end_ms":$endMs}"""

  def addCall(span: String, pass: String, name: String, t0: Long, action: Long, t1: Long): Unit = {
    callWindows += ((span, t0, action, t1))
    spans += s"""{"id":${json(span)},"parent":${json(pass)},"kind":"call","name":${json(name)},"start_ms":$t0,"end_ms":$t1}"""
  }

  /** Shape of the full plan the call should have executed; read after the
    * call's timer stopped. */
  def expectFullPlan(span: String, df: DataFrame): Unit =
    expected(span) = shape(df.queryExecution.executedPlan)

  /** Waits until no listener event arrived for half a second (the bus is
    * asynchronous), removes the listeners and writes the spans. Each call
    * gets a build, plan and execute child, each bounded by what was
    * observed: build runs from the call until the query function returned;
    * plan is the final action's `QueryExecution.tracker` phases; execute
    * runs from the end of planning to the last end of a job or SQL
    * execution of the action. What none of them covers is left as a gap.
    * Every job hangs under the build or execute span it ran in. */
  def write(out: String): Unit = {
    var last = -1L
    while (last != seen.get) {
      last = seen.get
      Thread.sleep(500)
    }
    if (installed) sc.removeSparkListener(jobListener)
    attached.foreach(_.listenerManager.unregister(qeListener))
    val ex = execs.asScala.toSeq
    val sql = sqlExecs.values.asScala.toSeq
    val allJobs = jobs.values.asScala.toSeq
    val w = new PrintWriter(s"$out/spans.jsonl")
    spans.foreach(w.println)
    for ((span, t0, a, t1) <- callWindows) {
      // the final action's execution: the last one whose planning began
      // inside the action window
      val fin = ex.filter(e => e.phases.get("planning").exists { case (s, _) => s >= a && s <= t1 })
        .lastOption
      val phases = fin.toSeq.flatMap(_.phases.values).filter { case (s, _) => s >= a && s <= t1 }
      val planStart = phases.map(_._1).minOption.getOrElse(a)
      val planEnd = phases.map(_._2).maxOption.getOrElse(a).min(t1)
      val execEnd = (sql.collect { case (s, e) if s >= a && s <= t1 && e >= 0 => e } ++
        allJobs.collect { case j if j.span == s"$span.execute" && j.endMs >= 0 => j.endMs })
        .maxOption.getOrElse(planEnd).max(planEnd).min(t1)
      val shapeAttr = fin.map(f => s""","joins":${f.shape._1},"sorts":${f.shape._2}""").getOrElse("")
      val exp = expected.get(span).map { case (j, s) =>
        s""","full_joins":$j,"full_sorts":$s""" }.getOrElse("")
      w.println(s"""{"id":${json(s"$span.build")},"parent":${json(span)},"kind":"build","start_ms":$t0,"end_ms":$a}""")
      w.println(s"""{"id":${json(s"$span.plan")},"parent":${json(span)},"kind":"plan","start_ms":$planStart,"end_ms":$planEnd$shapeAttr$exp}""")
      w.println(s"""{"id":${json(s"$span.execute")},"parent":${json(span)},"kind":"execute","start_ms":$planEnd,"end_ms":$execEnd}""")
    }
    def windowOf(j: Job): String =
      if (j.span.nonEmpty) j.span
      else callWindows.collectFirst {
        case (sp, t0, a, _) if j.startMs >= t0 && j.startMs < a => s"$sp.build"
        case (sp, _, a, t1) if j.startMs >= a && j.startMs <= t1 => s"$sp.execute"
      }.getOrElse("")
    allJobs.sortBy(_.id).foreach { j =>
      w.println(s"""{"id":"j${j.id}","parent":${json(windowOf(j))},"kind":"job","start_ms":${j.startMs},""" +
        s""""end_ms":${j.endMs},"ok":${j.ok},"stages":${j.stages.mkString("[", ",", "]")}}""")
    }
    w.close()
    val sw = new PrintWriter(s"$out/stages.jsonl")
    stages.asScala.foreach(sw.println)
    sw.close()
    val ew = new PrintWriter(s"$out/engine.json")
    ew.println(s"""{"peak_exec_mem_bytes":$maxPeakMem}""")
    ew.close()
  }
}
