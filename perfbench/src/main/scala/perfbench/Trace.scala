package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer measurement from outside the engine. One `SparkListener` records
  * stage and task metrics, one `QueryExecutionListener` records the
  * `QueryPlanningTracker` phases and the SQL metrics of each executed plan
  * ([[CountingLocalFileSystem]] counts table metadata operations). Each
  * stage is attributed to a layer from its call-site stack (see [[Layers]]);
  * the caller sets a job group around every call it makes.
  *
  * `attach`/`detach` are idempotent, so a session is hooked at most once.
  */
final class Tracer {
  import Tracer._

  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val taskTimes = new ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val execs = new java.util.concurrent.ConcurrentLinkedQueue[ExecRec]()
  /** stage id -> job group of the first job that listed the stage */
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  /** SQL execution id -> its call site, and stage id -> execution id: stages
    * that adaptive execution submits from its own threads carry no engine
    * frames, so they take the call site of the query that planned them */
  private val execDetails = new ConcurrentHashMap[Long, String]()
  private val stageExec = new ConcurrentHashMap[Int, Long]()
  @volatile var group: String = ""

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      val last = e.stageInfos.maxBy(_.stageId)
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      exec.foreach(x => e.stageIds.foreach(id => stageExec.putIfAbsent(id, x)))
      jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L, g,
        withExecDetails(last.details, exec)))
      e.stageIds.foreach(id => stageGroup.putIfAbsent(id, g))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(end = e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
      val buf = taskTimes.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => mutable.ArrayBuffer.empty[Long])
      buf.synchronized(buf += e.taskMetrics.executorRunTime)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execDetails.put(x.executionId, x.details)
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val scopes = si.rddInfos.flatMap(_.scope.map(_.name)).distinct
      stages.put((si.stageId, si.attemptNumber()), StageRec(
        stageId = si.stageId,
        group = stageGroup.getOrDefault(si.stageId, ""),
        details = withExecDetails(si.details, Option(stageExec.get(si.stageId)).map(_.toLong)),
        scopes = scopes,
        wallMs = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L),
        busyMs = if (m == null) 0L else m.executorRunTime,
        rowsOut = if (m == null) 0L
          else m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten,
        shuffleWriteBytes = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        spillBytes = if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        tasks = si.numTasks))
    }
  }

  /** A call site with engine frames as is; otherwise its SQL execution's. */
  private def withExecDetails(details: String, exec: Option[Long]): String =
    if (details.contains("graft.")) details
    else exec.flatMap(x => Option(execDetails.get(x))).getOrElse(details)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum
      val plan = nodes(qe.executedPlan)
      def writeMetric(name: String): Long = plan.collect {
        case w: DataWritingCommandExec => w.cmd.metrics.get(name).map(_.value).getOrElse(0L)
      }.sum
      execs.add(ExecRec(group, planMs, pairCandidates(plan),
        commitMs = writeMetric("jobCommitTime") + writeMetric("taskCommitTime"),
        commitFiles = writeMetric("numFiles"), commitBytes = writeMetric("numOutputBytes")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private var hooked: Option[SparkSession] = None

  def attach(spark: SparkSession): Unit = if (!hooked.contains(spark)) {
    detach()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    hooked = Some(spark)
  }

  def detach(): Unit = hooked.foreach { s =>
    drain(s)
    s.sparkContext.removeSparkListener(sparkListener)
    s.listenerManager.unregister(qeListener)
    hooked = None
  }

  def attached: Boolean = hooked.isDefined

  /** Wait until the records of a call are complete before the group changes. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbenchhook.Bus.drain(spark.sparkContext)

  /** Run `f` under job group `g` (and, when attached, collect its records
    * under the same name). */
  def within[T](spark: SparkSession, g: String)(f: => T): T = {
    group = g
    spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
    try f
    finally {
      if (attached) drain(spark)
      spark.sparkContext.clearJobGroup()
      group = ""
    }
  }

  def reset(): Unit = {
    stages.clear(); taskTimes.clear(); jobs.clear(); execs.clear(); stageGroup.clear()
    execDetails.clear(); stageExec.clear()
  }

  def snapshot(): Records = Records(
    stages.asScala.toSeq.map { case (key, s) =>
      val tt = Option(taskTimes.get(key)).map(b => b.synchronized(b.toSeq)).getOrElse(Seq.empty)
      s.copy(taskTimesMs = tt)
    },
    jobs.values.asScala.toSeq,
    execs.asScala.toSeq)
}

object Tracer {
  final case class StageRec(stageId: Int, group: String, details: String,
      scopes: Seq[String], wallMs: Long, busyMs: Long, rowsOut: Long,
      shuffleWriteBytes: Long, spillBytes: Long, tasks: Int,
      taskTimesMs: Seq[Long] = Seq.empty)
  final case class JobRec(id: Int, start: Long, end: Long, group: String, details: String)
  final case class ExecRec(group: String, planMs: Double, pairCandidates: Long,
      commitMs: Long, commitFiles: Long, commitBytes: Long)
  final case class Records(stages: Seq[StageRec], jobs: Seq[JobRec], execs: Seq[ExecRec])

  /** Every node of an executed plan, through adaptive query stages and
    * cached relations. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case other => other.children.flatMap(nodes)
  })

  /** Pair candidates of the dedup pair generators: rows out of the
    * `da < db` filter that follows the posting-list self-explode. */
  def pairCandidates(plan: Seq[SparkPlan]): Long = plan.collect {
    case f: FilterExec if f.condition.references.map(_.name).toSet == Set("da", "db") =>
      f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
  }.sum

  def skew(times: Seq[Long]): Double =
    if (times.size < 2) 1.0
    else {
      val s = times.sorted
      val med = s(s.size / 2).toDouble
      if (med <= 0) 1.0 else s.last / med
    }
}
