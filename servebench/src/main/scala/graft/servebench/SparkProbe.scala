package graft.servebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Engine-side record of a run through Spark's public listener APIs. Jobs
  * are attributed to a client call by the job group the harness sets on the
  * calling thread (`setJobGroup(callId)`); Spark propagates it to the jobs
  * of that call, including broadcast and subquery threads. Events arrive
  * asynchronously, so readers call [[drain]] before aggregating. Planning
  * phases come from the QueryExecutionListener and are attributed to the
  * call whose wall window holds them (the client is closed-loop, so call
  * windows never overlap). */
final class SparkProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, group: String, sqlExec: Long, start: Long,
                       var end: Long = -1L, var stagesRun: Int = 0, var tasks: Int = 0,
                       var taskMs: Long = 0L, var shuffleBytes: Long = 0L,
                       var spillBytes: Long = 0L)
  final case class SqlExec(id: Long, group: String, start: Long, var end: Long = -1L)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val execs = mutable.LinkedHashMap.empty[Long, SqlExec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).getOrElse(-1L)
    jobs(e.jobId) = Job(e.jobId, group, exec, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stagesRun += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = SqlExec(s.executionId, s.jobGroupId.getOrElse(""), s.time)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach(_.end = s.time)
      case _ =>
    }
  }

  /** Planning phases of one finished query (QueryPlanningTracker), stamped
    * with the epoch-ms start of its first phase. */
  final case class Plan(start: Long, analyzeMs: Long, optimizeMs: Long, physicalMs: Long)
  val plans = mutable.ArrayBuffer.empty[Plan]

  private def phases(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    if (ph.nonEmpty)
      plans += Plan(ph.values.map(_.startTimeMs).min, ms("analysis"), ms("optimization"),
        ms("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  /** Wait until every started job and SQL execution has reported its end
    * (bounded: 10 s), so per-call aggregates see complete records. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    def settled = synchronized {
      jobs.valuesIterator.forall(_.end >= 0) && execs.valuesIterator.forall(_.end >= 0)
    }
    while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // planning phases follow the execution-end event
  }
}
