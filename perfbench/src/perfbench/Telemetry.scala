package perfbench

import graft.StageMetrics
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** Benchmark-owned Spark listener for job walls and the call site that
  * started each job; per-stage rows come from the public
  * [[graft.StageMetrics]] listener installed beside it. SQL jobs are
  * attributed through their execution's call site, which is captured on the
  * calling thread (adaptive execution submits some jobs from its own pool).
  */
final class Telemetry(spark: SparkSession) extends SparkListener {
  import Telemetry.Job

  private val sc: SparkContext = spark.sparkContext
  private val started = mutable.LinkedHashMap.empty[Int, (Long, Seq[Int], Long, String)]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val execSites = mutable.Map.empty[Long, String]
  private val stageMetrics = StageMetrics.install(spark)

  sc.addSparkListener(this)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execSites(s.executionId) = s.details }
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(js.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val site = js.stageInfos.headOption.map(_.details).getOrElse("")
    started(js.jobId) = (js.time, js.stageIds, exec, site)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    started.remove(je.jobId).foreach { case (t0, stageIds, exec, site) =>
      jobs += Job(t0, je.time, stageIds, execSites.getOrElse(exec, site))
    }
  }

  /** Waits until every event posted so far was delivered, then returns the
    * number of finished jobs: a mark for [[jobsSince]].
    */
  def mark(): Int = { org.apache.spark.BenchBus.drain(sc); synchronized(jobs.size) }

  /** Jobs that finished after `from` (a [[mark]]), after draining the bus. */
  def jobsSince(from: Int): Seq[Job] = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized(jobs.drop(from).toList)
  }

  /** The completed stages of `js`, as [[graft.StageMetrics]] recorded them. */
  def stagesOf(js: Seq[Job]): Seq[StageMetrics#Row] = {
    val ids = js.flatMap(_.stageIds).toSet
    stageMetrics.rows.synchronized(stageMetrics.rows.filter(r => ids(r.stageId)).toList)
  }

  def close(): Unit = {
    sc.removeSparkListener(this)
    sc.removeSparkListener(stageMetrics)
  }
}

object Telemetry {
  final case class Job(startMs: Long, endMs: Long, stageIds: Seq[Int], site: String) {
    def wallS: Double = (endMs - startMs) / 1e3
  }

  /** Sum of stage totals plus the worst max/median task ratio among stages
    * with at least `minTasks` tasks.
    */
  final case class StageTotals(tasks: Long, cpuS: Double, gcS: Double, shuffleWrite: Long,
                               shuffleRead: Long, spill: Long, maxOverMedian: Double)

  def totals(ss: Seq[StageMetrics#Row], minTasks: Int): StageTotals = {
    val skew = ss.filter(s => s.tasks >= minTasks && s.medTaskMs > 0)
      .map(s => s.maxTaskMs.toDouble / s.medTaskMs)
    // StageMetrics keeps volumes in MB (1e6 bytes)
    def bytes(mb: StageMetrics#Row => Double): Long = math.round(ss.map(mb).sum * 1e6)
    StageTotals(ss.map(_.tasks.toLong).sum, ss.map(_.cpuMs).sum / 1e3, ss.map(_.gcMs).sum / 1e3,
      bytes(_.shufWriteMB), bytes(_.shufReadMB), bytes(_.spillMB),
      if (skew.isEmpty) 1.0 else skew.max)
  }
}
