package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.streaming.runtime.IncrementalExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-pass counters of the traced run. Jobs are attributed to the op phase
  * through the job group the harness sets (`Trace.Construct` while the
  * library builds the plan, `Trace.Write` while the timed action runs) and
  * to `core` through their call site; query executions and streaming
  * progress are attributed through the phase that is open when the bus
  * delivers them, which the harness makes exact by draining the bus at
  * every phase boundary.
  */
final class PassTrace {
  var constructJobs, schemaJobs, execJobs, execStages, stagesSkipped, tasks = 0L
  var schemaS, taskRunS, taskCpuS, gcS = 0.0
  var shuffleReadB, shuffleWriteB, spillB, inputB = 0L
  var analysisS, optimizationS, planningS, qeExecS = 0.0
  var imrScans = 0L
  var batches = 0L
  val batchS = mutable.ArrayBuffer[Double]()
  var addBatchS, queryPlanningS, walCommitS = 0.0
  var stateRows = 0L
}

object Trace {
  val Construct = "perfbench-construct"
  val Write = "perfbench-write"
  private val SchemaCallSite = "at Tables.scala:"
}

final class Trace(spark: SparkSession) {
  import Trace._

  @volatile var pass = new PassTrace
  @volatile private var phase = ""
  private val jobPhase = mutable.HashMap[Int, (String, Boolean, Long)]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val submitted = mutable.HashSet[Int]()
  private val stateRowsByQuery = mutable.LinkedHashMap[java.util.UUID, Long]()

  private object Plans extends AdaptiveSparkPlanHelper {
    def imrScans(qe: QueryExecution): Int =
      collectWithSubqueries(qe.executedPlan) { case s: InMemoryTableScanExec => s }.size
  }

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == Construct || group == Write) {
        val schema = e.stageInfos.exists(_.name.contains(SchemaCallSite))
        jobPhase(e.jobId) = (group, schema, e.time)
        e.stageIds.foreach(stageJob(_) = e.jobId)
        val p = pass
        if (group == Construct) p.constructJobs += 1 else p.execJobs += 1
        if (schema) p.schemaJobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobPhase.remove(e.jobId).foreach { case (group, schema, start) =>
        val stages = stageJob.collect { case (s, j) if j == e.jobId => s }.toSeq
        if (group == Write) pass.stagesSkipped += stages.count(s => !submitted(s))
        if (schema) pass.schemaS += (e.time - start) / 1e3
        stages.foreach { s => stageJob.remove(s); submitted.remove(s) }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val id = e.stageInfo.stageId
      if (stageJob.contains(id)) {
        submitted += id
        if (jobPhase.get(stageJob(id)).exists(_._1 == Write)) pass.execStages += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val inWrite = stageJob.get(e.stageId).flatMap(jobPhase.get).exists(_._1 == Write)
      if (inWrite && e.taskMetrics != null) {
        val m = e.taskMetrics
        val p = pass
        p.tasks += 1
        p.taskRunS += m.executorRunTime / 1e3
        p.taskCpuS += m.executorCpuTime / 1e9
        p.gcS += m.jvmGCTime / 1e3
        p.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        p.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        p.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        p.inputB += m.inputMetrics.bytesRead
      }
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        val p = pass
        p.imrScans += Plans.imrScans(qe)
        // a micro-batch's own execution is already counted as a batch
        if (phase == Write && !qe.isInstanceOf[IncrementalExecution]) {
          val ph = qe.tracker.phases
          def s(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
          p.analysisS += s("analysis")
          p.optimizationS += s("optimization")
          p.planningS += s("planning")
          p.qeExecS += durationNs / 1e9
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val pr = e.progress
      val d = pr.durationMs
      def s(k: String) = Option(d.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
      val p = pass
      p.batches += 1
      p.batchS += s("triggerExecution")
      p.addBatchS += s("addBatch")
      p.queryPlanningS += s("queryPlanning")
      p.walCommitS += s("walCommit")
      stateRowsByQuery(pr.runId) = pr.stateOperators.map(_.numRowsTotal).sum
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Opens a phase; the caller drains the bus before opening the next. */
  def enter(p: String): Unit = { phase = p }

  /** Closes the pass: folds the final state-store size of each stream run
    * in it and hands back the counters. */
  def finishPass(): PassTrace = synchronized {
    val p = pass
    p.stateRows += stateRowsByQuery.values.sum
    stateRowsByQuery.clear()
    pass = new PassTrace
    p
  }
}
