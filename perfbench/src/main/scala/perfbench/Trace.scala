package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Spans of one op share `op`; `parent` is the span
  * that caused this one (0 for an op span). */
final case class Span(id: Long, parent: Long, op: Long, kind: String,
    name: String, startMs: Long, endMs: Long, attrs: Map[String, Double])

/** Everything the Spark listeners saw during one op. */
final class OpEvents {
  val phases = mutable.ArrayBuffer.empty[(Long, String, Long, Long)] // (qe id, phase, start, end)
  val executions = mutable.LinkedHashMap.empty[Long, (Long, Long)] // id -> (start, end)
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stageJob = mutable.Map.empty[Int, Int]
  val stageReads = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val writes = mutable.ArrayBuffer.empty[Write]
  val layerExec = mutable.LinkedHashMap.empty[Long, String] // execution id -> layer
  val catalogCmds = mutable.ArrayBuffer.empty[Long] // execution ids
  var tasks = 0L
  var taskDelayMs = 0.0
  var runMs = 0.0
  var cpuNs = 0.0
  var gcMs = 0.0
  var peakExecMem = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var shuffleRecords = 0L
  var fetchWaitMs = 0.0
  var spillMem = 0L
  var spillDisk = 0L
  var resultBytes = 0L
  var stages = 0L
  var worstSkew = 1.0
}

final case class Job(id: Int, execId: Long, startMs: Long, var endMs: Long,
    var stages: Int, var tasks: Long)

/** A finished write command: which layer output it produced and the
  * rows its plan's top scan, filter and aggregate put out. */
final case class Write(layer: String, rows: Long, bytes: Long, scanRows: Long,
    filterRows: Long, aggRows: Long)

/** Listeners for the traced run. They are registered only when tracing,
  * so the untraced run measures the program with nothing attached. The
  * main thread sets `op` around each op and drains the listener bus after
  * it, so every event lands on the op that caused it. */
final class Tracer(layerOf: Map[String, String]) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  @volatile var op: Long = -1L
  private val byOp = mutable.Map.empty[Long, OpEvents]

  private def cur: Option[OpEvents] = synchronized {
    if (op < 0) None else Some(byOp.getOrElseUpdate(op, new OpEvents))
  }

  def take(id: Long): OpEvents = synchronized {
    byOp.remove(id).getOrElse(new OpEvents)
  }

  // ── QueryExecutionListener: Catalyst phases and write commands ──────
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = cur.foreach { ev =>
    val id = qe.id
    val ph = qe.tracker.phases
    ev.synchronized {
      Seq("analysis", "optimization", "planning").foreach { p =>
        ph.get(p).foreach(s => ev.phases += ((id, p, s.startTimeMs, s.endTimeMs)))
      }
      // a write whose input shuffles sits inside the adaptive plan
      collect(qe.executedPlan) { case w: DataWritingCommandExec => w }.foreach { w =>
        w.cmd match {
          case ins: InsertIntoHadoopFsRelationCommand =>
            layerOf.get(ins.outputPath.getName).foreach { layer =>
              def m(k: String) = w.metrics.get(k).map(_.value).getOrElse(0L)
              ev.writes += Write(layer, m("numOutputRows"), m("numOutputBytes"),
                topRows(w.child) { case p: FileSourceScanExec => p },
                topRows(w.child) { case p: FilterExec => p },
                topRows(w.child) { case p: BaseAggregateExec => p })
            }
          case _ => ()
        }
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Output rows of the matching node closest to the root, or -1. */
  private def topRows(plan: SparkPlan)(pf: PartialFunction[SparkPlan, SparkPlan]): Long =
    collect(plan)(pf).headOption
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).getOrElse(-1L)

  // ── SparkListener: executions, jobs, stages, tasks ──────────────────
  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart => cur.foreach { ev =>
      // the plan names the command: a layer write or a catalog step
      val nodes = Tracer.nodes(s.sparkPlanInfo)
      ev.synchronized {
        ev.executions(s.executionId) = (s.time, s.time)
        nodes.filter(_.nodeName.endsWith("InsertIntoHadoopFsRelationCommand"))
          .flatMap(n => layerOf.collectFirst { case (dir, layer)
            if s"/$dir(?!\\w)".r.findFirstIn(n.simpleString).nonEmpty => layer })
          .foreach(l => ev.layerExec(s.executionId) = l)
        if (Tracer.catalogCommands.exists(s.sparkPlanInfo.nodeName.endsWith))
          ev.catalogCmds += s.executionId
      }
    }
    case e: SparkListenerSQLExecutionEnd => cur.foreach { ev =>
      ev.synchronized {
        ev.executions.get(e.executionId).foreach { case (st, _) =>
          ev.executions(e.executionId) = (st, e.time)
        }
      }
    }
    case _ => ()
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = cur.foreach { ev =>
    val exec = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    ev.synchronized {
      ev.jobs(j.jobId) = Job(j.jobId, exec, j.time, j.time, 0, 0)
      j.stageIds.foreach(s => ev.stageJob(s) = j.jobId)
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = cur.foreach { ev =>
    ev.synchronized { ev.jobs.get(j.jobId).foreach(_.endMs = j.time) }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    cur.foreach { ev =>
      ev.synchronized {
        ev.stages += 1
        val jid = ev.stageJob.get(s.stageInfo.stageId)
        jid.flatMap(ev.jobs.get).foreach(_.stages += 1)
        ev.stageReads.remove(s.stageInfo.stageId).foreach { reads =>
          if (reads.size >= 2 && reads.sum > 0) {
            val sorted = reads.sorted
            val median = math.max(sorted(sorted.size / 2), 1L).toDouble
            ev.worstSkew = math.max(ev.worstSkew, sorted.last / median)
          }
        }
      }
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = cur.foreach { ev =>
    val m = t.taskMetrics
    if (m != null) ev.synchronized {
      ev.tasks += 1
      ev.stageJob.get(t.stageId).flatMap(ev.jobs.get).foreach(_.tasks += 1)
      val info = t.taskInfo
      ev.taskDelayMs += math.max(0L, info.duration - m.executorDeserializeTime -
        m.executorRunTime - m.resultSerializationTime - info.gettingResultTime)
      ev.runMs += m.executorRunTime
      ev.cpuNs += m.executorCpuTime
      ev.gcMs += m.jvmGCTime
      ev.peakExecMem = math.max(ev.peakExecMem, m.peakExecutionMemory)
      ev.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      val read = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      ev.shuffleRead += read
      ev.shuffleRecords += m.shuffleReadMetrics.recordsRead
      ev.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      ev.spillMem += m.memoryBytesSpilled
      ev.spillDisk += m.diskBytesSpilled
      ev.resultBytes += m.resultSize
      ev.stageReads.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += read
    }
  }
}

object Tracer {
  /** Pipeline's catalog step: register each layer and ANALYZE it. */
  val catalogCommands: Seq[String] = Seq("AnalyzeTableCommand",
    "AnalyzeColumnCommand", "CreateDataSourceTableCommand", "DropTable",
    "DropTableCommand")

  def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
}
