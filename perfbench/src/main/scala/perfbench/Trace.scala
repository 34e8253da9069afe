package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.{FileSourceScanLike, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

import scala.collection.mutable

/** Counters of one (request, span) pair, span being "build" or "exec". */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, scanBytes, scanRows = 0L
  var shuffleWriteBytes, shuffleRecords, fetchWaitMs, spillBytes = 0L
  var exchanges, bhj, smj, broadcastBytes, scalaUdf, generate, inMemoryScans = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; scanBytes += o.scanBytes; scanRows += o.scanRows
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleRecords += o.shuffleRecords
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
    exchanges += o.exchanges; bhj += o.bhj; smj += o.smj
    broadcastBytes += o.broadcastBytes; scalaUdf += o.scalaUdf
    generate += o.generate; inMemoryScans += o.inMemoryScans
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_s" -> taskMs / 1e3,
    "scan_bytes" -> scanBytes, "scan_rows" -> scanRows,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_records" -> shuffleRecords,
    "fetch_wait_s" -> fetchWaitMs / 1e3, "spill_bytes" -> spillBytes,
    "exchanges" -> exchanges, "bhj" -> bhj, "smj" -> smj,
    "broadcast_bytes" -> broadcastBytes, "scala_udf" -> scalaUdf,
    "generate" -> generate, "in_memory_scans" -> inMemoryScans)
}

/** Spark listener of the traced mode. The harness tags every job with the
  * request id and span through local properties, so each job, stage and
  * task is attributed to the span that was active when the job started,
  * whatever thread the listener bus delivers it on. Plan operator counts
  * and file-scan bytes and rows (the scan node's "size of files read" and
  * output rows; task input metrics miss the vectorized parquet reader)
  * come from the final (post-AQE) plan of every SQL execution, taken from
  * the QueryExecution its end event carries, and are matched to a request
  * through the SQL execution id its jobs carry. Everything is kept in
  * memory and read after the session stops (which drains the bus).
  */
final class Trace extends SparkListener {
  import Trace.{ReqKey, SpanKey}

  private type Tag = (Int, String)
  private val counters = mutable.Map.empty[Tag, Counters]
  private val stageTag = mutable.Map.empty[Int, Tag]
  private val executionTag = mutable.Map.empty[Long, Tag]
  private val planCounts = mutable.Map.empty[Long, Counters]
  /** (request, span, job id, start ms, end ms) of every job. */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, String, Int, Long, Long)]
  private val jobStart = mutable.Map.empty[Int, (Tag, Long)]

  private def of(t: Tag): Counters = counters.getOrElseUpdate(t, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val req = p.flatMap(x => Option(x.getProperty(ReqKey))).map(_.toInt).getOrElse(-1)
    val span = p.flatMap(x => Option(x.getProperty(SpanKey))).getOrElse("none")
    val tag = (req, span)
    of(tag).jobs += 1
    e.stageIds.foreach(s => if (!stageTag.contains(s)) stageTag(s) = tag)
    p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .foreach(id => if (!executionTag.contains(id.toLong)) executionTag(id.toLong) = tag)
    jobStart(e.jobId) = (tag, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case ((req, span), t0) =>
      jobSpans += ((req, span, e.jobId, t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTag.get(e.stageInfo.stageId).foreach(t => of(t).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach { t =>
      val c = of(t)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      // Spark keeps the event's QueryExecution package-private
      val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
      if (qe != null) {
        val c = Trace.planCounters(qe.executedPlan)
        synchronized(planCounts(end.executionId) = c)
      }
    case _ =>
  }

  /** Counters per request id and span, plan counts folded in. Call after
    * the session has stopped. */
  def result(): Map[(Int, String), Counters] = synchronized {
    planCounts.foreach { case (id, pc) =>
      executionTag.get(id).foreach(t => of(t).add(pc))
    }
    counters.toMap
  }
}

object Trace extends AdaptiveSparkPlanHelper {
  /** Job local properties naming the request and span a job belongs to. */
  val ReqKey = "perfbench.request"
  val SpanKey = "perfbench.span"

  /** Operator counts of a final plan, descending through AQE query stages. */
  def planCounters(plan: SparkPlan): Counters = {
    val c = new Counters
    foreach(plan) { p =>
      p match {
        case _: ShuffleExchangeLike => c.exchanges += 1
        case b: BroadcastExchangeLike =>
          c.exchanges += 1
          b match {
            case x: BroadcastExchangeExec =>
              c.broadcastBytes += x.metrics.get("dataSize").map(_.value).getOrElse(0L)
            case _ =>
          }
        case _: BroadcastHashJoinExec => c.bhj += 1
        case _: SortMergeJoinExec => c.smj += 1
        case _: GenerateExec => c.generate += 1
        case _: InMemoryTableScanExec => c.inMemoryScans += 1
        case f: FileSourceScanLike =>
          c.scanBytes += f.metrics.get("filesSize").map(_.value).getOrElse(0L)
          c.scanRows += f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case _ =>
      }
      c.scalaUdf += p.expressions.map(_.collect { case u: ScalaUDF => u }.size).sum
    }
    c
  }
}
