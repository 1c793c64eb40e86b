package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed phase of a query execution. `parent` is the id of the
  * enclosing span (0 for a root `query` span). */
final case class Span(id: Int, parent: Int, name: String, query: String, pass: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Listener-side records for the traced run. Events are buffered as
  * they arrive on the listener bus and folded into per-query counters
  * after the bus is drained at the end of each query (see [[take]]).
  * Nothing is recorded while `enabled` is false. */
object Trace {
  @volatile var enabled = false
  /** Local property naming the phase (build/plan/exec/check) a job was
    * submitted from. */
  val PhaseProp = "perfbench.phase"

  final case class Job(timeMs: Long, phase: Option[String], stages: Seq[Int])
  final case class Stage(numTasks: Int, submitMs: Long)
  final case class Task(stage: Int, launchMs: Long, cpuNs: Long, runMs: Long, gcMs: Long,
      inBytes: Long, inRecs: Long, shWBytes: Long, shWRecs: Long, shRBytes: Long,
      fetchWaitMs: Long, spillBytes: Long)
  final case class Qe(seconds: Double, exchanges: Int, groupTopK: Int,
      partsPlanned: Long, partsSkipped: Long, graftWrite: Boolean, writeRows: Long)
  final case class Progress(inputRows: Long, durations: Map[String, Long], stateRows: Long,
      stateCommitMs: Long, stateMemory: Long, query: String)

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.Map.empty[Int, Stage]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val qes = mutable.ArrayBuffer.empty[Qe]
  private val progress = mutable.ArrayBuffer.empty[Progress]
  private val blocks = mutable.Map.empty[String, Long]
  private var blockPeak = 0L

  private def on(f: => Unit): Unit = if (enabled) synchronized(f)

  final class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = on {
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseProp)))
      jobs += Job(e.time, phase, e.stageIds)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = on {
      val i = e.stageInfo
      stages(i.stageId) = Stage(i.numTasks, i.submissionTime.getOrElse(0L))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = on {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.stageId, e.taskInfo.launchTime, m.executorCpuTime,
        m.executorRunTime, m.jvmGCTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = on {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val size = info.memSize + info.diskSize
        if (info.storageLevel.isValid && size > 0) blocks(info.blockId.name) = size
        else blocks.remove(info.blockId.name)
        blockPeak = math.max(blockPeak, blocks.values.sum)
      }
    }
  }

  final class QeListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      if (!enabled) return
      val plan = qe.executedPlan
      val nodes = collectWithSubqueries(plan) { case n => n }
      def metric(name: String) = nodes.flatMap(_.metrics.get(name)).map(_.value).sum
      val write = graftWrite(plan)
      val rec = Qe(durationNs / 1e9,
        nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
        nodes.count(_.nodeName.startsWith("GroupTopK")),
        metric("partsPlanned"), metric("partsSkipped"),
        write.isDefined, write.map(writtenRows).getOrElse(0L))
      on { qes += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    private val writeNodes = Set("AppendData", "OverwriteByExpression",
      "OverwritePartitionsDynamic", "ReplaceData", "WriteDelta", "CreateTableAsSelect",
      "AtomicCreateTableAsSelect", "ReplaceTableAsSelect", "AtomicReplaceTableAsSelect",
      "DeleteFromTable")

    /** A DSv2 write command whose table, write or catalog is one of
      * graft's own classes (so noop and parquet writes do not count). */
    private def graftWrite(plan: SparkPlan): Option[SparkPlan] = plan.find { n =>
      writeNodes(n.nodeName) && n.productIterator.exists(x =>
        x != null && x.getClass.getName.startsWith("graft."))
    }

    /** Rows handed to the writer: the merge counters of a row-level
      * MERGE, or else the first row count below the write node. */
    private def writtenRows(write: SparkPlan): Long = {
      val below = write.children.flatMap(c => collectWithSubqueries(c) { case n => n })
      below.find(_.nodeName == "MergeRows") match {
        case Some(m) => Seq("numTargetRowsCopied", "numTargetRowsUpdated", "numTargetRowsInserted",
            "numTargetRowsNotMatchedBySourceUpdated").flatMap(m.metrics.get).map(_.value).sum
        case None => below.find(_.metrics.contains("numOutputRows"))
            .map(_.metrics("numOutputRows").value).getOrElse(0L)
      }
    }
  }

  /** Registered through `spark.sql.streaming.streamingQueryListeners`,
    * so the child sessions graft's streaming queries run in inherit it. */
  final class StreamListener extends StreamingQueryListener {
    import StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = on {
      val p = e.progress
      val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress += Progress(p.numInputRows, durations,
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.commitTimeMs).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum, p.id.toString)
    }
  }

  /** Everything recorded since the last call, then cleared. The block
    * peak restarts from the bytes still held. */
  def take(): (Seq[Job], Map[Int, Stage], Seq[Task], Seq[Qe], Seq[Progress], Long) = synchronized {
    val out = (jobs.toList, stages.toMap, tasks.toList, qes.toList, progress.toList, blockPeak)
    jobs.clear(); stages.clear(); tasks.clear(); qes.clear(); progress.clear()
    blockPeak = blocks.values.sum
    out
  }
}
