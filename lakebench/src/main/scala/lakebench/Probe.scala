package lakebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Exchange and join counts of one physical plan. */
final case class Census(exchanges: Long = 0, broadcastExchanges: Long = 0,
    smj: Long = 0, shj: Long = 0, bhj: Long = 0, shardsRead: Long = 0,
    shardsPruned: Long = 0) {
  def +(o: Census): Census = Census(exchanges + o.exchanges,
    broadcastExchanges + o.broadcastExchanges, smj + o.smj, shj + o.shj,
    bhj + o.bhj, shardsRead + o.shardsRead, shardsPruned + o.shardsPruned)
  def -(o: Census): Census = Census(exchanges - o.exchanges,
    broadcastExchanges - o.broadcastExchanges, smj - o.smj, shj - o.shj,
    bhj - o.bhj, shardsRead - o.shardsRead, shardsPruned - o.shardsPruned)
}

object Census {
  /** Counts what a plan executed. An adaptive plan is read through its
    * current plan, which after execution is AQE's final plan, never its
    * initial one; query stages are read through to the exchange they
    * ran; a reused exchange moved no new data and is not counted.
    * Subquery plans are included. GraftLog scans contribute their
    * `shardsRead` / `shardsPruned` SQL metrics. */
  def of(plan: SparkPlan): Census = plan match {
    case a: AdaptiveSparkPlanExec => of(a.executedPlan)
    case q: QueryStageExec => of(q.plan)
    case _: ReusedExchangeExec => Census()
    case p =>
      val own = p match {
        case _: ShuffleExchangeLike => Census(exchanges = 1)
        case _: BroadcastExchangeLike => Census(broadcastExchanges = 1)
        case _: SortMergeJoinExec => Census(smj = 1)
        case _: ShuffledHashJoinExec => Census(shj = 1)
        case _: BroadcastHashJoinExec => Census(bhj = 1)
        case s: BatchScanExec =>
          def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
          Census(shardsRead = m("shardsRead"), shardsPruned = m("shardsPruned"))
        case _ => Census()
      }
      (p.children ++ p.subqueries).map(of).foldLeft(own)(_ + _)
  }
}

/** Running totals of everything the listeners saw. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskCpuNs: Long = 0, taskRunMs: Long = 0, gcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    input: Long = 0, peakTaskMem: Long = 0, census: Census = Census(),
    executions: Long = 0, microbatches: Long = 0, listenerNs: Long = 0) {
  /** Counts since `o`; the peak is this snapshot's own. */
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskCpuNs - o.taskCpuNs, taskRunMs - o.taskRunMs,
    gcMs - o.gcMs, shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, input - o.input, peakTaskMem, census - o.census,
    executions - o.executions, microbatches - o.microbatches,
    listenerNs - o.listenerNs)
}

/** The benchmark's own observers of Spark: a SparkListener for jobs,
  * stages and task metrics, a QueryExecutionListener for the executed
  * plans, and a StreamingQueryListener for micro-batches and state.
  * Installed only in traced runs. */
final class Probe(spark: SparkSession) {
  private var c = Counters()
  private val jobSpans = ArrayBuffer.empty[(Long, Long)] // epoch ms
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  private val stateRows = scala.collection.mutable.Map[java.util.UUID, Long]()

  private def timed(f: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    f
    c = c.copy(listenerNs = c.listenerNs + System.nanoTime() - t0)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobStart(e.jobId) = e.time
      c = c.copy(jobs = c.jobs + 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobStart.remove(e.jobId).foreach(t0 => jobSpans += ((t0, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      c = c.copy(stages = c.stages + 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      c = c.copy(tasks = c.tasks + 1)
      if (m != null) c = c.copy(
        taskCpuNs = c.taskCpuNs + m.executorCpuTime,
        taskRunMs = c.taskRunMs + m.executorRunTime,
        gcMs = c.gcMs + m.jvmGCTime,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        input = c.input + m.inputMetrics.bytesRead,
        peakTaskMem = math.max(c.peakTaskMem, m.peakExecutionMemory))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      timed {
        c = c.copy(census = c.census + Census.of(qe.executedPlan),
          executions = c.executions + 1)
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed {
        c = c.copy(microbatches = c.microbatches + 1)
        stateRows(e.progress.runId) = e.progress.stateOperators.map(_.numRowsTotal).sum
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(): this.type = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    this
  }

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def resetPeak(): Unit = synchronized { c = c.copy(peakTaskMem = 0L) }

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): Counters = {
    org.apache.spark.lakebench.Bus.drain(spark.sparkContext)
    synchronized(c)
  }

  /** Final state-store rows summed over the streaming runs seen. */
  def stateRowsTotal(): Long = synchronized(stateRows.values.sum)

  /** Time within [t0, t1] (epoch ms) during which no job was running. */
  def idleMs(t0: Long, t1: Long): Long = {
    val ivs = synchronized(jobSpans.toList)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = t0
    ivs.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (t1 - t0) - covered
  }
}
