package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLExecutionStart}

/** One timed span of the traced run. Times are epoch microseconds; `parent`
  * is 0 for the root. */
final case class Span(id: Long, parent: Long, name: String, query: String,
                      startUs: Long, endUs: Long)

/** Executor- and scheduler-side counters of one query, filled from listener
  * events of every job the query issued (plan-time probes included). */
final class Counters {
  var jobs, buildJobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, schedDelayMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillBytes = 0L
  var inputBytes, inputRows = 0L
  var broadcasts, broadcastBytes, broadcastMs = 0L
  var blockPuts, blockPutBytes = 0L
  val stageIntervalsMs = mutable.ArrayBuffer.empty[(Long, Long)]
  /** stage id -> summed peak execution memory of its tasks */
  val stagePeakExec = mutable.Map.empty[Int, Long]

  /** Seconds during which at least one of the query's stages was active. */
  def stageUnionS: Double = Intervals.unionLength(stageIntervalsMs.toSeq) / 1e3
}

/** Local properties the harness sets on the driver thread; Spark copies them
  * into every job the thread (or a broadcast future it spawns) submits. */
object Props {
  val Query = "perfbench.query"
  val Phase = "perfbench.phase"
  val Span = "perfbench.span"
}

/** The query and job span a stage's events are charged to. */
private[perfbench] final case class Owner(query: String, jobSpan: Long)

/** Collects spans and per-query counters. Events arrive on the listener bus
  * thread; the harness drains the bus before it reads a query's counters or
  * moves `current` on, so events without job properties (block updates, SQL
  * driver metrics) are charged to the query that was running. */
final class LayerListener(ids: AtomicLong) extends SparkListener {
  @volatile var current: String = ""
  private val byQuery = mutable.Map.empty[String, Counters]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val openJobs = mutable.Map.empty[Int, Span]
  private val stageOwner = mutable.Map.empty[Int, Owner]
  /** accumulator id -> metric name, for metrics of broadcast exchanges */
  private val broadcastAccums = mutable.Map.empty[Long, String]

  private def counters(q: String): Counters = byQuery.getOrElseUpdate(q, new Counters)

  def addSpan(s: Span): Unit = synchronized { spans += s }
  def allSpans: Seq[Span] = synchronized { spans.toList }
  /** Removes and returns the counters gathered for `q`. */
  def take(q: String): Counters = synchronized { byQuery.remove(q).getOrElse(new Counters) }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val q = prop(Props.Query).getOrElse(current)
    val c = counters(q)
    c.jobs += 1
    if (prop(Props.Phase).contains("queries.build")) c.buildJobs += 1
    val span = Span(ids.incrementAndGet(), prop(Props.Span).map(_.toLong).getOrElse(0L),
      s"job ${e.jobId}", q, e.time * 1000, 0L)
    openJobs(e.jobId) = span
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = Owner(q, span.id))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(s => spans += s.copy(endUs = e.time * 1000))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val owner = stageOwner.getOrElse(info.stageId, Owner(current, 0L))
    val c = counters(owner.query)
    c.stages += 1
    for (start <- info.submissionTime; end <- info.completionTime) {
      c.stageIntervalsMs += ((start, end))
      spans += Span(ids.incrementAndGet(), owner.jobSpan,
        s"stage ${info.stageId}.${info.attemptNumber()} ${info.name}", owner.query,
        start * 1000, end * 1000)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageOwner.get(e.stageId).map(_.query).getOrElse(current))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.stagePeakExec(e.stageId) = c.stagePeakExec.getOrElse(e.stageId, 0L) + m.peakExecutionMemory
      // the scheduler-delay formula of Spark's own stage page
      val t = e.taskInfo
      c.schedDelayMs += math.max(0L, t.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - t.gettingResultTime)
    }
  }

  /** RDD blocks only: checkpoints and persisted intermediates, not the
    * broadcast pieces every stage's task binary is shipped in. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val bytes = b.memSize + b.diskSize
    if (b.blockId.isRDD && b.storageLevel.isValid && bytes > 0) {
      val c = counters(current)
      c.blockPuts += 1
      c.blockPutBytes += bytes
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => registerBroadcasts(s.sparkPlanInfo)
      case u: SparkListenerDriverAccumUpdates =>
        val c = counters(current)
        u.accumUpdates.foreach { case (id, v) =>
          broadcastAccums.get(id).foreach {
            case "data size" => c.broadcasts += 1; c.broadcastBytes += v
            case _ => c.broadcastMs += v
          }
        }
      case _ =>
    }
  }

  /** The driver-side metrics BroadcastExchangeExec posts once per build:
    * its size, and the collect, build and broadcast times (ms). These events
    * only come from SQL executions, that is the probes, collects and
    * checkpoints issued inside `fn`; the drained final plan is read by
    * [[PlanBroadcasts]]. */
  private def registerBroadcasts(p: SparkPlanInfo): Unit = {
    if (p.nodeName == "BroadcastExchange")
      p.metrics.foreach { m =>
        if (Set("data size", "time to collect", "time to build", "time to broadcast")(m.name))
          broadcastAccums(m.accumulatorId) = m.name
      }
    p.children.foreach(registerBroadcasts)
  }
}

/** Broadcasts of a drained final plan. The harness drains it through
  * `queryExecution.toRdd`, outside any SQL execution, so no listener event
  * reports its broadcasts; their driver-side metrics are read from the plan
  * instead. A reused exchange is a leaf, so each broadcast counts once. */
object PlanBroadcasts {
  def addTo(c: Counters, plan: SparkPlan): Unit =
    plan.collectWithSubqueries { case b: BroadcastExchangeExec => b }.foreach { b =>
      def v(m: String) = b.metrics(m).value
      c.broadcasts += 1
      c.broadcastBytes += v("dataSize")
      c.broadcastMs += v("collectTime") + v("buildTime") + v("broadcastTime")
    }
}
