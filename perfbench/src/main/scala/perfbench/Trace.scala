package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call of the benchmark into an engine module. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      workload: String, phase: String, pass: Int, startNs: Long,
                      var endNs: Long = -1L, traced: Boolean = false)

/** Spark-level counters accumulated for one span while tracing is on. */
final class SpanCounters {
  var taskCpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var exchanges = 0
  var nestedLoopJoins = 0
  val stageSkew = mutable.ArrayBuffer.empty[Double]
}

/** Span recorder plus the optional Spark listeners of a traced run.
  *
  * Every span the harness opens tags the calling thread with a job group,
  * so the tasks Spark runs for that call are charged to it. A streaming
  * query runs its batches under its own run id as job group; the
  * query-started callback (synchronous with `start()`) maps that run id
  * to the span that started the query.
  */
final class Tracer(workload: String, spark0: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  @volatile private var spark = spark0
  @volatile private var attached = false

  // listener-side state, guarded by `this`
  private val groupToSpan = mutable.HashMap.empty[String, Int]
  private val stageToSpan = mutable.HashMap.empty[Int, Int]
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val execToSpan = mutable.HashMap.empty[Long, Int]
  private val plans = mutable.HashMap.empty[Long, SparkPlanInfo]
  val counters = mutable.HashMap.empty[Int, SpanCounters]
  /** Progress of every traced trigger, with the span that started its query. */
  val progress = mutable.ArrayBuffer.empty[(Option[Int], org.apache.spark.sql.streaming.StreamingQueryProgress)]

  def groupOf(id: Int): String = s"perfbench-span-$id"

  def current: Option[Span] = stack.headOption

  /** Phase and pass the harness is in; stamped on every new span. */
  var phase = "setup"
  var pass = 0

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = Span(spans.size, name, layer, stack.headOption.map(_.id).getOrElse(-1),
      workload, phase, pass, System.nanoTime(), traced = attached)
    spans += s
    stack = s :: stack
    val sc = spark.sparkContext
    if (attached) {
      synchronized { groupToSpan(groupOf(s.id)) = s.id }
      sc.setJobGroup(groupOf(s.id), name, interruptOnCancel = false)
    }
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      if (attached) stack.headOption match {
        case Some(p) => sc.setJobGroup(groupOf(p.id), p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def spanOfProps(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(groupToSpan.get)

  private def countersOf(span: Int): SpanCounters =
    counters.getOrElseUpdate(span, new SpanCounters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      spanOfProps(e.properties).foreach(id => e.stageIds.foreach(st => stageToSpan(st) = id))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageToSpan.get(e.stageId).foreach { id =>
        val c = countersOf(id)
        val m = e.taskMetrics
        if (m != null) {
          c.taskCpuNs += m.executorCpuTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        }
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val st = e.stageInfo.stageId
      for (id <- stageToSpan.get(st); ds <- stageTasks.remove(st) if ds.size >= 2) {
        val sorted = ds.sorted
        val median = math.max(1L, sorted(sorted.size / 2))
        countersOf(id).stageSkew += sorted.last.toDouble / median
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        s.jobGroupId.flatMap(groupToSpan.get).foreach(id => execToSpan(s.executionId) = id)
        plans(s.executionId) = s.sparkPlanInfo
      }
      case u: SparkListenerSQLAdaptiveExecutionUpdate => Tracer.this.synchronized {
        plans(u.executionId) = u.sparkPlanInfo
      }
      case end: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        // the last plan posted for an execution is its final (AQE) plan
        plans.remove(end.executionId).foreach { info =>
          val names = Tracer.nodeNames(info)
          execToSpan.remove(end.executionId).foreach { id =>
            countersOf(id).exchanges += names.count(Tracer.Exchanges)
            countersOf(id).nestedLoopJoins += names.count(Tracer.NestedLoop)
          }
        }
      }
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized {
        current.foreach(s => groupToSpan(e.runId.toString) = s.id)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        progress += (groupToSpan.get(e.progress.runId.toString) -> e.progress)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Point the tracer at a new session (after a restart). */
  def rebind(s: SparkSession): Unit = {
    val was = attached
    if (was) detach()
    spark = s
    if (was) attach()
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    // let the listener bus drain what the last span produced
    Thread.sleep(300)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  def isAttached: Boolean = attached
}

object Tracer {
  val Exchanges: Set[String] = Set("Exchange", "BroadcastExchange")
  val NestedLoop: Set[String] = Set("BroadcastNestedLoopJoin", "CartesianProduct")

  /** Node names of an executed plan, including query stages and subqueries.
    * A reused exchange and a cached relation are not walked into: their
    * plans do not run again. */
  def nodeNames(info: SparkPlanInfo): Seq[String] = info.nodeName match {
    case "ReusedExchange" | "InMemoryTableScan" => Seq(info.nodeName)
    case n => n +: info.children.flatMap(nodeNames)
  }
}
