package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around every call the benchmark makes into graft, plus the
  * Spark events those calls cause.
  *
  * Untraced (`on = false`), [[span]] only times its body, which is
  * what the end-to-end metrics need. Traced, it also records a span
  * (name, start, end, parent, operation id), runs the operation's Spark
  * jobs under the job group `pb-<op>`, and the listeners the benchmark
  * registers attribute jobs, stages and tasks to the operation through
  * that group. Query-execution events carry no job group; they are
  * matched to the operation whose interval holds their planning start.
  * Everything stays in memory until the run ends.
  */
final class Tracer(spark: SparkSession) {
  final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)
  final case class OpInfo(id: Int, flow: String, startMs: Long, var endMs: Long, var results: Long = 0L)

  /** Per-operation totals of the Spark events attributed to it. */
  final class OpSpark {
    var jobs, stages, tasks = 0L
    var schedDelayMs, shuffleWrite, shuffleRead, spill, gcMs = 0L
    var peakMem = 0L
    val taskMs = ArrayBuffer.empty[Long]
    var planMs = 0L
    var tickFiles, tickPartitions, tickBytes, tickRows = 0L
    var findbPartitions, findbRows = 0L
  }

  var on = false
  val spans = ArrayBuffer.empty[Span]
  val ops = ArrayBuffer.empty[OpInfo]
  val opSpark = mutable.HashMap.empty[Int, OpSpark]
  /** Streaming progress per query label, in arrival order. */
  val progress = mutable.HashMap.empty[String, ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]]
  val queryLabels = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()

  private var nextSpan = 0
  private var stack: List[Int] = Nil
  private var curOp = -1
  private val qeEvents = ArrayBuffer.empty[(Long, OpSpark => Unit)]

  private def sparkOf(op: Int): OpSpark = synchronized(opSpark.getOrElseUpdate(op, new OpSpark))

  /** One closed-loop operation of `flow`; nested [[span]]s are its calls. */
  def op[T](flow: String)(body: => T): T = {
    if (!on) return body
    val id = ops.size
    val info = OpInfo(id, flow, System.currentTimeMillis(), Long.MaxValue)
    synchronized(ops += info)
    curOp = id
    spark.sparkContext.setJobGroup(s"pb-$id", flow, interruptOnCancel = false)
    try span(s"op.$flow")(body)
    finally {
      info.endMs = System.currentTimeMillis()
      spark.sparkContext.clearJobGroup()
      curOp = -1
    }
  }

  /** Adds `n` result rows to the current operation. */
  def results(n: Long): Unit = if (on && curOp >= 0) ops(curOp).results += n

  /** Times `body`; returns its value and duration in ms. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = span(name)(body)
    (v, (System.nanoTime() - t0) / 1e6)
  }

  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val id = nextSpan; nextSpan += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      spans += Span(id, parent, curOp, name, t0, System.nanoTime())
    }
  }

  // ---- listeners -------------------------------------------------------

  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  @volatile private var markerSeen = Set.empty[String]
  @volatile private var lastQeStartMs = 0L

  private def groupOp(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("pb-")).flatMap(g => g.stripPrefix("pb-").toIntOption)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("marker-")).foreach(m => markerSeen += m)
      groupOp(e.properties).foreach { op =>
        val s = sparkOf(op)
        s.synchronized { s.jobs += 1 }
        e.stageIds.foreach(st => stageOp.put(st, op))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
        val s = sparkOf(op); s.synchronized { s.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { op =>
        val m = e.taskMetrics
        val s = sparkOf(op)
        if (m != null) s.synchronized {
          val dur = e.taskInfo.duration
          s.tasks += 1
          s.taskMs += dur
          s.schedDelayMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - (if (e.taskInfo.gettingResult) e.taskInfo.gettingResultTime else 0L))
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
          s.gcMs += m.jvmGCTime
        }
      }
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      val startMs = if (phases.isEmpty) System.currentTimeMillis() else phases.map(_.startTimeMs).min
      val planMs = phases.map(_.durationMs).sum
      val plan = nodes(qe.executedPlan)
      val update: OpSpark => Unit = s => s.synchronized {
        s.planMs += planMs
        plan.foreach {
          case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.toString.contains("tickstore")) =>
            def m(k: String) = f.metrics.get(k).map(_.value).getOrElse(0L)
            s.tickFiles += m("numFiles"); s.tickPartitions += m("numPartitions")
            s.tickBytes += m("filesSize"); s.tickRows += m("numOutputRows")
          case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.findb.FindbScan] =>
            s.findbPartitions += b.inputPartitions.size
            s.findbRows += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          case _ =>
        }
      }
      Tracer.this.synchronized { qeEvents += ((startMs, update)); lastQeStartMs = math.max(lastQeStartMs, startMs) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(queryLabels.get(e.progress.id)).foreach { label =>
        Tracer.this.synchronized(progress.getOrElseUpdate(label, ArrayBuffer.empty) += e.progress)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var registered = false

  /** Switches tracing on or off. Switching off first waits until the
    * listeners have seen a marker job and query started after every
    * traced operation, so no event of a traced operation is lost.
    */
  def setOn(v: Boolean): Unit = if (v != on) {
    if (v) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
      registered = true
    } else drainAndRemove()
    on = v
  }

  private def drainAndRemove(): Unit = if (registered) {
    val marker = s"marker-${System.nanoTime()}"
    val t0 = System.currentTimeMillis()
    spark.sparkContext.setJobGroup(marker, "trace drain", interruptOnCancel = false)
    try spark.range(1).collect() finally spark.sparkContext.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    while ((!markerSeen.contains(marker) || lastQeStartMs < t0) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    registered = false
  }

  /** Ends tracing; attributes query-execution events to operations. */
  def finish(): Unit = {
    setOn(false)
    synchronized {
      qeEvents.foreach { case (startMs, update) =>
        ops.find(o => o.startMs <= startMs && startMs <= o.endMs).foreach(o => update(sparkOf(o.id)))
      }
      qeEvents.clear()
    }
  }

  /** Self time per span name prefix (layer): duration minus the part
    * covered by its child spans.
    */
  def selfMs(layerOf: String => String): Map[String, Double] = {
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(s => layerOf(s.name)).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e6).sum
    }
  }

  def spansJson: java.util.List[java.util.Map[String, Any]] = {
    val out = new java.util.ArrayList[java.util.Map[String, Any]]()
    spans.sortBy(_.id).foreach { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent); m.put("op", s.op); m.put("name", s.name)
      m.put("start_ns", s.startNs); m.put("end_ns", s.endNs)
      out.add(m)
    }
    out
  }
}
