package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicInteger}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call into a layer. Times come from the calling thread; the Spark
  * counters come from [[Trace.Listener]], which finds the span through the
  * job group the span sets while it is open. */
final class Span(val id: Long, val name: String, val parent: Option[Span]) {
  val start: Long = System.nanoTime()
  private val gc0 = Trace.gcMillis()
  var constructed: Long = -1L
  var end: Long = -1L
  var gcMs: Long = 0L
  var resultRows: Long = 0L
  val children: ArrayBuffer[Span] = ArrayBuffer.empty

  val jobs = new AtomicInteger
  val tasks = new AtomicInteger
  val cpuNs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val resultBytes = new AtomicLong
  /** rows the call's final plan read at its scans (set after the action) */
  var rowsRead: Long = 0L
  val queueMs = new AtomicLong
  /** per stage: (task count, summed run ms, max run ms) → skew */
  val stageRun = new ConcurrentHashMap[Int, Array[Long]]()

  /** Marks the point where the call has returned its (lazy) result and the
    * action that runs it begins. */
  def markConstructed(): Unit = if (constructed < 0) constructed = System.nanoTime()

  private[perfbench] def close(): Unit = { end = System.nanoTime(); gcMs = Trace.gcMillis() - gc0 }

  def wallS: Double = (end - start) / 1e9
  def selfS: Double = wallS - children.map(_.wallS).sum
  def constructS: Double = if (constructed < 0) 0.0 else (constructed - start) / 1e9
  def execS: Double = if (constructed < 0) wallS else (end - constructed) / 1e9
  /** max / mean task run time of the span's most skewed stage (1 = even) */
  def taskSkew: Double = {
    val s = stageRun.values.asScala.filter(a => a(0) >= 2 && a(1) > 0)
      .map(a => a(2).toDouble / (a(1).toDouble / a(0)))
    if (s.isEmpty) 1.0 else s.max
  }
}

/** Span recorder. With `enabled = false` it only runs the bodies: no job
  * groups, no listener, no span objects, so untraced runs pay nothing. */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong
  private var current: Option[Span] = None
  val roots: ArrayBuffer[Span] = ArrayBuffer.empty
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val listener = new Trace.Listener(byGroup)
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as span `name`. The body may call `markConstructed()` on
    * the span it gets (a no-op stand-in when tracing is off). */
  def apply[A](name: String)(body: Span => A): A =
    if (!enabled) body(Trace.Off)
    else {
      val s = new Span(ids.incrementAndGet(), name, current)
      s.parent.fold(roots += s)(_.children += s)
      val group = s"perfbench-${s.id}"
      byGroup.put(group, s)
      val saved = current
      current = Some(s)
      sc.setJobGroup(group, name, interruptOnCancel = false)
      try body(s)
      finally {
        s.close()
        current = saved
        saved match {
          case Some(p) => sc.setJobGroup(s"perfbench-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def stop(): Unit = if (enabled) { drain(); sc.removeSparkListener(listener) }

  def all: Seq[Span] = {
    def walk(s: Span): Seq[Span] = s +: s.children.toSeq.flatMap(walk)
    roots.toSeq.flatMap(walk)
  }

  /** Calls of one span name; the per-layer metrics are means over them. */
  def named(name: String): Seq[Span] = all.filter(_.name == name)
}

object Trace {
  /** Stand-in span handed to bodies when tracing is off. */
  val Off = new Span(0L, "off", None)

  /** Rows output by the leaf scans of an executed plan, including the
    * stages adaptive execution ran: the rows a query read to answer. */
  def scannedRows(df: org.apache.spark.sql.DataFrame): Long = ScanRows.of(df.queryExecution.executedPlan)

  private object ScanRows extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def of(plan: SparkPlan): Long = collectWithSubqueries(plan) {
      case s: InMemoryTableScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
  }

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Attributes jobs, tasks, CPU, shuffle and result bytes to the span
    * whose job group launched them. */
  final class Listener(byGroup: ConcurrentHashMap[String, Span]) extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Span]()
    private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.flatMap(g => Option(byGroup.get(g))).foreach { s =>
        s.jobs.incrementAndGet()
        e.stageIds.foreach(id => stageSpan.put(id, s))
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitted.put(e.stageInfo.stageId,
        java.lang.Long.valueOf(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.tasks.incrementAndGet()
        val submitted = Option(stageSubmitted.get(e.stageId)).map(_.longValue)
        submitted.foreach(t0 => s.queueMs.addAndGet(math.max(0L, e.taskInfo.launchTime - t0)))
        val m = e.taskMetrics
        if (m != null) {
          s.cpuNs.addAndGet(m.executorCpuTime)
          s.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
          s.resultBytes.addAndGet(m.resultSize)
          val a = s.stageRun.computeIfAbsent(e.stageId, _ => new Array[Long](3))
          a.synchronized {
            a(0) += 1; a(1) += m.executorRunTime; a(2) = math.max(a(2), m.executorRunTime)
          }
        }
      }
  }
}
