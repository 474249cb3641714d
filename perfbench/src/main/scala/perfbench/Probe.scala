package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec, ColumnarToRowExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** Process CPU time and heap-after-GC, the two JVM-wide numbers every
  * pass reports. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val jit = ManagementFactory.getCompilationMXBean

  /** Process CPU time less the JIT compiler's time: compilation is the
    * JVM warming up, and on a short run it is most of the run-to-run
    * spread of process CPU. */
  def cpuNs: Long = os.getProcessCpuTime - jit.getTotalCompilationTime * 1000000L

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  /** Highest heap in use right after a GC since the last [[resetHeapPeak]]
    * (0 when no GC ran). */
  @volatile private var peakBytes = 0L
  def resetHeapPeak(): Unit = peakBytes = 0L
  def heapPeakBytes: Long = peakBytes

  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools.contains(pool) => u.getUsed
        }.sum
        synchronized { if (used > peakBytes) peakBytes = used }
      }
  }

  def installGcListener(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
      case _ => ()
    }

  def loadavg: String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim
    catch { case _: Exception => "n/a" }
}

/** Scheduler and executor counters, from Spark's listener bus. Jobs are
  * split by the `perfbench.phase` local property the op runner sets
  * (`build` = eager actions inside a query builder). */
final class ExecCounters extends SparkListener {
  val jobs = new AtomicLong()
  val buildJobs = new AtomicLong()
  val stages = new AtomicLong()
  val tasks = new AtomicLong()
  val failedTasks = new AtomicLong()
  val runMs = new AtomicLong()
  val cpuNs = new AtomicLong()
  val gcMs = new AtomicLong()
  val shuffleWrite = new AtomicLong()
  val shuffleRead = new AtomicLong()
  val spill = new AtomicLong()
  @volatile var peakExecMem = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    if (Option(e.properties).exists(p => p.getProperty(Harness.PhaseProp) == "build"))
      buildJobs.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (!e.taskInfo.successful) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      synchronized { peakExecMem = math.max(peakExecMem, m.peakExecutionMemory) }
    }
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "build_jobs" -> buildJobs.get, "stages" -> stages.get,
    "tasks" -> tasks.get, "failed_tasks" -> failedTasks.get, "run_ms" -> runMs.get,
    "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get, "shuffle_write" -> shuffleWrite.get,
    "shuffle_read" -> shuffleRead.get, "spill" -> spill.get)
}

/** What one finished query did: its planning phases (wall-clock ms, from
  * `QueryPlanningTracker`) and counts from its final executed plan. */
final case class QueryFacts(startMs: Long, endMs: Long, phases: Map[String, (Long, Long)],
    scanNodes: Int, exchanges: Int, inputPartitions: Long, pushedFilters: Int,
    graftScanRows: Long, residualDropped: Long)

/** Collects [[QueryFacts]] for every query that finishes. */
final class PlanCollector extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val facts = new ConcurrentLinkedQueue[QueryFacts]()

  def drain(): Seq[QueryFacts] = {
    val b = Seq.newBuilder[QueryFacts]
    var f = facts.poll()
    while (f != null) { b += f; f = facts.poll() }
    b.result()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    facts.add(factsOf(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    facts.add(factsOf(qe))

  private val leafPredicate =
    ("\\b(Eq|Ne|Lt|Lte|Gt|Gte|In|Nin|Regex|RegexServer|Exists|ExistsField|Size|All|" +
      "ElemMatch|NotOp|Mod|TypeIs|ReadStrCmp|ReadStrIn|ReadStrRegex|ReadLongCmp|" +
      "ReadLongIn|ReadTimeCmp|ReadTimeIn)\\(").r

  private def strip(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => strip(w.child)
    case i: InputAdapter => strip(i.child)
    case c: ColumnarToRowExec => strip(c.child)
    case other => other
  }

  private def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  private def isGraft(b: BatchScanExec): Boolean = b.scan.getClass.getName.startsWith("graft.")

  def factsOf(qe: QueryExecution): QueryFacts = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val start = if (phases.isEmpty) 0L else phases.values.map(_._1).min
    val end = if (phases.isEmpty) 0L else phases.values.map(_._2).max
    val plan = qe.executedPlan
    val nodes = collectWithSubqueries(plan) { case p => p }
    val scans = nodes.filter(n => n.isInstanceOf[BatchScanExec] || n.isInstanceOf[FileSourceScanExec])
    val partitions = scans.map {
      case b: BatchScanExec => b.inputRDD.getNumPartitions.toLong
      case f: FileSourceScanExec => f.inputRDD.getNumPartitions.toLong
      case _ => 0L
    }.sum
    val pushed = scans.map {
      case b: BatchScanExec if isGraft(b) => leafPredicate.findAllIn(b.scan.description()).size
      case f: FileSourceScanExec => f.metadata.get("PushedFilters")
        .map(s => s.stripPrefix("[").stripSuffix("]").split(", ").count(_.nonEmpty)).getOrElse(0)
      case _ => 0
    }.sum
    val graftScans = scans.collect { case b: BatchScanExec if isGraft(b) => b }
    val dropped = nodes.collect {
      case f: FilterExec => strip(f.child) match {
        case b: BatchScanExec if isGraft(b) => math.max(0L, rows(b) - rows(f))
        case _ => 0L
      }
    }.sum
    QueryFacts(start, end, phases,
      scanNodes = nodes.count(n => n.children.isEmpty && n.nodeName.contains("Scan")),
      exchanges = nodes.count {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
        case _ => false
      },
      inputPartitions = partitions, pushedFilters = pushed,
      graftScanRows = graftScans.map(rows).sum, residualDropped = dropped)
  }
}
