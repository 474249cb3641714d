package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced run: listeners on, spans on, server calls through
  * [[TimingServerFactory]]. Each op is followed by a listener-bus drain so
  * its counters and planning facts are attributed to it.
  */
final class Traced(spark: SparkSession, wl: Workload, cores: Int) {
  private val exec = new ExecCounters
  private val plans = new PlanCollector

  private case class OpFacts(op: Op, wallMs: Double, jobs: Long, buildJobs: Long,
      queries: Seq[QueryFacts], execQueries: Seq[QueryFacts])
  private val perOp = mutable.ArrayBuffer.empty[OpFacts]
  private var analysisMs = 0L

  private def instrument(op: Op): Op = {
    var buildSpan = 0L
    var buildEndMs = 0L
    var t0 = 0L
    var jobs0, buildJobs0 = 0L
    Op(op.name,
      build = () => {
        t0 = System.nanoTime()
        jobs0 = exec.jobs.get; buildJobs0 = exec.buildJobs.get
        buildSpan = Trace.current
        val df = op.build()
        buildEndMs = System.currentTimeMillis()
        // a DataFrame is analyzed when it is made, so its analysis phase
        // is in its own tracker, not in the tracker of the query that runs it
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.tracker.phases
          .get("analysis").foreach(p => analysisMs += p.durationMs)
        df
      },
      run = (df: DataFrame) => {
        val execSpan = Trace.current
        try op.run(df)
        finally {
          ServerCalls.closeOpen()
          Harness.drain(spark)
          val qs = plans.drain()
          qs.foreach { q =>
            if (q.endMs > q.startMs) Trace.record(Span(Trace.newId(),
              if (q.startMs < buildEndMs) buildSpan else execSpan, "plan", op.name,
              q.startMs * 1000000L + Trace.wallToNanoOffset,
              q.endMs * 1000000L + Trace.wallToNanoOffset))
          }
          perOp += OpFacts(op, (System.nanoTime() - t0) / 1e6,
            exec.jobs.get - jobs0, exec.buildJobs.get - buildJobs0,
            qs, qs.filter(_.startMs >= buildEndMs))
        }
      },
      storedDocs = op.storedDocs, docs = op.docs, mode = op.mode)
  }

  /** Run traced passes with `passes` (the harness's timed loop). */
  def run(passes: Seq[Op] => Seq[Harness.Pass]): Seq[Harness.Pass] = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plans)
    Harness.drain(spark)
    plans.drain()
    ServerCalls.reset()
    Trace.clear()
    Trace.on = true
    try passes(wl.ops(traced = true).map(instrument))
    finally {
      Trace.on = false
      spark.listenerManager.unregister(plans)
      spark.sparkContext.removeSparkListener(exec)
    }
  }

  /** Per-layer metrics, each per traced pass unless it is a ratio or a
    * peak. */
  def layers(ps: Seq[Harness.Pass]): Map[String, Double] = {
    val n = ps.size.toDouble
    val wallMs = ps.map(_.wallS).sum * 1000
    val allQ = perOp.flatMap(_.queries)
    val execQ = perOp.flatMap(_.execQueries)
    def phaseMs(name: String) =
      allQ.flatMap(_.phases.get(name)).map { case (a, b) => (b - a).toDouble }.sum / n
    val spans = Trace.all
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("operators.build_ms") = spans.filter(_.name == "build").map(_.durNs).sum / 1e6 / n
    m("operators.build_jobs") = perOp.map(_.buildJobs).sum / n
    m("catalyst.analysis_ms") = (analysisMs + phaseMs("analysis") * n) / n
    m("catalyst.optimizer_ms") = phaseMs("optimization")
    m("catalyst.planning_ms") = phaseMs("planning")
    m("plan.scan_nodes") = execQ.map(_.scanNodes).sum / n
    m("plan.exchanges") = execQ.map(_.exchanges).sum / n
    m("plan.input_partitions") = execQ.map(_.inputPartitions).sum / n
    m("plan.pushed_filters") = execQ.map(_.pushedFilters).sum / n
    val e = exec.snapshot
    m("exec.jobs") = e("jobs") / n
    m("exec.stages") = e("stages") / n
    m("exec.tasks") = e("tasks") / n
    m("exec.failed_tasks") = e("failed_tasks") / n
    m("exec.core_idle_ratio") = 1.0 - e("run_ms") / (wallMs * cores)
    m("exec.cpu_ms") = e("cpu_ns") / 1e6 / n
    m("exec.gc_ms") = e("gc_ms") / n
    m("exec.shuffle_write_bytes") = e("shuffle_write") / n
    m("exec.shuffle_read_bytes") = e("shuffle_read") / n
    m("exec.spill_bytes") = e("spill") / n
    m("exec.peak_exec_mem_mb") = exec.peakExecMem / 1048576.0
    val scanRows = execQ.map(_.graftScanRows).sum.toDouble
    val stored = perOp.map(_.op.storedDocs).sum.toDouble
    m("source.rows_out") = scanRows / n
    m("source.kept_ratio") = if (stored > 0) scanRows / stored else 0.0
    m("source.residual_drop_ratio") =
      if (scanRows > 0) execQ.map(_.residualDropped).sum / scanRows else 0.0
    ServerCalls.Methods.foreach { k =>
      val s = ServerCalls.stats(k)
      m(s"server.$k.calls") = s.calls.get / n
      m(s"server.$k.busy_ms") = s.busyNs.get / 1e6 / n
      m(s"server.$k.docs") = s.docs.get / n
    }
    m("server.clients_created") = ServerCalls.clientsCreated.get / n
    val bw = ServerCalls.stats("bulkWrite")
    m("server.bulkWrite.models_per_call") =
      if (bw.calls.get > 0) bw.docs.get.toDouble / bw.calls.get else 0.0
    Seq("insert", "upsert", "update", "replace", "sharded_insert").foreach { mode =>
      val ops = perOp.filter(_.op.mode == mode)
      val secs = ops.map(_.wallMs).sum / 1000
      m(s"store.docs_per_s.$mode") = if (secs > 0) ops.map(_.op.docs).sum / secs else 0.0
    }
    m("store.bytes_on_disk") = wl.bytesWritten().toDouble
    m("store.write_jobs") =
      perOp.filter(_.op.mode.nonEmpty).map(o => o.jobs - o.buildJobs).sum / n
    // server spans are grouped into one layer: `server.find` -> `server`
    val self = Trace.selfTimeNs(spans).groupMapReduce(_._1.takeWhile(_ != '.'))(_._2)(_ + _)
    Seq("pass", "op", "build", "plan", "execute", "server").foreach { k =>
      m(s"self_ms.$k") = self.getOrElse(k, 0L) / 1e6 / n
    }
    m.toMap
  }

  def writeSpans(path: Path): String = {
    Files.write(path, Trace.toJsonLines(Trace.all).toSeq.asJava)
    path.toString
  }
}
