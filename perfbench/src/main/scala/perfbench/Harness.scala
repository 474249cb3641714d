package perfbench

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The benchmark's JVM side. Runs one workload:
  *   1. set-up: session, `prep` (repeated, median counted), one checking
  *      pass and one untimed pass that warm the JVM;
  *   2. untraced passes for `--seconds` (the end-to-end numbers);
  *   3. with `--trace 1`, traced passes for another `--seconds` (the
  *      per-layer numbers and the tracing overhead).
  * Writes one JSON result file; `perfbench/run.py` turns it into metrics.
  *
  * Usage: perfbench.Harness --workload W --fixture DIR --work DIR --seed N
  *   --seconds S --trace 0|1 --cores N --t0-ms EPOCH_MS --out FILE --spans FILE
  */
object Harness {
  val PhaseProp = "perfbench.phase"
  val PrepReps = 3

  final case class OpTiming(name: String, ms: Double, ok: Boolean)
  final case class Pass(wallS: Double, cpuS: Double, heapPeakMb: Double,
      loadBefore: String, loadAfter: String, ops: Seq[OpTiming])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workDir = a("work")
    val cores = a("cores").toInt
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    Jvm.installGcListener()

    val spark = graft.GraftConf.tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()

    val wl = Workloads(a("workload"), spark, a("fixture"), workDir, seed)
    val rng = new scala.util.Random(seed)
    val failures = mutable.LinkedHashMap.empty[String, String]
    var attempted, failed = 0L
    def fail(op: String, why: String): Unit = {
      failed += 1
      failures.getOrElseUpdate(op, why)
    }

    // set-up: prep several times (its median stands for it in setup_s),
    // then one checking pass over every op
    val prepS = (0 until PrepReps).map { r =>
      val t0 = System.nanoTime(); wl.prep(r); (System.nanoTime() - t0) / 1e9
    }
    val checkT0 = System.nanoTime()
    wl.beforePass()
    rng.shuffle(wl.ops(traced = false)).foreach { op =>
      attempted += 1
      spark.catalog.clearCache()
      try wl.check(op).foreach(fail(op.name, _))
      catch { case e: Throwable => fail(op.name, message(e)) }
    }
    val checkS = (System.nanoTime() - checkT0) / 1e9

    def runPass(ops: Seq[Op]): Pass = {
      wl.beforePass()
      // every pass starts from a collected heap, so its after-GC peak is
      // its own and not the previous pass's garbage
      System.gc()
      val loadBefore = Jvm.loadavg
      Jvm.resetHeapPeak()
      val cpu0 = Jvm.cpuNs
      val t0 = System.nanoTime()
      Trace.currentOp = ""
      val timings = Trace.span("pass")(rng.shuffle(ops).map { op =>
        attempted += 1
        val (ms, ok) = runOp(spark, op)
        if (!ok) fail(op.name, "threw in a timed pass")
        OpTiming(op.name, ms, ok)
      })
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (Jvm.cpuNs - cpu0) / 1e9
      val p = Pass(wall, cpu, Jvm.heapPeakBytes / 1048576.0, loadBefore, Jvm.loadavg, timings)
      System.err.println(f"[perfbench] pass ${p.wallS}%.3f s cpu ${p.cpuS}%.3f s " +
        s"load before '${p.loadBefore}' after '${p.loadAfter}'")
      p
    }

    def passesFor(ops: Seq[Op]): Seq[Pass] = {
      val out = mutable.ArrayBuffer.empty[Pass]
      val t0 = System.nanoTime()
      while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) out += runPass(ops)
      out.toSeq
    }

    // one untimed pass more: the checking pass leaves the JIT still warming
    runPass(wl.ops(traced = false))
    val firstOpMs = System.currentTimeMillis()
    val passes = passesFor(wl.ops(traced = false))
    val storedRatio = wl.storedBytesPerDocByte()

    val traced: Map[String, Any] =
      if (!trace) Map.empty
      else {
        val tr = new Traced(spark, wl, cores)
        val tp = tr.run(passesFor)
        Map("passes" -> tp.map(passJson), "layers" -> tr.layers(tp),
          "spans_file" -> tr.writeSpans(Paths.get(a("spans"))))
      }

    val result = Map(
      "workload" -> a("workload"),
      "env" -> Map(
        "master" -> s"local[$cores]", "shuffle_partitions" -> cores,
        "session_tz" -> spark.conf.get("spark.sql.session.timeZone"),
        "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "java" -> System.getProperty("java.version"), "spark" -> spark.version),
      "setup" -> Map(
        "t0_ms" -> a("t0-ms").toLong, "session_ready_ms" -> sessionReadyMs,
        "prep_s" -> prepS, "check_pass_s" -> checkS, "first_op_ms" -> firstOpMs),
      "passes" -> passes.map(passJson),
      "stored_bytes_per_doc_byte" -> storedRatio,
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures,
      "oracle" -> wl.oracle,
      "traced" -> traced)
    Files.writeString(Paths.get(a("out")), Json.render(result))
    spark.stop()
  }

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  def passJson(p: Pass): Map[String, Any] = Map(
    "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "heap_peak_mb" -> p.heapPeakMb,
    "load_before" -> p.loadBefore, "load_after" -> p.loadAfter,
    "ops" -> p.ops.map(o => Map("name" -> o.name, "ms" -> o.ms, "ok" -> o.ok)))

  /** Run one op as build then execute, under spans when tracing is on.
    * Returns (wall ms, completed without throwing). */
  def runOp(spark: SparkSession, op: Op): (Double, Boolean) = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    Trace.currentOp = op.name
    val t0 = System.nanoTime()
    val ok =
      try Trace.span("op") {
        sc.setLocalProperty(PhaseProp, "build")
        val df = Trace.span("build")(op.build())
        sc.setLocalProperty(PhaseProp, "execute")
        Trace.span("execute")(op.run(df))
        true
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] ${op.name} failed: ${message(e)}")
        false
      } finally sc.setLocalProperty(PhaseProp, null)
    ((System.nanoTime() - t0) / 1e6, ok)
  }

  def drain(spark: SparkSession): Unit = ListenerDrain(spark.sparkContext)
}
