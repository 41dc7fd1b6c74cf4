package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One timed operation: its kind, the cycle it ran in, its span on the
  * run's clock, whether its output passed the correctness checks, and how
  * many items (offers landed, docs appended) it processed; an op that
  * learns its count from its result sets `items` afterwards.
  */
final class OpRec(val id: Int, val kind: String, val cycle: Int, val label: String,
                  val start: Double, val end: Double, var items: Long, val traced: Boolean) {
  var ok = true
  var why = ""
  def fail(reason: String): Unit = if (ok) { ok = false; why = reason }
}

/** What the workloads share: the session, the tracer, the op log and a
  * private work directory inside the checkout.
  */
class Runner(val spark: SparkSession, val dataDir: String, val workDir: String,
             val tracer: Tracer) {
  val ops = mutable.ArrayBuffer[OpRec]()
  val details = mutable.LinkedHashMap[String, Any]()
  var cycle = -1
  var timing = false
  private val sizes = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File(s"$dataDir/sizes.json"))

  /** An input size the generator recorded in `sizes.json`. */
  def input(key: String): Int = sizes.get(key).asInt
  def inputLong(key: String): Long = sizes.get(key).asLong

  /** Run one closed-loop operation and log it (only while timing). */
  def op[T](kind: String, label: String = "", items: Long = 0L)(body: => T): (T, OpRec) = {
    tracer.op = ops.size
    val t0 = Clock.now
    val out = try body finally tracer.op = -1
    val t1 = Clock.now
    val rec = new OpRec(ops.size, kind, cycle, label, t0, t1, items, tracer.tracing)
    if (timing) ops += rec
    (out, rec)
  }

  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)

  def path(name: String): String = s"$workDir/$name"

  def rm(name: String): Unit = graft.util.Scratch.rmTree(Paths.get(path(name)))

  /** Drop cached data and checkpoint blocks between operations, so no op
    * reads a predecessor's storage (untimed).
    */
  def dropStorage(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }
}

trait Workload {
  /** One complete set-up from scratch (inputs loaded, indexes built); the
    * harness runs several and reports the median.
    */
  def setup(rep: Int): Unit
  /** Untimed warm-up after the last set-up: one cycle's worth of ops. */
  def warmUp(): Unit
  /** Run cycle `c` of the op mix; false when the seeded input is spent. */
  def cycle(c: Int): Boolean
  /** Untimed end-of-run checks; failures are marked on the ops. */
  def finish(): Unit = ()
  /** Extra layer probes for the traced run, outside the timed cycles. */
  def layerProbes(): Unit = ()
}

/** Entry point: `Main <workload> <dataDir> <workDir> <seconds> <trace> <out>`.
  * Writes the raw run report (op log, set-up times, and in a traced run the
  * spans, jobs and layer probes) as JSON to `out`; the Python driver turns
  * it into metrics.
  */
object Main {
  val setupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, secondsS, traceS, out) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bootEnd = System.currentTimeMillis()

    val tracer = new Tracer(spark.sparkContext)
    val r = new Runner(spark, dataDir, workDir, tracer)
    val w: Workload = workload match {
      case "pipeline" => new Pipeline(r)
      case "dashboard" => new Dashboard(r)
      case "index_churn" => new IndexChurn(r)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupMs = (0 until setupReps).map { rep =>
      val t0 = Clock.now
      w.setup(rep)
      r.dropStorage()
      Clock.now - t0
    }
    val w0 = Clock.now
    w.warmUp()
    r.dropStorage()
    val warmUpMs = Clock.now - w0

    // timed phase: closed loop, one cycle after another until the time is
    // up; a traced run alternates traced and untraced cycles (at least one
    // of each), so the tracing overhead is an interleaved comparison
    // inside one run. Odd seeds trace the odd cycles, even seeds the even
    // ones, so across seeds the first (coldest) cycle is traced as often
    // as not and warm-up drift does not read as tracing cost.
    val firstTraced = r.input("seed") & 1
    r.timing = true
    val t0 = Clock.now
    var c = 0
    var more = true
    while (more && (Clock.now - t0 < seconds * 1000 || (trace && c < 2))) {
      r.cycle = c
      val traced = trace && c % 2 == firstTraced
      if (traced) tracer.start(spark)
      more = w.cycle(c)
      if (traced) tracer.stop(spark)
      c += 1
    }
    r.timing = false
    val timedMs = Clock.now - t0
    w.finish()

    val kernels = if (trace) Kernels.run(spark, dataDir) else Map.empty[String, Any]
    if (trace) {
      tracer.start(spark)
      w.layerProbes()
      tracer.stop(spark)
    }

    val report = Map(
      "workload" -> workload,
      "cores" -> cores,
      "boot_end_epoch_ms" -> bootEnd,
      "setup_ms" -> setupMs,
      "warm_up_ms" -> warmUpMs,
      "timed_ms" -> timedMs,
      "cycles" -> c,
      "peak_rss_mb" -> peakRssMb(),
      "ops" -> r.ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "cycle" -> o.cycle,
        "label" -> o.label, "start" -> o.start, "end" -> o.end, "items" -> o.items,
        "traced" -> o.traced, "ok" -> o.ok, "why" -> o.why)).toSeq,
      "details" -> r.details,
      "kernels" -> kernels,
      "trace" -> (if (trace) tracer.toJson else Map.empty))
    writeJson(out, report)
    spark.stop()
  }

  // NaN (a probe with no samples) is written bare; Python's json reads it
  private val json = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  /** Write Scala maps, sequences and numbers to `path` as JSON. */
  def writeJson(path: String, value: Any): Unit = json.writeValue(new java.io.File(path), value)

  /** VmHWM: the process's peak resident set, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
