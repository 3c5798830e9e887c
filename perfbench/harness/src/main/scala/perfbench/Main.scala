package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run of one workload in one JVM, driven by `run.py`.
  *
  * The harness only calls the engine's public API and times those
  * calls from outside; it writes raw samples (per-operation latencies,
  * pass times, output digests, per-layer counters when traced) to one
  * JSON file that `run.py` reduces, checks and prints.
  *
  * Closed loop, one client thread: the next operation starts only
  * after the previous one returned. An untimed warm pass runs first;
  * after it every timed operation counts.
  */
object Main {

  final case class Args(workload: String, seed: Long, passes: Int,
                        trace: Boolean, data: String, ingest: String,
                        work: String, out: String, launchMs: Long)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    Args(m("workload"), m("seed").toLong, m("passes").toInt,
      m("trace") == "1", m("data"), m.getOrElse("ingest", ""), m("work"),
      m("out"), m("launch-ms").toLong)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val trace = new Trace
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val t0 = System.nanoTime()
    trace.on = args.trace
    val spark = trace.span("engine") { graft.Engine.local(cpus) }
    trace.on = false
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new JobListener
    val streams = new StreamListener
    val plans = new PlanListener
    if (args.trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(streams)
      spark.listenerManager.register(plans)
    }
    val rec = new Recorder(args)
    rec.num("session_s", sessionS)
    rec.num("cpus", cpus)
    try {
      val w: Workload = args.workload match {
        case "dashboard" => new Dashboard(spark, args, trace, rec)
        case "ingest_serve" => new IngestServe(spark, args, trace, rec)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      rec.phase("setup")(w.setup())
      // closed loop: a fixed number of whole passes, so every run of a
      // workload measures the same work. A traced run adds one pass and
      // traces every second one (at least one traced and one untraced
      // after the first), so the tracing overhead compares equally warm
      // passes.
      val passes = if (args.trace) math.max(3, args.passes + 1) else args.passes
      for (pass <- 0 until passes) {
        val traced = args.trace && pass % 2 == 1
        if (pass == 0) rec.num("setup_s", (System.currentTimeMillis() - args.launchMs) / 1e3)
        w.prepare()
        trace.on = traced
        streams.enabled = traced
        val p0 = System.nanoTime()
        w.runPass(new Random(args.seed * 7919 + pass))
        val s = (System.nanoTime() - p0) / 1e9
        trace.on = false
        streams.enabled = false
        if (traced) rec.add("traced.pass_s", s)
        else {
          rec.add("pass_s", s)
          if (pass > 0) rec.add("later.pass_s", s)
        }
        w.afterPass(traced)
        rec.afterPass(spark, traced)
      }
      w.verify()
      w.finish()
      rec.num("live_heap_mb", Recorder.liveHeapMb())
      if (args.trace) {
        spark.streams.removeListener(streams)
        jobs.drain()
        Layers.report(spark, rec, trace, jobs, streams, plans, w)
      }
      context(spark, args, rec)
    } catch {
      case e: Throwable =>
        rec.error("fatal", e)
        e.printStackTrace()
    } finally {
      rec.num("peak_rss_mb", Recorder.peakRssMb())
      rec.write()
      spark.stop()
    }
  }

  /** Run context, recorded beside the result and outside any gate:
    * the engine's own CPU and IO calibration probes.
    */
  def context(spark: SparkSession, args: Args, rec: Recorder): Unit = {
    rec.ctx("calib_s", graft.Bench.calibrate(spark, passes = 1))
    rec.ctx("calib_io_s", graft.Bench.calibrateIo(spark, args.data, passes = 1))
  }

  /** Materialize through the `noop` sink: every row is computed, none
    * is kept — the engine's own bench convention.
    */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-insensitive content digest: row count, the exact sum of a
    * 64-bit hash of each row's JSON rendering, and a hash of the schema.
    * Top-level floating columns are rounded to 9 decimals first, so an
    * aggregation-order last-ulp difference cannot fail an otherwise
    * equal output.
    */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType => round(c, 9).as(f.name)
        case _ => c
      }
    }
    val r = df.select(xxhash64(to_json(struct(cols.toIndexedSeq: _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .head()
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",").hashCode
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toString).getOrElse("0")}:$schema"
  }
}

/** A workload: untimed set-up (inputs, stores, warm pass), then passes. */
trait Workload {
  def setup(): Unit
  /** Untimed, before each pass. */
  def prepare(): Unit = ()
  def runPass(rng: Random): Unit
  /** Untimed, after each pass: the probes of a traced pass. */
  def afterPass(traced: Boolean): Unit = ()
  /** Untimed output check after the last pass. */
  def verify(): Unit = ()
  def finish(): Unit = ()
  /** Tables whose rows feed the native-kernel probes. */
  def kernelInputs: KernelInputs
}

final case class KernelInputs(events: DataFrame, documents: DataFrame,
                              embeddings: DataFrame)

/** Collects raw samples and writes them as one JSON object. */
final class Recorder(args: Main.Args) {
  private val nums = mutable.LinkedHashMap.empty[String, Double]
  private val ctxs = mutable.LinkedHashMap.empty[String, Double]
  private val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val strs = mutable.LinkedHashMap.empty[String, String]
  val errors = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0
  var failed = 0

  def num(k: String, v: Double): Unit = nums(k) = v
  def hasNum(k: String): Boolean = nums.contains(k)
  def seriesOf(k: String): Seq[Double] = series.get(k).map(_.toSeq).getOrElse(Nil)
  def ctx(k: String, v: Double): Unit = ctxs(k) = v
  def add(k: String, v: Double): Unit =
    series.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  def str(k: String, v: String): Unit = strs(k) = v
  def error(k: String, e: Throwable): Unit = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    errors(k) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}" +
      (if (root ne e) s" (cause ${root.getClass.getSimpleName}: " +
        s"${String.valueOf(root.getMessage).take(300)})" else "")
  }

  /** Time one untimed set-up phase, for the run context. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally ctx(s"phase.${name}_s", (System.nanoTime() - t0) / 1e9)
  }

  /** Time one operation; a throw counts as a failed attempt. */
  def timed(series: String, name: String)(body: => Unit): Boolean = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      body
      val s = (System.nanoTime() - t0) / 1e9
      add(series, s)
      if (!series.startsWith("traced.")) add(s"op.$name", s)
      true
    } catch {
      case e: Exception =>
        failed += 1
        error(name, e)
        false
    }
  }

  /** Counts of state a pass may leave behind. */
  def afterPass(spark: SparkSession, traced: Boolean): Unit = if (traced) {
    add("layer.persisted_rdds", spark.sparkContext.getPersistentRDDs.size)
    add("layer.cached_plans", if (spark.sharedState.cacheManager.isEmpty) 0 else 1)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    add("layer.temp_dirs", Option(tmp.listFiles()).map(_.count(_.isDirectory).toDouble).getOrElse(0.0))
  }

  def write(): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def n(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(m: Iterable[(String, String)]) =
      m.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
    val body = obj(Seq(
      "workload" -> q(args.workload),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "nums" -> obj(nums.map { case (k, v) => k -> n(v) }),
      "context" -> obj(ctxs.map { case (k, v) => k -> n(v) }),
      "series" -> obj(series.map { case (k, v) => k -> v.map(n).mkString("[", ", ", "]") }),
      "strings" -> obj(strs.map { case (k, v) => k -> q(v) }),
      "errors" -> obj(errors.map { case (k, v) => k -> q(v) })))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args.out), body)
  }
}

object Recorder {
  /** Heap still in use after a full collection, in MB: what the run
    * retained (cached plans, persisted blocks, listener state).
    */
  def liveHeapMb(): Double = {
    // the context cleaner drops blocks of collected RDDs and broadcasts
    // asynchronously, so collect until the live set stops shrinking
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); heap.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = used()
    var next = { Thread.sleep(300); used() }
    while (next < last - 1) { last = next; Thread.sleep(300); next = used() }
    next
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}
