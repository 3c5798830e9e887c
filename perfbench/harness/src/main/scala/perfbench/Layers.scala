package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Exact, Vec}

/** Reduces a traced run's spans and listener counters to the per-layer
  * metrics (per traced pass unless named otherwise), and times the
  * engine's native kernels alone over the workload's own inputs.
  */
object Layers {
  val Stores = Seq("ivfpq", "minhash", "sketch")

  def storeOfStage(stage: String): String = stage match {
    case "ann-compact" => "ivfpq"
    case "compact-minhash" => "minhash"
    case _ => "sketch"
  }

  def report(spark: SparkSession, rec: Recorder, trace: Trace,
             jobs: JobListener, streams: StreamListener, plans: PlanListener,
             w: Workload): Unit = {
    val passes = math.max(1, rec.seriesOf("traced.pass_s").size).toDouble
    def put(k: String, v: Double): Unit = rec.num(s"layer.$k", v)
    def perPass(k: String, v: Double): Unit = put(k, v / passes)

    val ops = trace.opSpans
    val opName = ops.map(s => s.op -> s.name).toMap
    val stats = jobs.ops.toSeq.filter { case (o, _) => opName.contains(o) }
    def sumOf(f: jobs.OpStats => Double, ofOp: String => Boolean = _ => true) =
      stats.filter { case (o, _) => ofOp(opName(o)) }.map { case (_, s) => f(s) }.sum

    put("engine.session_s", trace.totalSeconds("engine"))
    perPass("sources.table_open_s", rec.seriesOf("sources.open_s").sum)
    perPass("sources.input_bytes", sumOf(_.inBytes))
    perPass("sources.input_rows", sumOf(_.inRows))
    perPass("operators.build_s", trace.selfSeconds("operators"))
    // jobs launched while the query function was still building its frame
    val builds = trace.spans.filter(_.name == "operators").groupBy(_.op)
    perPass("operators.build_jobs", stats.map { case (o, s) =>
      s.jobSpans.count { case (t0, _) =>
        builds.getOrElse(o, Nil).exists(b => t0 >= b.start - 1 && t0 <= b.end + 1)
      }.toDouble
    }.sum)
    // planning of every SQL execution that started inside a traced operation
    perPass("spark.plan_s", plans.synchronized(plans.plans.toSeq).collect {
      case (t0, s) if ops.exists(o => t0 >= o.start - 1 && t0 <= o.end + 1) => s
    }.sum)
    perPass("spark.gap_s", ops.map { op =>
      val covered = jobs.ops.get(op.op).map(s => union(s.jobSpans.toSeq.map {
        case (a, b) => (math.max(a, op.start), math.min(b, op.end))
      })).getOrElse(0.0)
      math.max(0.0, op.dur - covered)
    }.sum / 1e3)
    perPass("spark.jobs", sumOf(_.jobs))
    perPass("spark.stages", sumOf(_.stages))
    perPass("spark.tasks", sumOf(_.tasks))
    perPass("spark.executor_cpu_s", sumOf(_.cpuNs) / 1e9)
    perPass("spark.executor_run_s", sumOf(_.runMs) / 1e3)
    perPass("spark.gc_s", sumOf(_.gcMs) / 1e3)
    perPass("spark.shuffle_read_bytes", sumOf(_.shufRead))
    perPass("spark.shuffle_write_bytes", sumOf(_.shufWrite))
    perPass("spark.spill_bytes", sumOf(_.spill))
    put("spark.peak_exec_mem_bytes", stats.map(_._2.peakMem.toDouble).maxOption.getOrElse(0.0))
    put("spark.persisted_rdds_after", rec.seriesOf("layer.persisted_rdds").lastOption.getOrElse(0.0))
    put("spark.cached_plans_after", rec.seriesOf("layer.cached_plans").lastOption.getOrElse(0.0))
    put("spark.temp_dirs_after", rec.seriesOf("layer.temp_dirs").lastOption.getOrElse(0.0))

    perPass("streaming.batches", streams.batches)
    put("streaming.batch_s", if (streams.batches == 0) 0.0
      else streams.batchMs / 1e3 / streams.batches)
    put("streaming.state_rows", if (streams.batches == 0) 0.0
      else streams.stateRows.toDouble / streams.batches)

    val stageS = rec.seriesOf("layer.pipeline.stage_s")
    put("pipeline.stage_s", mean(stageS))
    put("pipeline.jobs_per_stage", if (stageS.isEmpty) 0.0
      else sumOf(_.jobs, _ == "store.pipeline.compact") / stageS.size)
    put("pipeline.attempts", mean(rec.seriesOf("layer.pipeline.attempts")))

    for (s <- Stores) {
      val land = (n: String) => n == s"store.$s.land"
      perPass(s"store.$s.land_s", trace.totalSeconds(s"store.$s.land"))
      perPass(s"store.$s.compact_s", rec.seriesOf(s"layer.store.$s.compact_s").sum)
      perPass(s"store.$s.read_s", trace.totalSeconds(s"store.$s.read"))
      val written = sumOf(_.outBytes, land)
      perPass(s"store.$s.bytes_written", written)
      val in = sumOf(_.inBytes, land)
      put(s"store.$s.bytes_per_input_byte", if (in == 0) 0.0 else written / in)
      if (!rec.hasNum(s"layer.store.$s.segments")) put(s"store.$s.segments", 0)
      if (!rec.hasNum(s"layer.store.$s.files")) put(s"store.$s.files", 0)
    }
    kernels(spark, w.kernelInputs).foreach { case (k, v) => put(s"functions.$k", v) }
  }

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Length of the union of intervals. */
  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    for ((a, b) <- iv.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (b > end) {
        total += b - math.max(a, end)
        end = b
      }
    }
    total
  }

  /** Rows per second of each native kernel alone: the workload's own
    * rows, replicated until the kernel, not the job launch, dominates
    * (about a tenth of a second per run); median of three timed runs
    * after one warm.
    */
  def kernels(spark: SparkSession, in: KernelInputs): Seq[(String, Double)] = {
    graft.functions.Registry.ensure(spark)
    def rep(df: DataFrame, rows: Long): DataFrame = {
      val k = math.max(1L, rows / math.max(1L, df.count()))
      df.withColumn("__rep", explode(sequence(lit(1L), lit(k))))
    }
    def rate(df: DataFrame)(query: DataFrame => DataFrame): Double = {
      val src = df.localCheckpoint(true)
      val rows = src.count().toDouble
      val q = query(src)
      Main.noop(q)
      val ts = Seq.fill(3) {
        val t0 = System.nanoTime(); Main.noop(q); (System.nanoTime() - t0) / 1e9
      }.sorted
      rows / ts(1)
    }
    def each(out: Column)(src: DataFrame) = src.select(out.as("o"))
    val events = rep(in.events, 500000L)
    val docs = rep(in.documents, 50000L)
    val vecs = rep(in.embeddings.select(Vec.quantize(col("embedding")).as("q")), 100000L)
    val cents = in.embeddings.select(Vec.quantize(col("embedding"))).limit(16)
      .collect().map(_.getSeq[Long](0)).toSeq
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+?[0-9][0-9 ()-]{7,}[0-9]"
    Seq(
      "exact_sum_rows_per_s" -> rate(events)(_.agg(Exact.dsum(col("value")))),
      "vec_sqd2_rows_per_s" -> rate(vecs)(each(Vec.sqd2(col("q"), reverse(col("q"))))),
      "vec_nearest_code_rows_per_s" ->
        rate(vecs)(each(Vec.nearestCode(col("q"), typedLit(cents)))),
      "regexp_groups_rows_per_s" -> rate(events)(each(
        call_function("graft_regexp_groups", col("props"), lit("\"(\\w+)\": (\\d+)")))),
      "pii_scan_rows_per_s" -> rate(rep(in.documents, 10000L))(each(
        call_function("graft_pii_scan", col("text"), lit(email), lit(phone)))),
      "nfc_rows_per_s" -> rate(docs)(each(call_function("graft_nfc", col("text")))))
  }
}
