package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Tables

/** The `dashboard` query list: declared `graft.SparkEntry.queries`
  * entries, each with the tables it reads through
  * `graft.sources.Tables` (timed alone after a traced pass for the
  * `sources` layer). NOTES.md gives the reason for each choice.
  */
object Dashboard {
  type Open = (SparkSession, String) => DataFrame
  final case class Q(name: String, tables: Seq[Open])

  private val ev: Open = Tables.events
  private val li: Open = Tables.lineitem
  private val od: Open = Tables.orders
  private val cu: Open = Tables.customer
  private val na: Open = Tables.nation
  private val re: Open = Tables.region

  val queries: Seq[Q] = Seq(
    Q("q01_pricing_summary", Seq(li)),
    Q("q03_join_dims", Seq(od, cu, na, re)),
    Q("q11_time_floor_hour", Seq(ev)),
    Q("q15_freshness", Seq(ev)),
    Q("q20_log_parse", Seq(ev)),
    Q("q35_streaming_rollup", Seq(ev)),
    Q("q43_salted_agg", Seq(ev)),
    Q("q48_asof_join", Seq(ev, od)),
    Q("q55_sql_interface", Seq(ev)),
  )
}

/** `dashboard`: a closed loop over the query list, one query per
  * operation: call its `SparkEntry.queries` function, then materialize
  * through the `noop` sink. The seed shuffles the order of every pass.
  */
final class Dashboard(spark: SparkSession, args: Main.Args, trace: Trace,
                      rec: Recorder) extends Workload {
  import Dashboard.queries
  private val dir = args.data

  def kernelInputs: KernelInputs = KernelInputs(
    Tables.events(spark, dir), Tables.documents(spark, dir),
    Tables.embeddings(spark, dir))

  /** Untimed warm-up: every query once with its output digested for
    * the correctness check, then two passes exactly as timed. At sf0.1
    * a fresh JVM runs the pass after the digest pass about 1.3x slower
    * than later ones, and the as-of join (q48) still speeds up by a
    * third over the pass after that while the JIT compiles it.
    */
  def setup(): Unit = {
    for (q <- new Random(args.seed).shuffle(queries)) rec.phase(s"digest.${q.name}") {
      rec.attempted += 1
      try rec.str(s"digest.${q.name}", Main.digest(graft.SparkEntry.queries(q.name)(spark, dir)))
      catch {
        case e: Exception => rec.failed += 1; rec.error(q.name, e)
      }
    }
    for (w <- 1 to 2) rec.phase(s"warm$w")(new Random(args.seed - w).shuffle(queries).foreach {
      q => Main.noop(graft.SparkEntry.queries(q.name)(spark, dir))
    })
  }

  def runPass(rng: Random): Unit =
    for (q <- rng.shuffle(queries))
      rec.timed(if (trace.on) "traced.latency_s" else "latency_s", q.name) {
        trace.operation(spark, q.name) {
          val df = trace.span("operators") {
            graft.SparkEntry.queries(q.name)(spark, dir)
          }
          trace.span("spark.run") { Main.noop(df) }
        }
      }

  /** After a traced pass, outside any operation: the `Tables.*` opens
    * of every query's tables, timed alone. The query functions make
    * the same calls inside `operators`, on the same warm file-listing
    * cache.
    */
  override def afterPass(traced: Boolean): Unit = if (traced)
    for (q <- queries) {
      val t0 = System.nanoTime()
      q.tables.foreach(open => open(spark, dir))
      rec.add("sources.open_s", (System.nanoTime() - t0) / 1e9)
    }
}
