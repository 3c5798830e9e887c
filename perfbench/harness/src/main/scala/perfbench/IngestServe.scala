package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{MinhashStore, Similarity, TimeSeries}
import graft.streaming.EventStream

/** `ingest_serve`: writes beside reads, the Airflow → Kafka → Druid
  * loop. A standing base (copy 0 of the arrival data) is built in
  * set-up; every pass lands the next interval (copy 1) into three
  * stores, runs one compaction pipeline and reads each store once.
  *
  *  - events: a new source file, then `EventStream.sketchSegmentsOnce`
  *    (the streaming sketch-segment store);
  *  - documents: `MinhashStore.ingestBatch`;
  *  - vectors: `Similarity.ivfpqIngestBatch`, plus one fixed
  *    `ivfpqDeleteIds` batch (every 11th base vector) after the
  *    landings.
  *
  * The seed orders the three landings and the three reads. Each pass
  * starts from a copy of the base snapshot, restored outside the timed
  * region, so the final reads, and their digests, are the same on
  * every pass and seed.
  */
final class IngestServe(spark: SparkSession, args: Main.Args, trace: Trace,
                        rec: Recorder) extends Workload {
  private val work = Paths.get(args.work, "ingest")
  private val live = work.resolve("live")
  private val snap = work.resolve("snap")
  private def at(p: String) = live.resolve(p).toString
  private val ivfpqDir = at("ivfpq")
  private val minhashDir = at("minhash")
  private val eventsSrc = at("events_src")
  private val sketchDir = at("sketch")
  private val sketchCkpt = at("sketch_ckpt")
  /** Coordinator policy: fold every segment (none kept out as the hot
    * tail) once a store has more than the base, so every pass compacts
    * every store.
    */
  private val MaxSegments = 0
  private val KeepNewest = 0

  private def file(i: Int, table: String) = s"${args.ingest}/i$i/$table.parquet"
  private def read(i: Int, table: String) = spark.read.parquet(file(i, table))
  private def both(table: String) = spark.read.parquet(file(0, table), file(1, table))

  /** The fixed deletion batch: every 11th base vector. */
  private val deleteIds = read(0, "embeddings")
    .filter(col("vec_id") % 11 === 3).select(col("vec_id"))
  private val deleted: Set[Long] = deleteIds.collect().map(_.getLong(0)).toSet
  private val landedEvents = both("events").count()
  private val landedDocs = both("documents").count()
  private val landedVecs = both("embeddings").count()
  private var seq = 0
  /** Set while the untimed warm pass runs. */
  private var warming = false

  def kernelInputs: KernelInputs =
    KernelInputs(both("events"), both("documents"), both("embeddings"))

  /** Base store build (the standing corpus), snapshot, then one whole
    * pass untimed (landings, delete, compaction, reads), so that every
    * timed operation runs warm. The first pass restores the snapshot.
    */
  def setup(): Unit = {
    rmrf(work)
    rec.phase("base.ivfpq")(Similarity.ivfpqWriteIndex(read(0, "embeddings"), ivfpqDir))
    rec.phase("base.minhash")(MinhashStore.ingestBatch(read(0, "documents"), minhashDir, 0L))
    rec.phase("base.sketch")(landEvents(read(0, "events")))
    copyTree(live, snap)
    warming = true
    try rec.phase("warm")(runPass(new Random(args.seed - 1)))
    finally warming = false
  }

  private def restore(): Unit = {
    rmrf(live)
    copyTree(snap, live)
    seq = 0
  }

  private def landEvents(df: DataFrame): Unit = {
    df.coalesce(1).write.mode("overwrite")
      .parquet(f"$eventsSrc/events.parquet_$seq%06d")
    EventStream.sketchSegmentsOnce(spark, eventsSrc, sketchDir, sketchCkpt)
  }

  /** Land the arriving interval into all three stores, in `rng` order. */
  private def land(rng: Random): Unit = {
    seq += 1
    val id = seq.toLong
    val ev = read(1, "events")
    val docs = read(1, "documents")
    val vecs = read(1, "embeddings")
    val landings = Seq[(String, () => Unit)](
      "sketch" -> (() => landEvents(ev)),
      "minhash" -> (() => MinhashStore.ingestBatch(docs, minhashDir, id)),
      "ivfpq" -> (() => Similarity.ivfpqIngestBatch(vecs, ivfpqDir, id)))
    for ((store, body) <- rng.shuffle(landings)) op("land", store)(body())
  }

  /** One timed operation, traced as span `store.<store>.<kind>`. */
  private def op(kind: String, store: String)(body: => Unit): Unit =
    if (warming) body
    else rec.timed((if (trace.on) "traced." else "") + kind + "_s", s"$kind.$store") {
      trace.operation(spark, s"store.$store.$kind")(body)
    }

  /** One read per store over the live state after the landing. A read
    * is the whole call (the store APIs read their metadata eagerly)
    * plus the materialization.
    */
  private def reads: Seq[(String, () => DataFrame)] = {
    val emb = both("embeddings")
    val docs = both("documents")
    Seq(
      "ivfpq" -> (() => Similarity.ivfpqStoredTopK(emb, ivfpqDir)),
      "minhash" -> (() => MinhashStore.dedupKeepBestStored(docs, minhashDir)),
      "sketch" -> (() => TimeSeries.quantileRollupFrom(
        EventStream.storedValueSketch(spark, sketchDir))))
  }

  override def prepare(): Unit = restore()

  def runPass(rng: Random): Unit = {
    land(rng)
    op("delete", "ivfpq") { Similarity.ivfpqDeleteIds(deleteIds, ivfpqDir) }
    op("compact", "pipeline") {
      val stages = trace.span("pipeline") {
        graft.Pipeline.run(spark, Seq(
          EventStream.compactionStage(sketchDir, MaxSegments, KeepNewest),
          MinhashStore.compactionStage(minhashDir, MaxSegments, KeepNewest),
          Similarity.ivfpqCompactStage(ivfpqDir, MaxSegments)))
      }.collect()
      stages.foreach { r =>
        val stage = r.getAs[String]("stage").takeWhile(_ != ':')
        if (trace.on) {
          rec.add("layer.pipeline.stage_s", r.getAs[Double]("seconds"))
          rec.add("layer.pipeline.attempts", r.getAs[Int]("attempts"))
          rec.add(s"layer.store.${Layers.storeOfStage(stage)}.compact_s",
            r.getAs[Double]("seconds"))
        }
        if (!r.getAs[Boolean]("ok"))
          throw new IllegalStateException(s"stage $stage: ${r.getAs[String]("error")}")
      }
    }
    for ((store, read) <- rng.shuffle(reads)) op("read", store)(Main.noop(read()))
  }

  /** Output check after the last pass, outside the timed region. Every
    * pass starts from the same snapshot and lands the same batches, so
    * the last pass's stores stand for every pass's.
    */
  override def verify(): Unit = {
    // each read runs once; the checks and digests use its collected rows
    val rs = reads.map { case (store, read) =>
      val df = read()
      store -> spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
    }.toMap
    def expect(name: String, ok: Boolean, detail: => String): Unit = {
      rec.attempted += 1
      if (!ok) {
        rec.failed += 1
        rec.errors(name) = detail
      }
    }
    val sketched = EventStream.storedValueSketch(spark, sketchDir)
      .agg(sum(col("n"))).head().getLong(0)
    expect("check.sketch.rows", sketched == landedEvents,
      s"sketch holds $sketched events, landed $landedEvents")
    val decided = MinhashStore.storedDecisions(spark, minhashDir).count()
    expect("check.minhash.rows", decided == landedDocs,
      s"minhash store decided $decided docs, landed $landedDocs")
    val ledger = Similarity.ivfpqDeltaManifest(spark, ivfpqDir)
      .map(_.agg(sum(col("n_vectors"))).head().getLong(0)).getOrElse(0L)
    expect("check.ivfpq.rows", ledger == landedVecs - deleted.size,
      s"ivfpq ledger holds $ledger vectors, landed $landedVecs, deleted ${deleted.size}")
    val hits = rs("ivfpq").select(col("vec_id")).collect().map(_.getLong(0))
    expect("check.ivfpq.tombstones", !hits.exists(deleted),
      s"deleted ids returned: ${hits.filter(deleted).take(5).mkString(",")}")
    for ((store, df) <- rs) rec.str(s"digest.read.$store", Main.digest(df))
  }

  /** The store layer's state after the last pass. */
  override def finish(): Unit = {
    for ((store, dir) <- Seq("ivfpq" -> ivfpqDir, "minhash" -> minhashDir,
        "sketch" -> sketchDir)) {
      val p = Paths.get(dir)
      val files = walk(p).filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet"))
      rec.num(s"layer.store.$store.files", files.size)
      rec.num(s"layer.store.$store.segments", segments(store, p))
    }
  }

  /** Live segment directories: streaming segments of the IVFPQ index,
    * band segments of the MinHash store, sketch segments.
    */
  private def segments(store: String, p: Path): Int = {
    val root = store match {
      case "ivfpq" => p.resolve("codes_seg")
      case "minhash" => p.resolve("bands")
      case _ => p
    }
    if (!Files.isDirectory(root)) 0
    else {
      val s = Files.list(root)
      try s.iterator().asScala.count(_.getFileName.toString.startsWith("seg="))
      finally s.close()
    }
  }

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }

  private def rmrf(p: Path): Unit =
    walk(p).reverse.foreach(Files.deleteIfExists(_))

  private def copyTree(from: Path, to: Path): Unit =
    walk(from).foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
    }
}
