package perfbench

import java.nio.file.{Files => NFiles, Paths, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._
import graft.sinks.Snapshots
import graft.streaming.{CdcForwarder, StreamingOps}

/** stream_gates: `CdcForwarder.forward` and `StreamingOps.startQualityIngest`
  * running side by side on a short ProcessingTime trigger, driven as a
  * closed loop: each round drops one staged CDC file and waits for
  * `processAllAvailable()`, then drops one staged document file and waits
  * again. Latency is file drop to the wait's return.
  *
  * Set-up rounds: a new session, the quality model trained and published
  * with `trainQualityModel`, both queries started. The streams of the last
  * round then take a few untimed warm-up rounds and the timed rounds;
  * traced runs alternate traced and untraced rounds. */
object StreamGates {
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Per-batch progress of the traced rounds, keyed by query. */
  private final class Progress extends StreamingQueryListener {
    val byQuery = mutable.Map.empty[java.util.UUID, mutable.ArrayBuffer[(Long, Map[String, Long], Long)]]
    @volatile var record = false
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (record && e.progress.numInputRows > 0) {
        val d = e.progress.durationMs
        val ms = Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
          .map(k => k -> Option(d.get(k)).map(_.longValue()).getOrElse(0L)).toMap
        byQuery.synchronized {
          byQuery.getOrElseUpdate(e.progress.id, mutable.ArrayBuffer.empty) +=
            ((e.progress.batchId, ms, e.progress.numInputRows))
        }
      }
  }

  def run(ctx: Ctx): Unit = {
    val spec = ctx.spec.get("stream")
    val staging = spec.get("staging").asText()
    val rounds = spec.get("rounds").asInt()
    val trigger = Trigger.ProcessingTime(spec.get("trigger_ms").asLong())
    val w = ctx.work
    val (cdcSrc, docSrc, bronze) = (s"$w/cdc_src", s"$w/doc_src", s"$w/bronze")
    val (modelT, gateT) = (s"$w/model", s"$w/gate")
    var cdcQ, gateQ: StreamingQuery = null

    // The staged file appears in the source directory in one rename.
    def drop(file: String, dir: String): Unit = {
      val src = Paths.get(file)
      NFiles.move(src, Paths.get(dir, src.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
    }
    def roundTrip(b: Int): (Double, Double) = {
      val (_, cdcS) = ctx.trace("batch", s"cdc$b") {
        drop(f"$staging/cdc-$b%05d.json", cdcSrc)
        cdcQ.processAllAvailable()
      }
      val (_, gateS) = ctx.trace("batch", s"gate$b") {
        drop(f"$staging/docs/docs-$b%05d.json", docSrc)
        gateQ.processAllAvailable()
      }
      (cdcS, gateS)
    }

    val setupRounds = ctx.spec.get("setup_rounds").asInt()
    ctx.setupRounds(setupRounds) { i =>
      Seq(cdcSrc, docSrc, bronze, modelT, gateT, s"$w/ckpt").foreach(d => Files.rm(new java.io.File(d)))
      Seq(cdcSrc, docSrc).foreach(d => new java.io.File(d).mkdirs())
      val spark = ctx.spark
      ctx.attempt("setup:train") {
        val train = spark.read.json(s"$staging/train").select(col("doc_id"), col("text"),
            col("label"), lit(true).as("is_train"))
          .withColumn("toks", graft.ext.TextAnalysis.tokens(col("text")))
        StreamingOps.trainQualityModel(train, "toks", "label", "is_train", modelT)
      }
      cdcQ = CdcForwarder.forward(spark, cdcSrc, bronze, s"$w/ckpt/cdc", trigger)
      gateQ = StreamingOps.startQualityIngest(
        spark.readStream.schema(docSchema).json(docSrc), modelT, gateT, s"$w/ckpt/gate",
        trigger = trigger)
      if (i < setupRounds - 1) Seq(cdcQ, gateQ).foreach(_.stop())
    }

    // Round latency falls over the first rounds after the streams start.
    val warmup = spec.get("warmup_rounds").asInt()
    for (b <- 0 until warmup) ctx.attempt(s"warmup:$b")(roundTrip(b))

    val spark = ctx.spark
    val listener = new Progress
    spark.streams.addListener(listener)
    val stats = new SparkStats(spark.sparkContext)
    val t = ctx.trace
    val untracedRound, tracedRound, versionsS = mutable.ArrayBuffer.empty[Double]
    var storagePeak = 0.0
    val storage = mutable.ArrayBuffer.empty[Double]
    val (_, loopS) = Clock.time {
      for (b <- warmup until warmup + rounds) {
        val traced = ctx.traced && b % 2 == 0
        t.on = traced
        listener.record = traced
        if (traced) stats.attach()
        val (lat, roundS) = t("round", s"round$b")(ctx.attempt(s"round:$b")(roundTrip(b)))
        lat.foreach { case (c, g) =>
          if (traced) tracedRound += roundS
          else { untracedRound += roundS; ctx.record("cdc", c); ctx.record("gate", g); ctx.record("round", roundS) }
        }
        if (traced) {
          versionsS += t("sinks.gate.versions")(Snapshots.versions(spark, gateT))._2
          stats.detach()
          val mb = Storage.mb(spark.sparkContext)
          storage += mb
          storagePeak = math.max(storagePeak, mb)
        }
      }
    }
    t.on = false
    listener.record = false
    ctx.record("loop", loopS)
    Seq(cdcQ, gateQ).foreach(_.stop())
    spark.streams.removeListener(listener)

    ctx.observed("gate_versions") = Snapshots.versions(spark, gateT).size.toLong
    val verdicts = Snapshots.read(spark, gateT).groupBy(col("admitted")).count().collect()
      .map(r => r.get(0).toString.toBoolean -> r.getLong(1)).toMap
    ctx.observed("admitted") = verdicts.getOrElse(true, 0L)
    ctx.observed("rejected") = verdicts.getOrElse(false, 0L)
    ctx.observed("bronze_dir") = bronze

    if (ctx.traced) {
      val byQ = listener.byQuery.synchronized(listener.byQuery.toMap)
      for ((q, id) <- Seq("cdc" -> cdcQ.id, "gate" -> gateQ.id)) {
        val ps = byQ.getOrElse(id, mutable.ArrayBuffer.empty).toSeq
        def med(f: Map[String, Long] => Long) = Stats.median(ps.map(p => f(p._2) / 1e3))
        ctx.layers(s"streaming.$q.latest_offset_s") = med(_("latestOffset"))
        ctx.layers(s"streaming.$q.plan_s") = med(_("queryPlanning"))
        ctx.layers(s"streaming.$q.add_batch_s") = med(_("addBatch"))
        ctx.layers(s"streaming.$q.wal_commit_s") = med(m => m("walCommit") + m("commitOffsets"))
        ctx.layers(s"streaming.$q.rows_per_batch") = Stats.median(ps.map(_._3.toDouble))
        ctx.detail(s"progress_$q") = ps.map { case (bid, ms, n) => Map("batch" -> bid, "rows" -> n, "ms" -> ms) }
      }
      ctx.layers("sinks.gate.versions_s") = Stats.median(versionsS.toSeq)
      ctx.layers("streaming.storage_mb_per_batch") =
        if (storage.size > 1) (storage.last - storage.head) / (storage.size - 1) else 0.0
      val (a, r) = (ctx.observed("admitted").asInstanceOf[Long], ctx.observed("rejected").asInstanceOf[Long])
      ctx.layers("streaming.gate.admitted_ratio") = a.toDouble / math.max(a + r, 1L)
      ctx.layers("trace.overhead_ratio") = Stats.median(tracedRound.toSeq) / Stats.median(untracedRound.toSeq)
      stats.metrics(tracedRound.size, tracedRound.sum, ctx.cores, storagePeak).foreach { case (k, v) => ctx.layers(k) = v }
    }
  }
}
