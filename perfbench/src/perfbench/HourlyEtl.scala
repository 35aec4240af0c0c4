package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.Etl
import graft.model.Weather
import graft.ops.{Conform, Dedup, DqCheck, EventTime, Validate}
import graft.sinks.Snapshots
import graft.sources.BronzeReader

/** hourly_etl: the reference's Glue job as the write path.
  *
  *  - set-up rounds: a new session plus one warm-up `Etl.run` of the first
  *    hour into a throw-away gold table;
  *  - timed cycle: `Etl.run` hour by hour (snapshot gold, quarantine dir),
  *    then the oldest hours again as idempotent partition overwrites, then
  *    the gold data-quality suite on the `Snapshots` table;
  *  - traced: first-load hours alternate traced/untraced, and afterwards
  *    the traced hours are loaded again layer by layer into a second table,
  *    each layer's public function fed an input materialized beforehand. */
object HourlyEtl {
  private val dqCols = Seq("city", "temp_c", "humidity", "pressure", "ts")

  def run(ctx: Ctx): Unit = {
    val spec = ctx.spec.get("etl")
    val bronze = spec.get("bronze").asText()
    val dt = spec.get("dt").asText()
    val hours = Json.strings(spec.get("hours"))
    val rerun = Json.strings(spec.get("rerun"))
    val gold = s"${ctx.work}/gold"
    def cfg(h: String, goldDir: String, q: String) = Etl.Config(bronze, goldDir,
      dtFilter = Some(dt), hourFilter = Some(h), quarantine = Some(q), snapshot = true)

    ctx.setupRounds(ctx.spec.get("setup_rounds").asInt()) { r =>
      ctx.attempt(s"setup:hour${hours.head}")(Etl.run(ctx.spark,
        cfg(hours.head, s"${ctx.work}/warm$r/gold", s"${ctx.work}/warm$r/q")))
    }

    val t = ctx.trace
    val stats = new SparkStats(ctx.spark.sparkContext)
    val untracedHour, tracedHour = mutable.ArrayBuffer.empty[Double]
    var storagePeak = 0.0
    val firstLoad = mutable.LinkedHashMap.empty[String, Long]
    var tagged = 0L
    val (_, cycleS) = Clock.time {
      hours.zipWithIndex.foreach { case (h, i) =>
        val traced = ctx.traced && i % 2 == 1
        t.on = traced
        if (traced) stats.attach()
        val (obs, s) = t("hour", s"load$h")(ctx.attempt(s"load:$h")(
          Etl.run(ctx.spark, cfg(h, gold, s"${ctx.work}/q_load"))))
        if (traced) {
          stats.detach(); tracedHour += s
          storagePeak = math.max(storagePeak, Storage.mb(ctx.spark.sparkContext))
        } else { untracedHour += s; ctx.record("hour", s) }
        obs.foreach { m =>
          firstLoad(h) = m("rows").asInstanceOf[Long]
          tagged += m("tagged_rows").asInstanceOf[Long]
        }
      }
      t.on = false
      rerun.foreach { h =>
        val (obs, s) = Clock.time(ctx.attempt(s"rerun:$h")(
          Etl.run(ctx.spark, cfg(h, gold, s"${ctx.work}/q_rerun"))))
        ctx.record("rerun", s)
        obs.foreach(m => ctx.observed(s"rerun_rows_$h") = m("rows"))
      }
      val (_, dqS) = Clock.time(ctx.attempt("gold_dq")(goldDq(ctx, gold, dt, hours.last)))
      ctx.record("dq", dqS)
    }
    ctx.record("cycle", cycleS)
    ctx.observed("first_load_rows") = firstLoad.toMap
    ctx.observed("tagged_rows") = tagged

    if (ctx.traced) {
      val tracedHours = hours.zipWithIndex.collect { case (h, i) if i % 2 == 1 => h }
      layered(ctx, bronze, dt, tracedHours, s"${ctx.work}/gold_layered")
      ctx.layers("trace.overhead_ratio") = Stats.median(tracedHour.toSeq) / Stats.median(untracedHour.toSeq)
      stats.metrics(tracedHour.size, tracedHour.sum, ctx.cores, storagePeak).foreach { case (k, v) => ctx.layers(k) = v }
      val manifests = new java.io.File(s"$gold/_manifests")
        .listFiles().filter(_.getName.matches("v\\d+\\.json")).sortBy(_.getName)
      ctx.layers("sinks.manifest_kb") = manifests.last.length() / 1024.0
      val goldBytes = liveGoldBytes(gold, manifests.last)
      val bronzeDir = new java.io.File(bronze)
      ctx.layers("sinks.write_amp") =
        goldBytes.toDouble / Files.bytesUnder(bronzeDir, _.getName.endsWith(".gz"))
      ctx.layers("etl.useful_ratio") =
        firstLoad.values.sum.toDouble / spec.get("bronze_lines").asLong()
    }
  }

  /** The reference's gold data-quality suite (`redshift/init.sql`): row
    * count, fully-null rows, null distribution, duplicates by (city, ts),
    * latest-N, and last-hour verification. */
  private def goldDq(ctx: Ctx, gold: String, dt: String, lastHour: String): Unit = {
    val spark = ctx.spark
    val g = Snapshots.read(spark, gold)
    val report = DqCheck.report(g, Seq(DqCheck.rowCount(), DqCheck.noFullyNullRows(dqCols)) ++
      dqCols.map(DqCheck.maxNullFraction(_, 1.0))).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    ctx.observed("gold_rows") = report("row_count").toLong
    ctx.observed("fully_null_rows") = report("fully_null_rows").toLong
    ctx.observed("null_city") = math.round(report("null_fraction_city") * report("row_count"))
    ctx.observed("duplicates") = DqCheck.duplicateKeys(g, Seq("city", "ts")).count()
    ctx.observed("latest_n") = g.orderBy(col("ts").desc, col("city")).limit(20).collect().length.toLong
    val last = Snapshots.read(spark, gold,
      partitionFilter = m => m.get("dt").contains(dt) && m.get("hour").contains(lastHour))
      .groupBy(col("dt"), col("hour")).agg(count(lit(1)).as("n"), max(col("ts")).as("max_ts"))
      .collect()
    ctx.observed("last_hour_rows") = last.headOption.map(_.getLong(2)).getOrElse(0L)
  }

  /** Bytes of the data files the latest manifest references. */
  private def liveGoldBytes(gold: String, manifest: java.io.File): Long = {
    val parts = Json.read(manifest.getPath).get("partitions")
    var total = 0L
    parts.fields().forEachRemaining { e =>
      e.getValue.elements().forEachRemaining { base =>
        val dir = new java.io.File(new java.net.URI(
          if (base.asText().contains(":")) base.asText() else s"file:${base.asText()}").getPath,
          e.getKey)
        total += Files.bytesUnder(dir, _.getName.endsWith(".parquet"))
      }
    }
    total
  }

  /** Each hour loaded layer by layer; every layer gets a pinned input. */
  private def layered(ctx: Ctx, bronze: String, dt: String, hours: Seq[String], table: String): Unit = {
    val spark = ctx.spark
    val t = ctx.trace
    val acc = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, s: Double): Unit = acc.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += s
    t.on = true
    hours.foreach { h =>
      ctx.attempt(s"layered:$h")(t("hour", s"layered$h") {
        val (good, readS) = t("sources.read") {
          val (ok, bad) = BronzeReader.readWithQuarantine(
            spark, BronzeReader.globFor(bronze, Some(dt), Some(h)), Weather.contract)
          bad.count()
          ok.localCheckpoint()
        }
        val (goldDf, transformS) = t("ops.transform") {
          val conformed = Conform.toContract(good, Weather.contract)
          val silver = EventTime.derive(Validate.tag(conformed, Validate.weatherRules(conformed)))
          Dedup.keepFirst(silver, Seq("city", "fetched_at_utc"), Seq(col("ts"))).localCheckpoint()
        }
        val (_, commitS) = t("sinks.commit")(
          Snapshots.commitPartitioned(goldDf, table, Seq("dt", "hour"), SaveMode.Overwrite))
        val (_, readPlanS) = t("sinks.read_plan")(
          Snapshots.read(spark, table).queryExecution.executedPlan)
        add("sources.read_s", readS); add("ops.transform_s", transformS)
        add("sinks.commit_s", commitS); add("sinks.read_plan_s", readPlanS)
        add("etl.layer_sum_s", readS + transformS + commitS)
        Seq(good, goldDf).foreach(_.unpersist())
      })
    }
    t.on = false
    acc.foreach { case (k, v) => ctx.layers(k) = Stats.median(v.toSeq) }
  }
}
