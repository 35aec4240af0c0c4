package perfbench

import scala.collection.mutable
import graft.queries._

/** registry_battery: registry entries materialized one
  * after another in the spec's (seed-permuted) order.
  *
  *  - set-up rounds: a new session plus the first build of the entries that
  *    own cached artifacts (bucketed tables, IVF indexes);
  *  - check pass: every entry written as one parquet file, as `graft.Verify`
  *    writes it; the runner compares row count and content hash;
  *  - passes: `build` then a `noop` write of every entry. The first
  *    `warmup_passes` are untimed: pass times still fall over the first
  *    passes after the check pass as the JIT warms up. Then the timed
  *    `passes`; the runner reports each entry's median over them. Traced and
  *    untraced passes make the same calls; when traced, every second pass
  *    splits the write into plan and execution time with the write's own
  *    planning tracker (see [[PlanTimes]]). */
object Registry {
  val batteries: Seq[(String, Seq[QueryDef])] = Seq(
    "core" -> CoreBattery.all, "relational" -> RelationalBattery.all,
    "pipeline" -> PipelineBattery.all, "breadth" -> BreadthBattery.all,
    "extension" -> ExtensionBattery.all, "graph" -> GraphBattery.all,
    "curation" -> CurationBattery.all)

  private lazy val byName: Map[String, (String, QueryDef)] =
    batteries.flatMap { case (b, qs) => qs.map(q => q.name -> (b -> q)) }.toMap

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** How a `noop` overwrite names its SQL execution. */
  private val writeCommand = "overwrite"

  def run(ctx: Ctx): Unit = {
    val spec = ctx.spec.get("registry")
    val data = spec.get("data").asText()
    val entries = Json.strings(spec.get("entries")).map(n => n -> byName(n))
    val artifacts = Json.strings(spec.get("artifacts"))
    val checkDir = s"${ctx.work}/check"

    ctx.setupRounds(ctx.spec.get("setup_rounds").asInt()) { _ =>
      artifacts.foreach(n => ctx.attempt(s"setup:$n")(noop(byName(n)._2.build(ctx.spark, data))))
    }

    val (_, checkS) = Clock.time(entries.foreach { case (n, (_, q)) =>
      ctx.attempt(n)(q.build(ctx.spark, data).coalesce(1)
        .write.mode("overwrite").parquet(s"$checkDir/$n"))
    })
    ctx.detail("check_pass_s") = checkS

    val t = ctx.trace
    val stats = new SparkStats(ctx.spark.sparkContext)
    val plans = new PlanTimes
    val layer = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val perEntry = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val entryPlan = mutable.LinkedHashMap.empty[String, Double]
    var tracedPasses, tracedOps = 0
    var execWall, storagePeak = 0.0
    val untracedPass, tracedPass = mutable.ArrayBuffer.empty[Double]
    val warmup = spec.get("warmup_passes").asInt()
    for (_ <- 0 until warmup) entries.foreach { case (n, (_, q)) =>
      ctx.attempt(s"warmup:$n")(noop(q.build(ctx.spark, data)))
    }
    for (pass <- 0 until spec.get("passes").asInt()) {
      val traced = ctx.traced && pass % 2 == 1
      t.on = traced
      if (traced) { stats.attach(); ctx.spark.listenerManager.register(plans) }
      val (_, passS) = t("pass", s"pass$pass")(entries.foreach { case (n, (b, q)) =>
        val (_, s) = t("entry", n) {
          ctx.attempt(n) {
            val (df, buildS) = t(s"queries.$b.build")(q.build(ctx.spark, data))
            if (traced) layer(s"queries.$b.build_s") += buildS
            plans.reset()
            val (_, writeS) = t(s"spark.$b.write")(noop(df))
            if (traced) {
              stats.drain()
              val (func, planS) = plans.lastS
              require(func == writeCommand, s"planning time read from $func, not the noop write")
              entryPlan(n) = planS
              layer(s"spark.$b.plan_s") += planS
              layer(s"spark.$b.exec_s") += writeS - planS
              execWall += writeS - planS
            }
          }
        }
        if (traced) {
          tracedOps += 1
          storagePeak = math.max(storagePeak, Storage.mb(ctx.spark.sparkContext))
        } else perEntry.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += s
      })
      if (traced) {
        stats.detach(); ctx.spark.listenerManager.unregister(plans)
        tracedPasses += 1; tracedPass += passS
      } else untracedPass += passS
    }
    t.on = false
    ctx.detail("entry_s") = perEntry.map { case (n, v) => n -> v.toSeq }.toMap
    ctx.detail("battery") = entries.map { case (n, (b, _)) => n -> b }.toMap
    if (ctx.traced) {
      ctx.detail("entry_plan_s") = entryPlan.toMap
      val tp = tracedPasses.toDouble
      for ((b, _) <- batteries; k <- Seq(s"queries.$b.build_s", s"spark.$b.plan_s", s"spark.$b.exec_s"))
        ctx.layers(k) = layer(k) / tp
      stats.metrics(tracedOps, execWall, ctx.cores, storagePeak).foreach { case (k, v) => ctx.layers(k) = v }
      ctx.layers("trace.overhead_ratio") = Stats.median(tracedPass.toSeq) / Stats.median(untracedPass.toSeq)
    }
  }
}
