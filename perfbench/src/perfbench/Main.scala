package perfbench

import scala.collection.mutable
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

/** Load generator for one benchmark run, started by `perfbench/run.py`.
  *
  * `Main run <spec.json>` executes one workload and writes what it measured
  * and observed to the spec's `out` path; the runner checks the outputs and
  * prints the metrics.
  *
  * One process, one SparkSession at `local[cores]` from
  * `graft.SessionFactory`, no extra threads: every op is timed from outside
  * by wrapping calls into the layer's public functions. */
object Main {
  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("run", spec) => run(Json.read(spec))
    case _ =>
      System.err.println("usage: perfbench.Main run <spec.json>")
      sys.exit(2)
  }

  private def run(spec: JsonNode): Unit = {
    val ctx = new Ctx(spec)
    try spec.get("workload").asText() match {
      case "registry_battery" => Registry.run(ctx)
      case "hourly_etl" => HourlyEtl.run(ctx)
      case "stream_gates" => StreamGates.run(ctx)
      case w => sys.error(s"unknown workload $w")
    } finally ctx.close()
  }
}

/** Per-run state: spec, the session, op timings, failures and layer values. */
final class Ctx(val spec: JsonNode) {
  val workload: String = spec.get("workload").asText()
  val traced: Boolean = spec.get("trace").asBoolean()
  val cores: Int = spec.get("cores").asInt()
  val work: String = spec.get("work").asText()
  val trace = new Trace(workload, spec.get("run_id").asText())

  val ops = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  var attempted = 0L
  val observed = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val setupS = mutable.ArrayBuffer.empty[Double]

  private var session: SparkSession = _
  def spark: SparkSession = session

  def record(kind: String, s: Double): Unit =
    ops.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s

  /** Runs one op; an exception is a failed op, listed by name, never dropped. */
  def attempt[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      failures += name -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        .take(300)
      None
    }
  }

  /** A fresh session over cleared program state. Set-up rounds call this
    * once each, so cached artifacts are rebuilt, never inherited. */
  def newSession(): SparkSession = {
    if (session != null) session.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("graft-")).foreach(Files.rm)
    session = graft.SessionFactory.create("perfbench", cores)
    session.sparkContext.setLogLevel("ERROR")
    session.range(0L, 200000L, 1L, cores).selectExpr("sum(id)").collect()
    session
  }

  /** Median of the set-up rounds: each round is a new session plus the
    * workload's repeatable set-up (`round(i)`). */
  def setupRounds(rounds: Int)(round: Int => Unit): Unit =
    for (i <- 0 until rounds) setupS += Clock.time { newSession(); round(i) }._2

  def close(): Unit = {
    val out = spec.get("out").asText()
    if (traced) trace.writeJsonl(spec.get("spans").asText())
    if (traced) detail("self_s") = trace.selfSeconds
    Json.write(out, Map(
      "setup_s" -> setupS.toSeq,
      "attempted" -> attempted,
      "failures" -> failures.map { case (n, e) => Map("op" -> n, "error" -> e) }.toSeq,
      "ops" -> ops.map { case (k, v) => k -> v.toSeq }.toMap,
      "observed" -> observed.toMap,
      "layers" -> layers.toMap,
      "detail" -> detail.toMap))
    if (session != null) session.stop()
  }
}

object Files {
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
    f.delete(); ()
  }

  def bytesUnder(f: java.io.File, keep: java.io.File => Boolean): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      .map(bytesUnder(_, keep)).sum
    else if (keep(f)) f.length() else 0L
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
