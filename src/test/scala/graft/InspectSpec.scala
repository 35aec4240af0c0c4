package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke contract for the `graft.Inspect` dev main, in a REAL forked JVM
  * via `tools/run.sh` at sf0.001: every verb gets the engine's session
  * (extensions, pid-scoped warehouse), and a bad entry name fails loudly.
  * No timing assertions — only what each verb prints and how it exits.
  */
class InspectSpec extends AnyFunSuite {

  private val script = new java.io.File("tools/run.sh")

  /** Run `graft.Inspect args` in `cwd`; (exit code, stdout, stderr). */
  private def inspect(cwd: java.io.File, args: String*): (Int, String, String) = {
    assume(script.canExecute, "tools/run.sh not present/executable")
    val pb = new ProcessBuilder((Seq(script.getAbsolutePath, "graft.Inspect") ++ args): _*)
    pb.directory(cwd)
    pb.environment().put("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    pb.environment().put("SPARK_GRAFT_PROBE_PASSES", "1")
    // stderr goes to a FILE, never an undrained pipe: log4j writes there,
    // and a full 64 KiB pipe buffer wedges the child mid-log (the same
    // hazard BenchContractSpec drains against)
    val errFile = java.io.File.createTempFile("graft-inspect", ".err")
    pb.redirectError(errFile)
    val proc = pb.start()
    val out = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    val lines = Iterator.continually(out.readLine()).takeWhile(_ != null).toVector
    val finished = proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) proc.destroyForcibly() // don't leave a JVM running on failure
    assert(finished, s"Inspect ${args.mkString(" ")} did not finish")
    val err = new String(java.nio.file.Files.readAllBytes(errFile.toPath), "UTF-8")
    errFile.delete()
    (proc.exitValue(), lines.mkString("\n"), err)
  }

  private def withCwd[T](body: java.io.File => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-inspect-cwd").toFile
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("sql resolves the engine's SQL functions (cosine_similarity, top_k)") {
    withCwd { cwd =>
      val (rc, out, err) = inspect(cwd, "sql",
        "SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cos_sim",
        "SELECT top_k(v, id, 2) AS top2 FROM VALUES (1.0D, 1L), (3.0D, 3L), (2.0D, 2L) AS t(v, id)")
      assert(rc == 0, s"sql exited $rc; stderr:\n$err")
      assert(out.contains("cos_sim") && out.contains("1.0"), out)
      assert(out.contains("top2") && out.contains("{3.0, 3}, {2.0, 2}"), out)
    }
  }

  test("explain prints the as-of join's plan") {
    withCwd { cwd =>
      val (rc, out, err) = inspect(cwd, "explain", "q_asof_join")
      assert(rc == 0, s"explain exited $rc; stderr:\n$err")
      assert(out.contains("===== q_asof_join ====="), out)
      assert(out.contains("AsOfJoin"), out)
    }
  }

  test("time runs an entry and leaves no spark-warehouse in its cwd") {
    withCwd { cwd =>
      val (rc, _, err) = inspect(cwd, "time", "q_bucketed_join")
      assert(rc == 0, s"time exited $rc; stderr:\n$err")
      assert(err.linesIterator.exists(_.startsWith("QTIME pass=1 q_bucketed_join ")), err)
      assert(!new java.io.File(cwd, "spark-warehouse").exists(),
        "Inspect wrote a spark-warehouse/ into its working directory")
    }
  }

  test("an unknown entry name exits nonzero and names the unknown entry") {
    withCwd { cwd =>
      val (rc, _, err) = inspect(cwd, "time", "q_pricing_summary", "q_no_such_entry")
      assert(rc != 0, "unknown entry name exited 0")
      assert(err.contains("q_no_such_entry"), err)
      assert(!err.contains("QTIME"), "timed entries despite an unknown name")
    }
  }
}
