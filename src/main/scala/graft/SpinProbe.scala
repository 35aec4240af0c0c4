package graft

/** Fixed-work CPU spin probes that make bench output self-calibrating.
  *
  * Two of four recent bench rounds ran inside host-throttle windows where
  * the hypervisor cut this VM's effective CPU 2-50x; the resulting numbers
  * were uniformly inflated and could only be interpreted by forensic
  * cross-referencing (suite wall time, pass-internal variance, a manual
  * spin probe noted in SURVEY). Emitting a fixed-work probe measurement in
  * the SAME JSON line as the query timings turns that forensics into
  * arithmetic: `quiet_host_calib / observed_calib` IS the throttle multiple,
  * recorded at the moment of measurement.
  *
  * The kernel is a 64-bit xorshift loop: pure-register ALU work, no memory
  * traffic, no allocation, no JIT warmup sensitivity beyond the first few
  * microseconds — so its ops/s tracks raw cycles delivered to the VM and
  * nothing else. Two variants:
  *   - single-thread: sensitive to per-core throttling and steal time;
  *   - all-cores: sensitive to core-count capping (a hypervisor that halves
  *     the schedulable cores shows here even when per-core speed is intact).
  *
  * Work sizes target ~0.5 s each on the quiet host (reference values in
  * SURVEY §8) so a pre+post pair costs ~2 s of a 360 s budget.
  */
object SpinProbe {

  /** The fixed kernel. `seed` varies per thread so the JIT cannot collapse
    * concurrent runs; the result is published to [[sink]] so the loop is
    * never dead-code-eliminated. */
  private def spin(iters: Long, seed: Long): Long = {
    var x = 0x9e3779b97f4a7c15L ^ seed
    var i = 0L
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  @volatile private var sink = 0L

  /** Mops/s of one thread running the fixed kernel. */
  def singleThread(iters: Long = 500000000L): Double = {
    val t0 = System.nanoTime()
    sink = spin(iters, 1L)
    iters / ((System.nanoTime() - t0) / 1e9) / 1e6
  }

  /** Aggregate Mops/s across one thread per available core, all spinning
    * concurrently. Wall-clock is that of the slowest thread, so a capped
    * core count degrades this number even at full per-core speed. */
  def allCores(itersPerThread: Long = 400000000L): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val threads = (1 to n).map { i =>
      new Thread(() => { sink = spin(itersPerThread, i.toLong) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    n.toLong * itersPerThread / ((System.nanoTime() - t0) / 1e9) / 1e6
  }
}
