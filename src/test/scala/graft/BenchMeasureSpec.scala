package graft

/** `Bench.measure` is the one timed run of a registry entry: a good entry
  * yields its wall seconds, a throwing one yields the failure instead of a
  * time-to-exception. */
class BenchMeasureSpec extends SparkSpec {

  test("measure returns a positive time for a good entry and the failure for a throwing one") {
    val ok = Bench.measure(spark, (s, _) => s.range(0L, 1000L).toDF(), "unused")
    assert(ok.exists(_ > 0.0), s"expected a positive time, got $ok")

    val boom = new IllegalStateException("boom")
    val bad = Bench.measure(spark, (_, _) => throw boom, "unused")
    assert(bad == Left(boom))

    // a failure raised by the action (not the build) is caught the same way
    val badAction = Bench.measure(spark,
      (s, _) => s.range(0L, 10L).toDF().where("raise_error('late') IS NULL"), "unused")
    assert(badAction.isLeft)
  }
}
