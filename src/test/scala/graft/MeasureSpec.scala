package graft

/** `graft.Measure`'s subcommands on the shared spec session at sf0.001:
  * one entry per name, no failures, and a profile whose task count is
  * read straight after the run (the listener bus is flushed, not
  * waited on).
  */
class MeasureSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val names = Seq("gold_bars_1m")

  private def assertOnePerName(out: Seq[String]): Unit = {
    assert(out.size == names.size, out)
    assert(out.head.startsWith("gold_bars_1m: ", out.head.indexOf(']') + 2), out)
    assert(!out.head.contains("FAILED"), out)
  }

  test("time, cold, codegen and explain: one entry per name") {
    val time = Measure.time(spark, dir, names)
    assertOnePerName(time)
    assert(time.head.contains(s"rows=${SparkEntry.queries("gold_bars_1m")(spark, dir).count()}"))
    assertOnePerName(Measure.cold(spark, dir, names))
    val codegen = Measure.codegen(spark, dir, names)
    assertOnePerName(codegen)
    assert("stages=(\\d+)".r.findFirstMatchIn(codegen.head).get.group(1).toInt > 0)
    val explain = Measure.explain(spark, dir, names, full = false)
    assertOnePerName(explain)
    assert(explain.head.contains("scans=1 "), explain)
  }

  test("profile: task count read right after the run") {
    val out = Measure.profile(spark, dir, names)
    assertOnePerName(out)
    assert("tasks=(\\d+)".r.findFirstMatchIn(out.head).get.group(1).toLong > 0, out)
  }

  test("sweep bitext 4: the knob's one-row frame and its wall time") {
    val out = Measure.sweep(spark, dir, "bitext", Seq(4))
    assert(out.size == 1, out)
    assert(out.head.startsWith("[sweep bitext] 4: "), out)
    Seq("n_truth=", "recall_at1=", "sec=").foreach(k => assert(out.head.contains(k), out))
    assert(!out.head.contains("FAILED"), out)
  }
}
