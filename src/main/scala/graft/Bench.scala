package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Benchmark entry point (driver contract): times every SparkEntry query
  * on SPARK_GRAFT_SF_DIR and emits ONE machine-parseable JSON line.
  *
  * The JSON is (a) printed to stdout and (b) written verbatim to
  * `bench.json` in the working directory — and to
  * `$SPARK_GRAFT_OUT/bench.json` when that env var is set — because sbt
  * prefixes stdout with `[info] ` and may interleave stderr stacks,
  * which broke parsing in round 1. The file copy is the authoritative
  * artifact.
  *
  * Per-query failures are NOT swallowed into fake timings: a failing
  * query is reported in `"errors"` and excluded from `"queries"`, and
  * the process exits non-zero so a broken bench can't masquerade as a
  * fast one.
  *
  * Known benign stderr noise: the DAGScheduler `Failed to update
  * accumulator N` ERROR. The iterative queries use `localCheckpoint`,
  * and when the ContextCleaner garbage-collects a finished query's
  * SQL-metric accumulators while a straggler task of a checkpointed
  * stage is still reporting, the DAGScheduler logs this ERROR and
  * continues — task results are unaffected (the accumulators in
  * question are display metrics, not data), the job completes, and the
  * bench exit code stays 0. This was the `[error]` stack that broke
  * round 1's stdout parsing and rode every bench tail r9-r12. Since
  * round 13 [[graft.streaming.BenignLogGuard]] suppresses EXACTLY this
  * event and counts it into `n_benign_suppressed` in bench.json —
  * attributed, not hidden; every other ERROR still prints with its
  * full stack, and HarnessGuard captures real task/job failures
  * independently of logging.
  */
object Bench {
  /** Shortest JSON number within 0.005 s of `v` (2-decimal rounding,
    * trailing zeros stripped) — keeps the stdout line inside the
    * driver's tail-capture window. bench.json keeps full precision.
    */
  private def compact(v: Double): String = {
    val bd = java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .stripTrailingZeros()
    if (bd.scale() <= 0) bd.setScale(0).toPlainString else bd.toPlainString
  }

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case '\n'          => "\\n"
      case '\r'          => "\\r"
      case '\t'          => "\\t"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // counted suppression of the ONE named-benign ERROR stack (the
    // accumulator-GC DAGScheduler event — see BenignLogGuard): the
    // bench tail stays parseable and the count lands in bench.json
    graft.streaming.BenignLogGuard.install()
    // JIT/codegen warmup outside the timed region: a small representative
    // query so the first measured query doesn't absorb JVM startup.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // steady-state measurement: best of two runs per query (single runs
    // swing 2-4x with host noise; min-of-N is standard practice). The
    // end-to-end pipelines are IO-bound (they materialize real sinks +
    // checkpoints), so re-running them buys no timing stability — once.
    // name-sorted: Map hash order reshuffles whenever the registry grows,
    // which silently changes each query's warmup context round-over-round
    // and confounds cross-round per-query comparison
    val harnessWarnings = Seq.newBuilder[(String, String)]
    // the listener bus is ASYNC: flush it before every drain so each
    // failure event lands in the query that produced it, not the next
    // one (and the post-suite drain below catches the stragglers)
    def flushedDrain(): Seq[String] = {
      org.apache.spark.sql.graft.ListenerFlush.flush(spark)
      graft.streaming.HarnessGuard.drain()
    }
    flushedDrain() // clear warmup noise
    val results: Seq[(String, Either[String, (Double, Double)])] =
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val nRuns = if (SparkEntry.e2eNames(name)) 1 else 2
        val runs: Seq[Either[String, Double]] = (1 to nRuns).map { _ =>
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            Right((System.nanoTime() - t0) / 1e9)
          } catch {
            case e: Throwable =>
              Left(s"${e.getClass.getName}: " +
                Option(e.getMessage).getOrElse("").linesIterator
                  .take(1).mkString.take(300))
          }
        }
        // failures Spark retried internally (task retries, stage
        // resubmissions, failed-then-rerun foreachBatch work) don't
        // surface as query errors but DO distort timings — attribute
        // them to the query that was running and put them in bench.json
        harnessWarnings ++= flushedDrain().map(name -> _)
        val oks = runs.collect { case Right(t) => t }
        name -> (if (oks.nonEmpty) Right((oks.min, oks.max))
                 else Left(runs.collectFirst { case Left(m) => m }.get))
      }
    harnessWarnings ++= flushedDrain().map("post-suite" -> _)
    val timings = results.collect { case (k, Right((mn, _))) => k -> mn }
    val maxes = results.collect { case (k, Right((_, mx))) => k -> mx }
    val errors = results.collect { case (k, Left(m)) => k -> m }
    // authoritative artifact: file copies survive sbt's stdout prefixing
    val (fileLine, stdoutLine) =
      renderLines(timings, maxes, errors, sfDir, harnessWarnings.result(),
        graft.streaming.BenignLogGuard.drainCount(),
        // the RESOLVED execution width, measured from the live context —
        // lets the driver's CPU-scaling probe verify $SPARK_GRAFT_CPUS
        // actually reached this JVM (r16's 8-vs-32-core ratios were ≈1
        // and the probe couldn't distinguish env-propagation failure
        // from fixed-cost domination; now the line itself says which)
        spark.sparkContext.defaultParallelism,
        spark.sparkContext.master)
    val outDirs = Seq(sys.env.get("SPARK_GRAFT_OUT"), Some(".")).flatten
    val written = outDirs.map { d =>
      try {
        Files.write(Paths.get(d, "bench.json"),
          (fileLine + "\n").getBytes(StandardCharsets.UTF_8))
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"Bench: failed to write $d/bench.json: $e")
          false
      }
    }
    if (!written.contains(true))
      System.err.println("Bench: WARNING — no bench.json copy written; " +
        "only the stdout line below carries the results")
    println(stdoutLine)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }

  /** The driver captures only the LAST 2000 chars of stdout; sbt then
    * appends its own "[success] Total time ..." trailer (~80 chars).
    * Round 2's 1.9 KB full-precision line had its head truncated out of
    * that window -> "parsed": null. The stdout line is therefore
    * budgeted to [[StdoutBudget]] chars: rounded timings, and if the
    * query map still doesn't fit, keep the slowest queries and report
    * how many were omitted. The returned file line keeps every query at
    * full precision (bench.json, the authoritative artifact).
    * Exposed for the BenchSpec invariant tests.
    */
  private[graft] val StdoutBudget = 1700

  /** `timings` is best-of-N per query (the headline number); `maxes` is
    * the worst run of the same N — the spread instantly classifies an
    * outlier as one-cold-run (max >> min) vs both-runs-slow (a real
    * pathology). The spread map goes to bench.json ONLY; the stdout line
    * keeps its fixed budget.
    */
  private[graft] def renderLines(timings: Seq[(String, Double)],
                                 maxes: Seq[(String, Double)],
                                 errors: Seq[(String, String)],
                                 sfDir: String,
                                 harnessWarnings: Seq[(String, String)] =
                                   Nil,
                                 nBenignSuppressed: Long = 0L,
                                 parallelism: Int = -1,
                                 master: String = "")
      : (String, String) = {
    def errJson(maxMsg: Int): String =
      errors.map { case (k, m) =>
        s""""$k":"${jsonEscape(m.take(maxMsg))}""""
      }.mkString("{", ",", "}")
    val total = timings.map(_._2).sum
    val nAll = timings.size + errors.size
    def render(qs: Seq[(String, Double)], omitted: Int,
               num: Double => String, es: String,
               errsOmitted: Boolean, extra: String = ""): String = {
      val qj = qs.map { case (k, v) => s""""$k":${num(v)}""" }
        .mkString("{", ",", "}")
      val om = if (omitted > 0) s""""queries_omitted":$omitted,""" else ""
      val eo = if (errsOmitted) s""""errors_omitted":${errors.size},""" else ""
      // resolved execution width on BOTH lines (stdout too: ~30 chars,
      // and the driver's scaling probe may only capture stdout)
      val par =
        if (parallelism < 0) ""
        else s""""parallelism":$parallelism,""" +
          s""""master":"${jsonEscape(master)}","""
      s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
        s""""queries":$qj,$extra$om"errors":$es,$eo$par"n_queries":$nAll,""" +
        s""""n_failed":${errors.size},""" +
        s""""n_harness_warnings":${harnessWarnings.size},""" +
        s""""n_benign_suppressed":$nBenignSuppressed,""" +
        s""""sf":"${jsonEscape(sfDir)}"}"""
    }
    // bench.json: full precision, full error messages, plus the per-query
    // worst-run map (authoritative; spread lives here, never on stdout)
    // and any internally-retried failures HarnessGuard captured
    val maxJson = maxes.map { case (k, v) => s""""$k":$v""" }
      .mkString(""""queries_max":{""", ",", "},")
    val hwJson =
      if (harnessWarnings.isEmpty) ""
      else harnessWarnings.map { case (q, m) =>
        s""""${jsonEscape(s"$q: $m")}""""
      }.mkString(""""harness_warnings":[""", ",", "],")
    val fileLine = render(timings, 0, _.toString, errJson(Int.MaxValue),
      false, maxJson + hwJson)
    // stdout: error messages capped at 80 chars (an unbounded errors map
    // can blow the budget just like the query map did in round 2); if
    // shrinking the query map to 1 entry still doesn't fit, drop the
    // errors map entirely and report errors_omitted instead.
    val stdoutEs = errJson(80)
    val stdoutLine = {
      val full = render(timings, 0, compact, stdoutEs, false)
      if (full.length <= StdoutBudget) full
      else {
        val bySlowest = timings.sortBy(-_._2)
        var keep = bySlowest.length
        var line = full
        while (line.length > StdoutBudget && keep > 1) {
          keep -= 1
          line = render(bySlowest.take(keep), timings.size - keep, compact,
            stdoutEs, false)
        }
        if (line.length > StdoutBudget)
          line = render(bySlowest.take(keep), timings.size - keep, compact,
            "{}", true)
        line
      }
    }
    (fileLine, stdoutLine)
  }
}
