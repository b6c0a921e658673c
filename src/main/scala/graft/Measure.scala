package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerFlush

import graft.operators.{EntityResolution => ER, Similarity, TextAnalysis, Valuation}
import graft.streaming.HarnessGuard

/** Dev measurement CLI: one harness session (the one Bench times), one
  * warm-up, then one subcommand over registered queries or knob values.
  *
  * Usage: `runMain graft.Measure <sub> <sfDir> [args...]`
  *  - `time [query...]`: `count()`, min of 2 runs.
  *  - `profile [query...]`: the FULL result through the `noop` sink
  *    (`count()` would let Catalyst elide final sorts and prune columns)
  *    with task count, input, shuffle write/read and spill summed from
  *    TaskMetrics. Input counts Hadoop-FS-statistic reads only; local
  *    parquet scans bypass them, so locally it shows checkpoint and
  *    shuffle-file reads.
  *  - `cold [query...]`: first-run overhead split into plan time, run 1
  *    (pays Janino compiles, broadcast builds) and a warm run 2, with
  *    the compiles counted from [[CodegenMetrics]]. Its millisecond sum
  *    is a delta over a 1028-sample JVM-wide reservoir, exact only while
  *    the JVM's lifetime compile count stays under 1028.
  *  - `codegen [query...]`: each whole-stage subtree's largest generated
  *    method against the JIT's 8000-byte huge-method limit; a stage
  *    over it (or one Janino failed to compile) runs interpreted.
  *  - `explain [-full] [query...]`: operator census of the formatted
  *    physical plan (`-full` prints the plan too).
  *  - `suite [out]`: steady-state re-baseline of the whole registry for
  *    BASELINE.md: one untimed warm pass, then min of 2 per query (e2e
  *    pipelines: their warm run, once); JSON to `out`.
  *  - `sweep <knob> [value...]`: a knob's one-row evaluation frame at
  *    each value (see [[knobs]]).
  *
  * Every per-query subcommand is a function of (spark, sfDir, names)
  * returning one entry per name: `[sub] name: key=value ...`, followed
  * by any HarnessGuard warnings the name caused.
  */
object Measure {

  private val Usage =
    "usage: Measure <time|profile|cold|codegen|explain|suite|sweep> <sfDir> [args...]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val (sub, sfDir, rest) = (args(0), args(1), args.drop(2).toSeq)
    val spark = GraftSession.harness().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // absorb JVM startup so the first measured name isn't charged for it
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    def names(default: String*) = if (rest.isEmpty) default else rest
    try (sub match {
      case "time" => time(spark, sfDir, names("gold_bars_1m"))
      case "profile" => profile(spark, sfDir, names("q1_pricing_summary",
        "q3_revenue_topk", "gold_bars_1m", "bar_analytics",
        "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_clusters",
        "corpus_curate", "ann_pq_adc", "dedup_embed_lsh", "tfidf_top_terms",
        "trades_asof_bars"))
      case "cold" => cold(spark, sfDir, names("cdc_dup_chunks",
        "price_mad_outliers", "lm_score_bigram", "dedup_spans_incremental",
        "cdc_chunks", "ann_ivf"))
      case "codegen" => codegen(spark, sfDir, names("cdc_dup_chunks"))
      case "explain" =>
        val ns = rest.filterNot(_ == "-full")
        explain(spark, sfDir, if (ns.isEmpty) Seq("gold_bars_1m") else ns,
          full = rest.contains("-full"))
      case "suite" => suite(spark, sfDir, rest.headOption.getOrElse("/tmp/rebase.json"))
      case "sweep" => sweep(spark, sfDir, rest.head, rest.tail.map(_.toInt))
      case _ => sys.error(Usage)
    }).foreach(println) finally spark.stop()
  }

  private def timed[A](a: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = a
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def secs(s: Double): String = f"$s%.2f"

  private def kv(cols: (String, Any)*): String = cols.map {
    case (k, d: Double) => f"$k=$d%.6f"
    case (k, v) => s"$k=$v"
  }.mkString(" ")

  /** The shared per-name loop: a failure becomes that name's entry, and
    * the listener bus is flushed before draining HarnessGuard so each
    * warning lands on the name that caused it.
    */
  private def each[A](spark: SparkSession, tag: String, items: Seq[A])(
      body: A => String): Seq[String] = {
    // events from before the loop (the warm-up's) belong to no name
    ListenerFlush.flush(spark)
    HarnessGuard.drain()
    items.map { a =>
      val out = try body(a) catch { case e: Throwable => s"FAILED: $e" }
      ListenerFlush.flush(spark)
      (s"[$tag] $a: $out" +: HarnessGuard.drain().map("  harness warning: " + _))
        .mkString("\n")
    }
  }

  def time(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[String] =
    each(spark, "time", names) { n =>
      val runs = (1 to 2).map(_ => timed(SparkEntry.queries(n)(spark, sfDir).count()))
      kv("sec" -> secs(runs.map(_._2).min), "rows" -> runs.head._1)
    }

  private class TaskTotals extends SparkListener {
    val sums: Seq[LongAdder] = Seq.fill(5)(new LongAdder)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(t.taskMetrics).foreach { m =>
        Seq(1L, m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled)
          .zip(sums).foreach { case (v, s) => s.add(v) }
      }
    def snapshot: Seq[Long] = sums.map(_.sum)
  }

  def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[String] = {
    val totals = new TaskTotals
    spark.sparkContext.addSparkListener(totals)
    def mb(b: Long) = f"${b / 1048576.0}%.1f"
    try each(spark, "profile", names) { n =>
      val before = totals.snapshot
      val (_, sec) = timed(SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
      ListenerFlush.flush(spark)
      val d = totals.snapshot.zip(before).map { case (a, b) => a - b }
      kv("sec" -> secs(sec), "tasks" -> d(0), "input_mb" -> mb(d(1)),
        "shuf_w_mb" -> mb(d(2)), "shuf_r_mb" -> mb(d(3)), "spill_mb" -> mb(d(4)))
    } finally spark.sparkContext.removeSparkListener(totals)
  }

  private def compiles(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  def cold(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[String] =
    each(spark, "cold", names) { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val (_, plan) = timed(df.queryExecution.executedPlan)
      val (c0, ms0) = compiles()
      val (_, run1) = timed(df.count())
      val (c1, ms1) = compiles()
      val (_, run2) = timed(SparkEntry.queries(n)(spark, sfDir).count())
      val compile = (ms1 - ms0) / 1000.0
      kv("plan_s" -> secs(plan), "run1_s" -> secs(run1), "run2_s" -> secs(run2),
        "spread" -> secs(run1 - run2), "compiles" -> (c1 - c0),
        "compile_s" -> secs(compile), "unexplained_s" -> secs(run1 - run2 - compile))
    }

  def codegen(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[String] =
    each(spark, "codegen", names) { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      // collect() executes THIS df's QueryExecution (a noop write would
      // start a fresh one and leave this AQE plan without codegen)
      df.collect()
      val stages = codegenStringSeq(df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      })
      (kv("stages" -> stages.size) +: stages.zipWithIndex.map {
        case ((subtree, code, stats), i) =>
          // -1 is ByteCodeStats.UNAVAILABLE: Janino failed to compile it
          val m = stats.maxMethodCodeSize
          val flag = if (m <= 0) "COMPILE-FAILED/UNAVAILABLE"
                     else if (m > 8000) "EXCEEDS JIT HugeMethodLimit" else ""
          s"  stage=$i maxMethodBytecode=$m codeLen=${code.length}" +
            (if (flag.isEmpty) ""
             else s"  <-- $flag\n" + subtree.linesIterator.take(8).mkString("\n"))
      }).mkString("\n")
    }

  def explain(spark: SparkSession, sfDir: String, names: Seq[String],
              full: Boolean): Seq[String] =
    each(spark, "explain", names) { n =>
      val p = SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(FormattedMode)
      // count "(N) Name" lines of the details section only: formatted
      // mode lists every operator twice (tree + details)
      def c(op: String) = s"(?m)^\\(\\d+\\) $op".r.findAllIn(p).length
      kv("scans" -> c("Scan parquet"), "exchanges" -> c("Exchange"),
        "BHJ" -> c("BroadcastHashJoin"), "SMJ" -> c("SortMergeJoin"),
        "BNLJ" -> c("BroadcastNestedLoopJoin"), "hashAgg" -> c("HashAggregate"),
        "sortAgg" -> c("SortAggregate")) + (if (full) "\n" + p else "")
    }

  /** Min-of-2 over the name-sorted registry after one untimed warm pass,
    * which removes the suite-position cold artifacts a single pass
    * shows. The e2e pipelines run real sinks and are timed once, in the
    * warm pass. A failed run records no time.
    */
  def suite(spark: SparkSession, sfDir: String, out: String): Seq[String] = {
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
    def run(name: String, fn: (SparkSession, String) => DataFrame): Option[Double] =
      try Some(timed(fn(spark, sfDir).count())._2)
      catch { case e: Throwable => System.err.println(s"[suite] $name FAILED: $e"); None }
    val warm = qs.flatMap { case (n, fn) => run(n, fn).map(n -> _) }.toMap
    val times = qs.flatMap { case (n, fn) =>
      if (SparkEntry.e2eNames(n)) warm.get(n).map(n -> _)
      else (1 to 2).flatMap(_ => run(n, fn)).minOption.map(n -> _)
    }
    Files.writeString(Paths.get(out),
      times.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}\n"))
    val failed = qs.size - times.size
    Seq(s"[suite] ${times.size} queries -> $out (sum ${secs(times.map(_._2).sum)} s" +
      (if (failed > 0) s", $failed FAILED/excluded)" else ")"))
  }

  private case class Knob(defaults: Seq[Int], frame: Int => DataFrame)

  /** Each knob: its default values and `value => one-row frame`.
    *  - `er`, `er_finer`: the ER block cap (two- or three-pass keys) at
    *    the match threshold; past the cap, volume stays bounded and the
    *    cost shows up as lower blocking recall.
    *  - `er_inc`: the incremental path (80/20 history/delta split at
    *    [[ER.MasterCap]], three-pass keys) against the delta's links;
    *    the value is only a label.
    *  - `bitext`: bitext band resolution (`bitsPerBand`) vs recall@1.
    *  - `shap`: truncated-KNN-Shapley rank R vs its realized error.
    *  - `scrub`: denylist term count; `sec` times the broadcast-trie
    *    scrub, `regex_sec` the equivalent alternation regex, which is
    *    skipped once a run of it exceeds 120 s.
    */
  private def knobs(spark: SparkSession, sfDir: String): Map[String, Knob] = {
    lazy val customer = Tables.customer(spark, sfDir)
    lazy val (a, b) = (ER.sourceA(customer), ER.sourceB(customer))
    def atMatch(ev: DataFrame) = ev.filter(col("threshold") === ER.ThMatch)
    def er(finer: Boolean) =
      Knob(Seq(64, 256), cap => atMatch(ER.erEval(a, b, cap = cap, finerKeys = finer)))
    lazy val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .localCheckpoint(true)
    var regexAlive = true
    Map("er" -> er(false), "er_finer" -> er(true),
      "er_inc" -> Knob(Seq(ER.MasterCap), _ => {
        val split = graft.functions.TextFunctions.hash60(
          concat(lit("er_inc_"), col("rec_id").cast("string"))) % 100
        val delta = b.filter(split >= 80)
        atMatch(ER.erEvalFromIndex(
          ER.incrementalMatches(a, b.filter(split < 80), delta), delta))
      }),
      "bitext" -> Knob(Seq(4, 8), bits => Similarity.bitextRecallAudit(
        Tables.documents(spark, sfDir), Tables.embeddings(spark, sfDir),
        bitsPerBand = bits)),
      "shap" -> Knob(Seq(8, 16, 32, 64), r =>
        Valuation.shapleyTruncFidelity(Tables.embeddings(spark, sfDir), r)
          .agg(sum("n_points").as("n_train"), sum("n_in_topr").as("in_topr"),
            (max("max_delta6") / 1.0e6).as("max_delta"),
            (sum(col("mean_abs_delta") * col("n_points")) / sum("n_points"))
              .as("mean_abs_delta"))),
      "scrub" -> Knob(Seq(64, 256, 1024, 4096, 16384), n => {
        val terms = scrubTerms(n)
        val trie = TextAnalysis.scrubDenylist(docs, terms).agg(sum("n_hits").as("n_hits"))
        val regexSec = if (!regexAlive) "skipped" else {
          val pattern = terms.sortBy(t => (-t.length, t)).mkString("\\b(", "|", ")\\b")
          val (_, s) = timed(docs.select(regexp_count(col("text"), lit(pattern)).as("h"),
            md5(regexp_replace(col("text"), pattern, "[REDACTED]")))
            .agg(sum("h")).head())
          regexAlive = s <= 120.0
          secs(s)
        }
        trie.withColumn("regex_sec", lit(regexSec))
      }))
  }

  /** First `n` two-token denylist phrases: corpus vocabulary and
    * synthetic fillers crossed with themselves, so a realistic share of
    * them hits the text.
    */
  private def scrubTerms(n: Int): Seq[String] = {
    val corpus = Seq("the", "fast", "key", "order", "sort", "table", "scan",
      "merge", "part", "window", "small", "hash", "join", "batch", "stream",
      "spark", "dup", "group", "query", "row", "data", "slow", "filter",
      "customer", "line", "value", "agg", "column", "big", "vector", "a", "smooth")
    def side(p: String) = (corpus ++ (0 until 512).map(i => s"$p$i")).take(512)
    side("t").iterator.flatMap(f => side("u").map(s => s"$f $s")).take(n).toSeq
  }

  /** One line per value: the knob frame's row, then its wall time. */
  def sweep(spark: SparkSession, sfDir: String, knob: String,
            values: Seq[Int]): Seq[String] = {
    val k = knobs(spark, sfDir)(knob)
    each(spark, s"sweep $knob", if (values.isEmpty) k.defaults else values) { v =>
      val df = k.frame(v)
      val (row, sec) = timed(df.collect().head)
      kv(row.schema.fieldNames.toSeq.zip(row.toSeq) :+ ("sec" -> secs(sec)): _*)
    }
  }
}
