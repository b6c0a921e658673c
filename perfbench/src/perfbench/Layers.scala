package perfbench

import scala.jdk.CollectionConverters._

/** The metric names and units every run prints: the end-to-end set with
  * `--trace 0`, the per-layer set with `--trace 1`. Each workload fills
  * what it measures; a layer a workload never calls reports 0.
  */
object Layers {
  val E2E: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_p90_ms" -> "ms",
    "pass_s" -> "s", "throughput_per_s" -> "1/s")

  /** Five of the reference analysis queries: a rolling-window pass, gap
    * filling, an as-of join, a cross-symbol aggregate over hourly bars and
    * sliding-window bars. The other five the registry pairs with them
    * (bar_indicators, bars_resampled_1h, bars_last_k, symbol_cusum,
    * price_mad_outliers) are left out to keep a run inside its time.
    */
  val GoldQueryNames: Seq[String] = Seq("bar_analytics", "bars_gapfilled",
    "trades_asof_bars", "symbol_correlation", "gold_bars_5m_sliding")
  /** One corpus registry job: `dedup_clusters`, an n-gram Jaccard self-join
    * (shuffle-heavy) feeding the connected-components fixpoint loop.
    */
  val CorpusJobNames: Seq[String] = Seq("dedup_clusters")

  /** The workload-level figures (freshness, drain rate, call and query
    * latencies); a traced run reports them as measured on its traced pass.
    */
  val Named: Seq[(String, String)] = Seq(
    "freshness_p50_s" -> "s", "freshness_p90_s" -> "s", "drain_trades_per_s" -> "1/s",
    "restate_s" -> "s", "live_upsert_s" -> "s", "query_p50_ms" -> "ms",
    "query_p90_ms" -> "ms", "queries_per_s" -> "1/s", "job_p50_s" -> "s",
    "corpus_pass_s" -> "s", "failed_share" -> "ratio")

  val PerLayer: Seq[(String, String)] = {
    val hop = Seq("batches" -> "count", "batch_p50_ms" -> "ms", "planning_ms" -> "ms",
      "offsets_ms" -> "ms", "commit_ms" -> "ms", "add_batch_ms" -> "ms",
      "data_batch_share" -> "ratio", "rows_in" -> "count", "compute_share" -> "ratio",
      "files_behind_max" -> "count", "sink_files" -> "count")
    Seq("hop1", "hop2", "hop3").flatMap(h => hop.map { case (m, u) => s"$h.$m" -> u }) ++
    Seq("hop2.state_commit_ms" -> "ms", "hop2.state_bytes" -> "bytes",
      "hop2.dup_dropped_rows" -> "count", "hop3.state_commit_ms" -> "ms",
      "hop3.state_bytes" -> "bytes", "gen.lag_p90_ms" -> "ms",
      "restate.jobs" -> "count", "restate.task_ms" -> "ms",
      "restate.files_written" -> "count", "live_upsert.jobs" -> "count",
      "live_upsert.task_ms" -> "ms", "live_upsert.files_written" -> "count",
      "plan.plan_ms_p50" -> "ms", "spark.codegen_ms" -> "ms", "spark.jobs" -> "count",
      "spark.sched_share" -> "ratio", "spark.task_ms" -> "ms",
      "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.gc_ms" -> "ms", "tables.scan_bytes" -> "bytes") ++
    GoldQueryNames.map(q => s"analytics.$q.ms" -> "ms") ++
    CorpusJobNames.flatMap(j => Seq(s"corpus.$j.s" -> "s", s"corpus.$j.jobs" -> "count")) ++
    Seq("backfill.speedup_vs_1core" -> "ratio", "live.sustainable_trades_per_s" -> "1/s") ++
    E2E.tail.map { case (m, _) => s"trace_overhead.$m" -> "ratio" } ++
    Named
  }

  def setE2E(rep: Report, v: Map[String, Double]): Unit =
    E2E.foreach { case (m, u) => rep.e2e(m) = (v(m), u) }

  /** Traced minus untraced, as a share of the untraced value. The
    * untraced values are those of an untraced run of the same workload,
    * seed and sources (`--baseline`, written by run.py). Without one the
    * overhead is reported as missing (an `info` line) and reads 0.
    */
  def overhead(rep: Report, baseline: Option[String], traced: Map[String, Double]): Unit = {
    val file = baseline.map(java.nio.file.Paths.get(_)).filter(java.nio.file.Files.exists(_))
    val untraced = file.map { p =>
      "\"([^\"]+)\": \\{\"value\": ([-0-9.Ee]+)".r
        .findAllMatchIn(new String(java.nio.file.Files.readAllBytes(p)))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }.getOrElse(Map.empty[String, Double])
    if (file.isEmpty)
      rep.info("trace_overhead") = "missing: no untraced run of this workload, seed and sources"
    E2E.tail.foreach { case (m, _) =>
      val u = untraced.getOrElse(m, 0.0)
      rep.layer(s"trace_overhead.$m") = (if (u == 0) 0.0 else (traced(m) - u) / u, "ratio")
    }
  }

  /** Copies the named figures into the per-layer set and puts every
    * per-layer metric in canonical order, 0 where the layer did not run.
    */
  def finish(rep: Report): Unit = {
    rep.named.foreach { case (k, (v, u, _)) =>
      if (Named.exists(_._1 == k)) rep.layer(k) = (v, u) }
    val have = rep.layer.toMap
    rep.layer.clear()
    PerLayer.foreach { case (m, u) => rep.layer(m) = (have.get(m).map(_._1).getOrElse(0.0), u) }
  }

  def hops(rep: Report, byHop: Map[String, Seq[MicroBatch]], trace: Trace, cores: Int): Unit =
    byHop.foreach { case (h, bs) =>
      Hops.summary(h, bs, Option(trace.byHop.get(h)), cores).foreach { case (m, v, u) =>
        rep.layer(m) = (v, u) }
      if (h != "hop1") {
        rep.layer(s"$h.state_commit_ms") = (Stats.mean(bs.map(_.stateCommitMs.toDouble)), "ms")
        rep.layer(s"$h.state_bytes") = (if (bs.isEmpty) 0.0 else bs.last.stateBytes.toDouble, "bytes")
      }
      if (h == "hop2") rep.layer("hop2.dup_dropped_rows") = (bs.map(_.dupDropped).sum.toDouble, "count")
    }

  /** Run-wide Spark counters of a traced pass that took `wallMs`. */
  def spark(rep: Report, trace: Trace, wallMs: Double, cores: Int): Unit = {
    val t = trace.total
    rep.layer("spark.codegen_ms") = (t.codegenMs, "ms")
    rep.layer("spark.jobs") = (t.jobs.toDouble, "count")
    rep.layer("spark.task_ms") = (t.taskMs, "ms")
    rep.layer("spark.sched_share") = (1 - t.taskMs / (wallMs * cores), "ratio")
    rep.layer("spark.shuffle_bytes") = (t.shuffleBytes.toDouble, "bytes")
    rep.layer("spark.spill_bytes") = (t.spillBytes.toDouble, "bytes")
    rep.layer("spark.gc_ms") = (t.gcMs, "ms")
    rep.layer("tables.scan_bytes") = (t.scanBytes.toDouble, "bytes")
    val plans = trace.byOp.asScala.values.map(_.planMs).filter(_ > 0).toSeq
    rep.layer("plan.plan_ms_p50") = (Stats.median(plans), "ms")
  }
}
