package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Schemas
import graft.operators.{Bronze, Gold, Silver}
import graft.streaming.{HarnessGuard, Pipeline, Streams}

/** `live_tail`: open loop at one fixed rate. The seed's wire, in event-time
  * order with seeded replays and held-back rows, is pre-rendered into
  * small parquet drops during set-up; a generator thread then only renames
  * each drop into the landing dir at its due time, so it uses no Spark and
  * does not slow down when the pipeline does. The three hops run
  * concurrently under `Streams.DefaultTrigger`.
  *
  * A drop's freshness runs from its due time to the end of the first hop3
  * batch whose watermark passes the end of the bar holding the drop's
  * newest trade: from then on all of the drop's bars are in gold.
  */
object LiveTail {
  /** Drops in a pass: enough that the p90 freshness has ten samples
    * beyond it.
    */
  val Drops = 100
  val TradesPerDrop = 60
  /** Wall time over which the base rate spreads the drops: four intervals
    * of the 5 s trigger, so each hop sees the tail as several batches of
    * about 25 drops. The base rate, 6000 trades in 20 s = 300 trades/s, is
    * about a quarter of the backlog drain rate `batch` measures
    * (`throughput_per_s`, about 1100-1600 trades/s on four cores); the
    * probes of a traced run offer twice and four times that.
    */
  val ScheduleMs = 20000.0
  /** Event time each drop covers: the base rate replays 30x real time, so
    * the 2-minute watermark delay is 20 drops, or 4 s of wall time.
    */
  val DropEventMs = 6000L
  val Symbols = 64
  val DupPct = 2
  val LagPct = 3
  /** Held-back rows arrive up to 8 drops late, their replays up to 9
    * (54 s of event time): inside both hops' 2-minute watermark, so no row
    * is dropped as late.
    */
  val MaxLagDrops = 8
  /** The interval of `Streams.DefaultTrigger`. */
  val TickMs = 5000.0
  /** Ceiling on a drop's freshness before it counts as never landing. */
  val GraceMs = 60000.0
  /** The freshness limit a rate must meet to count as sustainable; a probe
    * pass stops waiting this long after its last due time.
    */
  val SustainableP90Ms = 30000.0
  /** Set-up repetitions. One takes under a second, and the first few still
    * run while the JIT compiles the writer: with three, the median moved
    * by a third from run to run.
    */
  val SetupReps = 7

  final case class Drop(idx: Int, file: String, rows: Long, barEndMs: Long)

  /** One pass: freshness per drop, the trades of the first 90% of drops
    * to reach gold and the time from the first due time until they had,
    * drops that failed, and whether gold was correct.
    */
  final case class Pass(fresh: Seq[Double], trades: Long, passMs: Double, failed: Int,
                        correct: Boolean)

  def run(spark: SparkSession, o: Opts, rep: Report): Unit = {
    val ctx = new Ctx(spark, o, new Trace(spark, on = false), rep)
    var drops: Seq[Drop] = Nil
    val setupS = ctx.setup(SetupReps) { i =>
      val dir = ctx.dir("live", s"setup$i")
      Io.rm(Paths.get(dir))
      drops = render(spark, o.seed, Drops, dir)
    }
    ctx.trace.close()
    val dropsDir = ctx.dir("live", s"setup${SetupReps - 1}", "drops")
    val real = drops.filter(_.barEndMs != Long.MaxValue)
    rep.info("live.drops") = real.size.toString
    rep.info("live.trades") = real.map(_.rows).sum.toString

    val trades = real.map(_.rows).sum
    rep.info("live.trades_per_s") = f"${trades * 1000 / ScheduleMs}%.0f"
    rep.info("live.trades_per_tick") = f"${trades * TickMs / ScheduleMs}%.0f"

    val base = pass(spark, o, rep, "pass", dropsDir, drops, 1, traced = o.trace, probe = false)
    report(rep, base, setupS)
    if (o.trace) {
      Layers.overhead(rep, o.baseline, e2e(base, setupS))
      // a rate is sustainable when its p90 freshness stays under the limit
      // and no drop is still unpublished when the probe stops waiting
      val rates = Seq(1 -> base) ++ Seq(2, 4).map(s =>
        s -> pass(spark, o, rep, s"rate$s", dropsDir, drops, s, traced = false, probe = true))
      val ok = rates.collect { case (s, p)
        if p.failed == 0 && Stats.pct(p.fresh, 0.9) <= SustainableP90Ms => trades * s * 1000 / ScheduleMs }
      rep.layer("live.sustainable_trades_per_s") = (if (ok.isEmpty) 0.0 else ok.max, "1/s")
      rates.foreach { case (s, p) =>
        rep.named(f"live.freshness_p90_s@x$s") = (Stats.pct(p.fresh, 0.9) / 1000, "s", p.fresh.size)
        rep.named(f"live.unpublished_drops@x$s") = (p.failed.toDouble, "count", p.fresh.size)
      }
    }
  }

  /** The seed's wire, split into drops by event time, with seeded replays
    * and held-back rows, each drop one parquet file under `dir/drops`; the
    * last drop holds only the watermark-flush sentinel.
    */
  def render(spark: SparkSession, seed: Long, nDrops: Int, dir: String): Seq[Drop] = {
    val ev = Gen.eventRows(seed, nDrops * TradesPerDrop, Symbols, spanMs = nDrops * DropEventMs)
    val rnd = new SplittableRandom(seed * 31 + 7)
    val byDrop = IndexedSeq.fill(nDrops + MaxLagDrops + 2)(Seq.newBuilder[Row])
    ev.foreach { r =>
      val base = ((r.getTimestamp(1).getTime - Gen.StartMs) / DropEventMs).toInt
      val d = if (rnd.nextInt(100) < LagPct) base + 1 + rnd.nextInt(MaxLagDrops) else base
      byDrop(d) += r
      if (rnd.nextInt(100) < DupPct) byDrop(d + rnd.nextInt(2)) += Gen.replay(r)
    }
    val files = byDrop.map(_.result())
    val kept = files.indices.filter(files(_).nonEmpty)
    Files.createDirectories(Paths.get(dir, "drops"))
    val names = (kept :+ files.size).map(k => f"drop-$k%05d.parquet")
    Gen.wireFiles(spark, kept.map(files), ev.last.getTimestamp(1).getTime,
      names.map(Paths.get(dir, "drops", _)))
    kept.zip(names).map { case (k, name) =>
      Drop(k, name, files(k).size,
        (files(k).map(_.getTimestamp(1).getTime).max / 60000L + 1) * 60000L)
    } :+ Drop(files.size, names.last, 1, Long.MaxValue)
  }

  def e2e(p: Pass, setupS: Double): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "op_p50_ms" -> Stats.median(p.fresh),
    "op_p90_ms" -> Stats.pct(p.fresh, 0.9),
    "pass_s" -> p.passMs / 1000,
    "throughput_per_s" -> p.trades * 1000.0 / p.passMs)

  private def report(rep: Report, p: Pass, setupS: Double): Unit = {
    Layers.setE2E(rep, e2e(p, setupS))
    val n = p.fresh.size
    rep.named("freshness_p50_s") = (Stats.median(p.fresh) / 1000, "s", n)
    rep.named("freshness_p90_s") = (Stats.pct(p.fresh, 0.9) / 1000, "s", n)
    rep.named("live_unpublished_drops") = (p.failed.toDouble, "count", n)
    rep.named("failed_share") = (rep.failed.toDouble / math.max(1, rep.attempted), "ratio", rep.attempted)
    if (!p.correct) rep.mismatch("live_tail gold sink differs from the batch recompute", n)
  }

  /** One open-loop pass over all drops at `scale` × the base rate. The
    * base pass counts each drop as an op and checks gold against a batch
    * recompute. A probe pass counts as one op, failed only by a query
    * error or a task or job failure: drops it leaves unpublished mark the
    * rate as unsustainable, not the run as failed.
    */
  def pass(spark: SparkSession, o: Opts, rep: Report, name: String, dropsDir: String,
           drops: Seq[Drop], scale: Int, traced: Boolean, probe: Boolean): Pass = {
    val root = Paths.get(o.work, "live", name).toString
    Io.rm(Paths.get(root))
    val Seq(staging, landing, bronze, silver, gold) =
      Seq("staging", "landing", "bronze", "silver", "gold").map(d => s"$root/$d")
    Seq(staging, landing, bronze, silver).foreach(d => Files.createDirectories(Paths.get(d)))
    drops.foreach(d => Files.createLink(Paths.get(staging, d.file), Paths.get(dropsDir, d.file)))
    val trace = new Trace(spark, traced)
    val runStart = Stats.nowMs
    HarnessGuard.drain()
    val qs = HarnessGuard.scope(spark, name)(Seq(
      "hop1" -> Streams.kafkaLikeToBronze(
        spark.readStream.schema(Schemas.kafka).parquet(landing), bronze, s"$root/ck1"),
      "hop2" -> Streams.bronzeToSilver(spark, bronze, silver, s"$root/ck2"),
      "hop3" -> Streams.silverToGold(spark, silver, gold, s"$root/ck3",
        partitionCols = Seq("bar_date"))))
    qs.foreach { case (h, q) => trace.hopOf.put(q.id.toString, h) }

    // open-loop schedule: seeded jitter of up to half an interval per drop
    val rnd = new SplittableRandom(o.seed * 31 + scale)
    val intervalMs = ScheduleMs / Drops / scale
    // ProcessingTime triggers fire on multiples of their interval since the
    // epoch; starting each schedule at the same phase of that grid (after
    // the queries have started) makes a pass span the same trigger ticks
    // on every run
    val t0 = (math.floor((Stats.nowMs + 300) / TickMs) + 1) * TickMs + 500
    val dues = drops.indices.map(i => t0 + (i + rnd.nextDouble() * 0.5) * intervalMs)
    val landed = new Array[Double](drops.size)
    val gen = new Thread(() => drops.indices.foreach { i =>
      val wait = dues(i) - Stats.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      Files.move(Paths.get(staging, drops(i).file), Paths.get(landing, drops(i).file),
        StandardCopyOption.ATOMIC_MOVE)
      landed(i) = Stats.nowMs
    }, "perfbench-generator")
    gen.start()

    val hop3 = qs(2)._2.id.toString
    def pubTimes(): Seq[Option[Double]] = {
      val bs = trace.batches.asScala.filter(_.queryId == hop3).toSeq.sortBy(_.batchId)
      drops.map(d => bs.find(_.watermarkMs.exists(_ >= d.barEndMs)).map(_.end))
    }
    val real = drops.indices.filter(i => drops(i).barEndMs != Long.MaxValue)
    val deadline = dues.last + (if (probe) SustainableP90Ms else GraceMs)
    var pubs = pubTimes()
    while (real.exists(pubs(_).isEmpty) && Stats.nowMs < deadline &&
        qs.forall(_._2.isActive)) {
      Thread.sleep(50)
      pubs = pubTimes()
    }
    gen.join()
    qs.foreach(_._2.stop())
    trace.flush()
    pubs = pubTimes()
    val runEnd = Stats.nowMs
    Log(s"$name: schedule and drain done")
    val errors = qs.flatMap(_._2.exception).map(_.getMessage) ++ HarnessGuard.drain()

    val fresh = real.map(i => pubs(i).map(_ - dues(i)).getOrElse(GraceMs))
    // a query error or a task or job failure inside any hop fails every
    // drop of the pass
    val failed = if (errors.nonEmpty) real.size else real.count(pubs(_).isEmpty)
    if (probe) {
      rep.attempted += 1
      if (errors.nonEmpty) rep.fail(s"$name: ${errors.mkString("; ")}")
    } else {
      rep.attempted += real.size
      if (failed > 0) rep.fail(s"$name: $failed drops failed ${errors.mkString("; ")}", failed)
    }
    // the pass ends when 90% of its drops are in gold: the last drops
    // wait for the watermark-flush sentinel, one trigger tick more or less
    val doneAt = Stats.pct(real.map(pubs(_).getOrElse(deadline)), 0.9)
    val byHop = qs.map { case (h, q) =>
      h -> trace.batches.asScala.filter(_.queryId == q.id.toString).toSeq.sortBy(_.batchId) }.toMap
    real.foreach { i =>
      trace.spans.add(Span(trace.newId(), trace.runId, "drop", "drop", dues(i),
        pubs(i).getOrElse(deadline), Map("rows" -> drops(i).rows.toDouble)))
    }
    trace.finish(runStart, runEnd)
    val correct = probe || {
      val want = Gold.bars(Silver.dedup(Silver.projectToSilver(Bronze.fromKafkaLike(
        spark.read.schema(Schemas.kafka).parquet(dropsDir)))))
        .filter(col("symbol") =!= Pipeline.SentinelSymbol)
      val got = spark.read.parquet(gold).filter(col("symbol") =!= Pipeline.SentinelSymbol)
        .select(want.columns.map(col).toIndexedSeq: _*)
      Main.sameRows(got, want)
    }
    Log(s"$name: checked")
    byHop.foreach { case (h, bs) =>
      rep.info(s"live.$name.$h.batches") = s"${bs.size} (${bs.count(_.rowsIn > 0)} with data)" }
    if (traced) {
      val cores = spark.sparkContext.defaultParallelism
      // files each batch had to pick up: what appeared in its source since
      // the previous batch of the same hop started
      def behind(times: Seq[Double], bs: Seq[MicroBatch]): Int =
        if (bs.isEmpty) 0
        else bs.zip(Double.MinValue +: bs.map(_.start)).map { case (b, prev) =>
          times.count(t => t > prev && t <= b.start) }.max
      def mtimes(dir: String) = Io.dataFiles(dir).map(f =>
        Files.getLastModifiedTime(f).toMillis.toDouble)
      Seq(("hop1", landed.toSeq, bronze), ("hop2", mtimes(bronze), silver),
          ("hop3", mtimes(silver), gold)).foreach { case (h, arrivals, sink) =>
        rep.layer(s"$h.files_behind_max") = (behind(arrivals, byHop(h)).toDouble, "count")
        rep.layer(s"$h.sink_files") = (Io.dataFiles(sink).size.toDouble, "count")
      }
      Layers.hops(rep, byHop, trace, cores)
      rep.layer("gen.lag_p90_ms") = (Stats.pct(drops.indices.map(i => landed(i) - dues(i)), 0.9), "ms")
      Layers.spark(rep, trace, runEnd - runStart, cores)
      trace.write(Paths.get(o.work, "trace", s"${o.workload}-${o.seed}").toString)
    }
    trace.close()
    Io.rm(Paths.get(root))
    Pass(fresh, real.filter(pubs(_).exists(_ <= doneAt)).map(drops(_).rows).sum,
      doneAt - dues(real.head), failed, correct)
  }
}
