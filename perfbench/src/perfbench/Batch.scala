package perfbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{Schemas, SparkEntry, Tables}
import graft.operators.{Bronze, Gold, Silver, Trades}
import graft.streaming.{Pipeline, Streams}

/** `batch`: closed loop, one client. A pass runs:
  *  - `drain`: a landed wire backlog through the three hops with
  *    AvailableNow, in a few large micro-batches per hop (capacity: parse,
  *    dedup, aggregation, state and parquet writes);
  *  - `restate` and `live_upsert`: `Pipeline.restateE2E` and
  *    `Pipeline.liveBarsE2E` on a seeded events dir, the read-merge-overwrite
  *    and per-bar upsert sinks beside the drain's append sink;
  *  - reference analysis queries over materialised silver and gold tables
  *    (planning, codegen and job scheduling): one warm-up round in a fixed
  *    order, then `QueryRounds` timed rounds, each in a seeded order;
  *  - a corpus registry job: a fixpoint loop over a shuffle-heavy join.
  * The pipeline ops run once per pass in a JVM that only the set-up and
  * the query warm-up round have warmed, as a batch job launched per
  * backfill would run. Every result is checked after the passes.
  */
object Batch {
  /** Backlog size, held fixed while the seed picks how many disjoint-symbol
    * replicas of an sf0.1-shaped month make it up.
    */
  val BacklogTrades = 10000
  val BacklogSymbols = 1500
  val LandingFiles = 8
  val BatchesPerHop = 2
  val DupPct = 2
  /** Events behind restate and live_upsert: three days, so the live tail
    * holds ~50 bars and the restated state three date partitions.
    */
  val EventsB = 600
  val SymbolsB = 20
  val DaysB = 3
  /** The query and corpus inputs are fixed, so their results have stored
    * digests (perfbench/digests.json).
    */
  val DataSeed = 42L
  val Events = 10000
  val Symbols = 150
  val Documents = 500
  val CorpusJobs: Seq[String] = Layers.CorpusJobNames
  /** Timed rounds over the gold queries in a pass, a multiple of the two
    * pipeline ops they follow: the query percentiles come from five
    * queries times this many warm samples. Each query's median over four
    * rounds, at two points of the pass, holds when a burst of load on the
    * shared host slows one of its runs; over two adjacent rounds it did
    * not.
    */
  val QueryRounds = 4

  final case class Inputs(landing: String, wireRows: Long, dirB: String, data: String)

  def setup(spark: SparkSession, seed: Long, root: String): Inputs = {
    Io.rm(Paths.get(root))
    val replicas = 3 + new SplittableRandom(seed).nextInt(4)
    val per = BacklogTrades / replicas
    val users = BacklogSymbols / replicas
    val ev = (0 until replicas).flatMap { r =>
      Gen.eventRows(seed * 17 + r, per, users, userBase = r.toLong * users, idBase = r.toLong * per)
    }.sortBy(_.getTimestamp(1).getTime)
    val rnd = new SplittableRandom(seed * 31 + 11)
    val rows = ev.flatMap(r => if (rnd.nextInt(100) < DupPct) Seq(r, Gen.replay(r)) else Seq(r))
    // a backlog lands in event-time order, stamped oldest first: the file
    // source takes files by mtime, and a batch of newer rows would push
    // older ones behind the watermark
    val landing = s"$root/landing"
    Files.createDirectories(Paths.get(landing))
    val files = rows.grouped((rows.size + LandingFiles - 1) / LandingFiles).toSeq
    val parts = (0 to files.size).map(i => Paths.get(landing, f"part-$i%05d.parquet"))
    Gen.wireFiles(spark, files, ev.last.getTimestamp(1).getTime, parts)
    val now = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime.fromMillis(now - (parts.size - i) * 1000L))
    }
    val dirB = s"$root/events_b"
    Gen.writeTable(Gen.events(spark, Gen.eventRows(seed * 17 + 99, EventsB, SymbolsB,
      spanMs = DaysB * 86400000L)), dirB, "events")
    val data = s"$root/data"
    Gen.writeTable(Gen.events(spark, Gen.eventRows(DataSeed, Events, Symbols)), data, "events")
    Gen.writeTable(Gen.documents(spark, DataSeed, Documents), data, "documents")
    Silver.dedup(Silver.projectToSilver(Bronze.fromKafkaLike(Bronze.kafkaWireFromEvents(
      Tables.events(spark, data))))).write.parquet(s"$data/silver")
    Gold.bars(spark.read.parquet(s"$data/silver")).write.parquet(s"$data/gold")
    Inputs(landing, rows.size, dirB, data)
  }

  def run(spark: SparkSession, o: Opts, rep: Report): Unit = {
    val base = new Ctx(spark, o, new Trace(spark, on = false), rep)
    var in: Inputs = null
    val setupS = base.setup(3) { i => in = setup(spark, o.seed, base.dir("batch", s"setup$i")) }
    rep.info("batch.wire_rows") = in.wireRows.toString
    base.trace.close()
    val trace = new Trace(spark, on = o.trace)
    val ctx = new Ctx(spark, o, trace, rep)
    val qs = ops(ctx, in)
    val t0 = Stats.nowMs
    val p = passes(ctx, qs, o.seconds, "timed")
    if (o.trace) layers(ctx, in, p, t0, Stats.nowMs)
    trace.close()
    check(ctx, in, qs, p)
    val e = e2e(p, in)
    Layers.setE2E(rep, e + ("setup_s" -> setupS))
    named(rep, p, in)
    if (o.trace) {
      Layers.overhead(rep, o.baseline, e)
      // against a warm four-core drain: the one-core session starts in a
      // JVM that is warm by then
      val warm = ctx.op("drain", "hop")(Main.drain(drainOnce(ctx, in.landing, "drain")))
      rep.layer("backfill.speedup_vs_1core") = (warm.map(oneCore(ctx, in) / _).getOrElse(0.0), "ratio")
    }
  }

  /** The ops of a pass; each returns the DataFrame whose rows it delivers. */
  def ops(ctx: Ctx, in: Inputs): Seq[Query] = {
    val spark = ctx.spark
    Seq(
      Query("drain", "hop", () => drainOnce(ctx, in.landing, "drain")),
      Query("restate", "restate", () => Pipeline.restateE2E(spark, in.dirB)),
      Query("live_upsert", "live_upsert", () => Pipeline.liveBarsE2E(spark, in.dirB))) ++
    GoldQueries.all(spark, s"${in.data}/silver", s"${in.data}/gold") ++
    CorpusJobs.map(n => Query(n, "corpus", () => SparkEntry.queries(n)(spark, in.data)))
  }

  /** One op's wall time; `warmUp` marks the untimed query warm-up round. */
  final case class Sample(name: String, layer: String, ms: Double, warmUp: Boolean)

  final case class Passes(ms: Seq[Seq[Sample]], last: Map[String, DataFrame],
                          digests: Map[String, String]) {
    private def timed = ms.flatten.filterNot(_.warmUp)
    def samples(name: String): Seq[Double] = timed.filter(_.name == name).map(_.ms)
    def runs(name: String): Int = ms.flatten.count(_.name == name)
    def queries: Seq[Double] = timed.filter(_.layer == "analytics").map(_.ms)
    def passMs: Seq[Double] = ms.map(_.map(_.ms).sum)
    def corpusMs: Seq[Double] = ms.map(_.filter(_.layer == "corpus").map(_.ms).sum)
  }

  /** Passes until `seconds` have passed, at least one. The query warm-up
    * round comes first, so the drain runs in a JVM whose compiler has
    * caught up with the SQL paths it shares with the queries. Each
    * pipeline op after the drain is then followed by an equal share of
    * the seeded timed query rounds: that spreads the query samples over
    * the pass instead of one stretch that a slow phase of the host can
    * cover. Query rounds right after the drain ran a fifth slower than
    * after the other pipeline ops, and those right after the corpus jobs a
    * third slower and more erratically, so neither is followed by one; the
    * corpus jobs come last. The warm-up round collects each query's result
    * for its digest; every other result goes through the `noop` sink.
    */
  def passes(ctx: Ctx, qs: Seq[Query], seconds: Int, tag: String): Passes = {
    val out = Seq.newBuilder[Seq[Sample]]
    val last = mutable.Map[String, DataFrame]()
    val digests = mutable.Map[String, String]()
    val (queries, others) = qs.partition(_.layer == "analytics")
    val (jobs, pipeline) = others.partition(_.layer == "corpus")
    val t0 = System.nanoTime()
    var k = 0
    while (k == 0 || System.nanoTime() - t0 < seconds * 1e9) {
      val rnd = new scala.util.Random(ctx.o.seed * 7919 + k)
      val rounds = (1 to QueryRounds).map(_ => rnd.shuffle(queries).map(_ -> false))
      val plan = queries.map(_ -> true) ++ Seq(pipeline.head -> false) ++
        pipeline.tail.zip(rounds.grouped(QueryRounds / pipeline.tail.size).toSeq).flatMap {
          case (p, rs) => (p -> false) +: rs.flatten } ++ jobs.map(_ -> false)
      out += plan.flatMap { case (q, warmUp) =>
        ctx.op(q.name, q.layer) {
          val df = q.df()
          if (warmUp) digests(q.name) = Digest.of(df) else Main.drain(df)
          last(q.name) = df
        }
          .map(Sample(q.name, q.layer, _, warmUp))
      }
      k += 1
    }
    Log(s"$tag: $k passes")
    Passes(out.result(), last.toMap, digests.toMap)
  }

  /** Phase (a): the three hops, each drained in `BatchesPerHop` batches;
    * returns the gold sink without the watermark sentinel.
    */
  def drainOnce(ctx: Ctx, landing: String, name: String): DataFrame = {
    val spark = ctx.spark
    val root = Paths.get(ctx.o.work, "batch", name).toString
    Io.rm(Paths.get(root))
    val an = Trigger.AvailableNow()
    def per(dir: String) = math.max(1, math.ceil(Io.dataFiles(dir).size.toDouble / BatchesPerHop).toInt)
    def hop(h: String)(q: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val s = q
      ctx.trace.hopOf.put(s.id.toString, h)
      s.awaitTermination()
    }
    hop("hop1")(Streams.kafkaLikeToBronze(spark.readStream.schema(Schemas.kafka)
      .option("maxFilesPerTrigger", per(landing).toLong).parquet(landing),
      s"$root/bronze", s"$root/ck1", an))
    hop("hop2")(Streams.bronzeToSilver(spark, s"$root/bronze", s"$root/silver", s"$root/ck2",
      trigger = an, maxFilesPerTrigger = Some(per(s"$root/bronze"))))
    hop("hop3")(Streams.silverToGold(spark, s"$root/silver", s"$root/gold", s"$root/ck3",
      trigger = an, maxFilesPerTrigger = Some(per(s"$root/silver")),
      partitionCols = Seq("bar_date")))
    spark.read.parquet(s"$root/gold").filter(col("symbol") =!= Pipeline.SentinelSymbol)
  }

  /** Each op's last result against its reference: the streaming sinks
    * against a batch recompute, the queries against stored digests.
    */
  private def check(ctx: Ctx, in: Inputs, qs: Seq[Query], p: Passes): Unit = {
    val spark = ctx.spark
    val bars = Gold.bars(Trades.fromEvents(Tables.events(spark, in.dirB)))
    // liveBarsE2E keeps the bars of the last six hours, cut on a minute
    def liveTail = {
      val maxMs = bars.agg(max(col("bar_start"))).head.getTimestamp(0).getTime
      bars.filter(col("bar_start") >= lit(new java.sql.Timestamp(maxMs - 6L * 3600 * 1000)))
    }
    val recomputed: Seq[(String, () => DataFrame)] = Seq(
      "drain" -> (() => Gold.bars(Silver.dedup(Silver.projectToSilver(Bronze.fromKafkaLike(
        spark.read.schema(Schemas.kafka).parquet(in.landing))))).filter(col("symbol") =!= Pipeline.SentinelSymbol)),
      "restate" -> (() => bars),
      "live_upsert" -> (() => liveTail))
    val digested = qs.filter(q => q.layer == "analytics" || q.layer == "corpus")
    // the checks are independent Spark jobs: run them side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val same = recomputed.map { case (n, want) => Future(n -> p.last.get(n).forall { got =>
      val w = want()
      Main.sameRows(got.select(w.columns.map(col).toIndexedSeq: _*), w)
    }) }
    val digests = digested.filterNot(q => p.digests.contains(q.name))
      .map(q => Future(q.name -> Digest.of(q.df())))
    val sameRows = Await.result(Future.sequence(same), Duration.Inf)
    val got = p.digests.toSeq ++ Await.result(Future.sequence(digests), Duration.Inf)
    pool.shutdown()
    sameRows.foreach { case (n, ok) =>
      if (!ok) ctx.rep.mismatch(s"$n: result differs from the batch recompute", p.runs(n)) }
    ctx.o.dump match {
      case Some(dir) => dump(ctx, digested, got, in, dir)
      case None =>
        val want = Digest.stored(ctx.o.digests, ctx.o.workload)
        got.foreach { case (n, d) =>
          if (!want.get(n).contains(d))
            ctx.rep.mismatch(s"$n: result digest differs from the stored one", p.runs(n))
        }
    }
    Log("checked")
  }

  /** Writes each query's result, its oracle SQL and the digests, for
    * perfbench/validate_digests.py to compare against DuckDB.
    */
  private def dump(ctx: Ctx, qs: Seq[Query], got: Seq[(String, String)], in: Inputs, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    qs.foreach(q => q.df().coalesce(1).write.mode("overwrite").parquet(s"$dir/${q.name}"))
    def str(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\t", "\\t") + "\""
    Files.writeString(Paths.get(dir, "oracle_sql.json"), qs.map(q =>
      s"${str(q.name)}: ${str(SparkEntry.oracleSql(q.name))}").mkString("{\n", ",\n", "\n}\n"))
    Files.writeString(Paths.get(dir, "digests.json"), got.map { case (n, d) =>
      s"  ${str(n)}: ${str(d)}" }.mkString(
      s"{${str("inputs")}: ${str(in.data)},\n${str(ctx.o.workload)}: {\n", ",\n", "\n}}\n"))
  }

  /** The gated figures. op_p50_ms: the median of the timed gold-query
    * runs (twenty, ten beyond it). op_p90_ms: the p90 (with five queries,
    * the largest) across the gold queries of each query's median over its
    * timed runs; twenty runs leave only two beyond a pooled p90, which
    * swung with single slow runs. Over two sets of ten runs the pooled
    * median spread 0.11 and 0.11 of its median, the median of the
    * per-query medians 0.15 and 0.10: that one moves in steps as the
    * middle query changes. pass_s: the whole pass (pipeline ops, queries,
    * corpus job).
    * throughput_per_s: the drain rate of phase (a).
    */
  private def e2e(p: Passes, in: Inputs): Map[String, Double] = {
    val perQuery = Layers.GoldQueryNames.map(n => Stats.median(p.samples(n)))
    Map("op_p50_ms" -> Stats.median(p.queries), "op_p90_ms" -> Stats.pct(perQuery, 0.9),
      "pass_s" -> Stats.median(p.passMs) / 1000,
      "throughput_per_s" -> in.wireRows * 1000.0 / Stats.median(p.samples("drain")))
  }

  private def named(rep: Report, p: Passes, in: Inputs): Unit = {
    val gq = p.queries
    val cj = CorpusJobs.flatMap(p.samples)
    rep.named("drain_trades_per_s") = (in.wireRows * 1000.0 / Stats.median(p.samples("drain")), "1/s", p.samples("drain").size)
    rep.named("restate_s") = (Stats.median(p.samples("restate")) / 1000, "s", p.samples("restate").size)
    rep.named("live_upsert_s") = (Stats.median(p.samples("live_upsert")) / 1000, "s", p.samples("live_upsert").size)
    rep.named("query_p50_ms") = (Stats.median(gq), "ms", gq.size)
    rep.named("query_p90_ms") = (Stats.pct(gq, 0.9), "ms", gq.size)
    rep.named("queries_per_s") = (gq.size * 1000.0 / gq.sum, "1/s", gq.size)
    rep.named("job_p50_s") = (Stats.median(cj) / 1000, "s", cj.size)
    val corpus = p.corpusMs
    rep.named("corpus_pass_s") = (Stats.median(corpus) / 1000, "s", corpus.size)
    rep.named("failed_share") = (rep.failed.toDouble / math.max(1, rep.attempted), "ratio", rep.attempted)
  }

  /** The per-layer figures of a traced pass that ran from `t0` to `t1`. */
  private def layers(ctx: Ctx, in: Inputs, p: Passes, t0: Double, t1: Double): Unit = {
    val rep = ctx.rep
    val trace = ctx.trace
    trace.finish(t0, t1)
    Layers.hops(rep, trace.hopBatches, trace, ctx.cores)
    Seq("hop1" -> "bronze", "hop2" -> "silver", "hop3" -> "gold").foreach { case (h, d) =>
      rep.layer(s"$h.sink_files") =
        (Io.dataFiles(Paths.get(ctx.o.work, "batch", "drain", d).toString).size.toDouble, "count")
    }
    // files_written: the data files the call leaves in its staging tree,
    // which graft.streaming.Pipeline creates under java.io.tmpdir
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    Seq("restate" -> "graft_re2e_", "live_upsert" -> "graft_le2e_").foreach { case (op, prefix) =>
      val w = trace.opWork(op)
      rep.layer(s"$op.jobs") = (w.map(_.jobs).sum.toDouble, "count")
      rep.layer(s"$op.task_ms") = (w.map(_.taskMs).sum, "ms")
      rep.layer(s"$op.files_written") = (Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.startsWith(prefix))
        .map(d => Io.dataFiles(d.toString).size).sum.toDouble, "count")
    }
    Layers.GoldQueryNames.foreach(n => rep.layer(s"analytics.$n.ms") = (Stats.median(p.samples(n)), "ms"))
    CorpusJobs.foreach { n =>
      val w = trace.opWork(n)
      rep.layer(s"corpus.$n.s") = (Stats.median(p.samples(n)) / 1000, "s")
      rep.layer(s"corpus.$n.jobs") = (if (w.isEmpty) 0.0 else w.map(_.jobs).sum.toDouble / w.size, "count")
    }
    Layers.spark(rep, trace, t1 - t0, ctx.cores)
    trace.write(Paths.get(ctx.o.work, "trace", s"${ctx.o.workload}-${ctx.o.seed}").toString)
  }

  /** Phase (a) on a one-core session: the single-threaded baseline.
    * Returns its wall time in ms.
    */
  private def oneCore(ctx: Ctx, in: Inputs): Double = {
    ctx.spark.stop()
    val one = Main.session(ctx.o, "local[1]")
    val c1 = new Ctx(one, ctx.o, new Trace(one, on = false), new Report(ctx.o.workload))
    val ms = c1.op("drain", "hop")(Main.drain(drainOnce(c1, in.landing, "drain-1core")))
    c1.trace.close()
    ms.getOrElse(0.0)
  }
}
