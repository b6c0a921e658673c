package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Schemas.Trade
import graft.operators.{Bronze, Dedup, Gold, Silver, Trades}
import graft.streaming.Streams

/** Streaming semantics: watermarks, append finalization, stateful dedup,
  * file-to-file pipeline, partition-value escaping (SURVEY §2.9, §5.2.3).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def trade(sym: String, t: String, price: Double, size: Double = 1.0) =
    Trade("kraken", sym, price, size, "buy", "market", ts(t))

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("gold bars emit only after the watermark passes bar_end (append mode)") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Trade]
    val q = Streams.goldBarsStream(in.toDF)
      .writeStream.format("memory").queryName("bars_wm").outputMode("append")
      .start()
    try {
      in.addData(trade("BTC", "2024-01-01 10:00:10", 100.0),
        trade("BTC", "2024-01-01 10:00:50", 110.0))
      q.processAllAvailable()
      // watermark still at 10:00:50 - 2min => nothing finalized
      assert(spark.table("bars_wm").count() == 0)
      // sentinel 5 minutes later pushes watermark past 10:01
      in.addData(trade("BTC", "2024-01-01 10:05:30", 120.0))
      q.processAllAvailable()
      in.addData(trade("BTC", "2024-01-01 10:05:40", 121.0))
      q.processAllAvailable()
      val bars = spark.table("bars_wm").collect()
      assert(bars.length == 1)
      assert(bars.head.getAs[Double]("open") == 100.0)
      assert(bars.head.getAs[Double]("close") == 110.0)
      assert(bars.head.getAs[Long]("trades") == 2L)
    } finally q.stop()
  }

  test("observe metrics report per-batch data quality, streaming and batch") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Trade]
    val q = Streams.withQualityMetrics(in.toDF)
      .writeStream.format("memory").queryName("obs_q").outputMode("append")
      .start()
    try {
      in.addData(trade("BTC", "2024-01-01 10:00:10", 100.0),
        trade("BTC", "2024-01-01 10:00:50", -1.0), // bad price
        trade("ETH", "2024-01-01 10:01:00", 50.0))
      q.processAllAvailable()
      val m = q.lastProgress.observedMetrics
        .get(Streams.QualityObservation)
      assert(m != null)
      assert(m.getAs[Long]("n_rows") == 3L)
      assert(m.getAs[Long]("n_bad_price") == 1L)
      assert(m.getAs[java.sql.Timestamp]("max_event_time")
        == ts("2024-01-01 10:01:00"))
    } finally q.stop()
    // the same frame works on the batch path via Observation
    val obs = new org.apache.spark.sql.Observation("batch_quality")
    val batch = Seq(trade("BTC", "2024-01-01 10:00:10", 100.0),
      trade("BTC", "2024-01-01 10:00:11", 0.0)).toDF
    batch.observe(obs, count(lit(1)).as("n_rows"),
        sum(when(col("price") <= 0, 1L).otherwise(0L)).as("n_bad_price"))
      .count()
    assert(obs.get("n_rows") == 2L && obs.get("n_bad_price") == 1L)
  }

  test("stream-static join enriches the stream without extra state") {
    implicit val ctx = spark.sqlContext
    // static dimension: per-symbol tick size (the reference's symbol
    // metadata shape); stream side joins it per micro-batch — no
    // watermark or state needed for stream-static joins
    val dim = Seq(("BTC", 0.5), ("ETH", 0.05)).toDF("symbol", "tick")
    val in = MemoryStream[Trade]
    val q = in.toDF.join(broadcast(dim), Seq("symbol"))
      .select(col("symbol"), col("price"), col("tick"),
        (round(col("price") / col("tick"), 0) * col("tick")).as("px_rounded"))
      .writeStream.format("memory").queryName("ss_join").outputMode("append")
      .start()
    try {
      in.addData(
        trade("BTC", "2024-01-01 10:00:10", 100.26),
        trade("ETH", "2024-01-01 10:00:11", 10.26),
        trade("SOL", "2024-01-01 10:00:12", 1.23)) // no dim row -> dropped
      q.processAllAvailable()
      val rows = spark.table("ss_join").orderBy("symbol").collect()
      assert(rows.map(_.getString(0)).toSeq == Seq("BTC", "ETH"))
      assert(rows(0).getAs[Double]("px_rounded") == 100.5) // 0.5 is exact
      assert(math.abs(rows(1).getAs[Double]("px_rounded") - 10.25) < 1e-9)
    } finally q.stop()
  }

  test("beyond-watermark late trade is dropped from the aggregation") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Trade]
    val q = Streams.goldBarsStream(in.toDF)
      .writeStream.format("memory").queryName("bars_late").outputMode("append")
      .start()
    try {
      in.addData(trade("BTC", "2024-01-01 10:00:10", 100.0))
      q.processAllAvailable()
      in.addData(trade("BTC", "2024-01-01 10:10:00", 200.0)) // watermark → 10:08
      q.processAllAvailable()
      in.addData(trade("BTC", "2024-01-01 10:00:20", 999.0)) // too late, dropped
      q.processAllAvailable()
      in.addData(trade("BTC", "2024-01-01 10:15:00", 201.0))
      q.processAllAvailable()
      val bar0 = spark.table("bars_late")
        .filter(col("bar_start") === ts("2024-01-01 10:00:00")).collect()
      assert(bar0.length == 1)
      assert(bar0.head.getAs[Long]("trades") == 1L) // the 999.0 never landed
    } finally q.stop()
  }

  test("streaming dedup suppresses duplicates within the watermark") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Trade]
    val silverLike = in.toDF // already has the dedup key columns
    val q = Streams.dedupStreaming(silverLike)
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append")
      .start()
    try {
      val t0 = trade("BTC", "2024-01-01 10:00:10", 100.0)
      in.addData(t0, t0) // duplicate within one batch
      q.processAllAvailable()
      assert(spark.table("dedup_stream").count() == 1)
      in.addData(t0) // duplicate across batches, still within watermark
      q.processAllAvailable()
      assert(spark.table("dedup_stream").count() == 1)
      in.addData(trade("BTC", "2024-01-01 10:00:10", 101.0)) // different price
      q.processAllAvailable()
      assert(spark.table("dedup_stream").count() == 2)
    } finally q.stop()
  }

  test("file pipeline: bronze dir → silver dir → gold dir equals batch result") {
    val bronzeDir = tmpDir("graft_bronze")
    val silverDir = tmpDir("graft_silver")
    val goldDir = tmpDir("graft_gold")
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    Bronze.fromKafkaLike(Bronze.kafkaWireFromEvents(events))
      .write.mode("overwrite").parquet(bronzeDir)

    val q1 = Streams.bronzeToSilver(spark, bronzeDir, silverDir,
      tmpDir("graft_ck1"), trigger = Trigger.AvailableNow())
    q1.awaitTermination()
    val q2 = Streams.silverToGold(spark, silverDir, goldDir,
      tmpDir("graft_ck2"), trigger = Trigger.AvailableNow())
    q2.awaitTermination()

    val silverBatch = Silver.dedup(Silver.projectToSilver(
      spark.read.schema(Schemas.bronze).parquet(bronzeDir)))
    // silver stream emits everything (dedup emits on arrival)
    val gotSilver = spark.read.parquet(silverDir)
    assert(gotSilver.count() == silverBatch.count())

    // gold stream emits only bars finalized by the watermark:
    // bar_end <= max(event_time) - 2 minutes
    val maxEt = silverBatch.agg(max(col("event_time"))).collect().head
      .getTimestamp(0)
    val cutoff = new java.sql.Timestamp(maxEt.getTime - 120000L)
    val expected = Gold.bars(silverBatch)
      .filter(col("bar_end") <= lit(cutoff))
      .orderBy("symbol", "bar_start")
      .collect().toSeq
    val got = spark.read.parquet(goldDir)
      .select(expected.headOption.map(_ => Gold.bars(silverBatch).columns)
        .getOrElse(Array.empty[String]).map(col).toSeq: _*)
      .orderBy("symbol", "bar_start").collect().toSeq
    assert(expected.nonEmpty)
    assert(got == expected)
  }

  test("hops 1-3 under their default triggers: ≤500 ms handoffs, gold exact") {
    import java.nio.file.{Paths, StandardCopyOption}
    import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
    import graft.streaming.Pipeline
    val root = tmpDir("graft_prod_triggers")
    val Seq(rendered, staging, landing, bronze, silver, gold) =
      Seq("rendered", "staging", "landing", "bronze", "silver", "gold")
        .map(d => s"$root/$d")
    Seq(staging, landing, bronze, silver).foreach(d =>
      Files.createDirectories(Paths.get(d)))
    // ten drops of 30 s event time, 12 trades over 3 symbols each. Every
    // 7th trade is replayed (same payload, new offset) one drop later;
    // every 5th is held back two drops (60 s, inside the 2-minute
    // watermark). The last drop holds only the watermark-flush sentinel.
    val t0 = ts("2024-01-01 10:00:00").getTime
    val syms = Seq("BTC/USD", "ETH/USD", "SOL/USD")
    val rows = for {
      d <- 0 until 10; i <- 0 until 12
      n = d * 12 + i
      ms = t0 + d * 30000L + i * 2500L
      at = if (n % 5 == 0) d + 2 else d
      (off, drop) <- Seq(n.toLong -> at) ++
        (if (n % 7 == 0) Seq((n + 100000L) -> (at + 1)) else Nil)
    } yield (off, drop, syms(i % 3), ms, 100.0 + n % 17, 1.0 + n % 3)
    val nDrops = 14
    val sentinel = (-1L, nDrops - 1, Pipeline.SentinelSymbol,
      t0 + 10 * 30000L + 600000L, 1.0, 1.0)
    (rows :+ sentinel).toDF("offset", "drop", "symbol", "ms", "price", "size")
      .select(col("drop"), lit("crypto.trades").as("topic"),
        lit(0).as("partition"), col("offset"),
        timestamp_millis(col("ms")).as("timestamp"),
        lit(0).as("timestampType"), col("symbol").cast("binary").as("key"),
        to_json(struct(lit("kraken").as("exchange"), col("symbol"),
          col("price"), col("size"), lit("buy").as("side"),
          lit("market").as("order_type"), col("ms").as("ts_event"),
          col("ms").as("ts_ingest"))).cast("binary").as("value"))
      .repartition(col("drop")).write.partitionBy("drop").parquet(rendered)
    val drops = (0 until nDrops)
      .filter(k => new java.io.File(s"$rendered/drop=$k").isDirectory)
      .map { k =>
        val name = f"drop-$k%02d.parquet"
        val part = new java.io.File(s"$rendered/drop=$k").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.move(part.toPath, Paths.get(staging, name))
        name
      }

    val qs = Seq(
      Streams.kafkaLikeToBronze(
        spark.readStream.schema(Schemas.kafka).parquet(landing), bronze,
        s"$root/ck1"),
      Streams.bronzeToSilver(spark, bronze, silver, s"$root/ck2"),
      Streams.silverToGold(spark, silver, gold, s"$root/ck3"))
    try {
      drops.foreach { name =>
        Files.move(Paths.get(staging, name), Paths.get(landing, name),
          StandardCopyOption.ATOMIC_MOVE)
        Thread.sleep(600)
      }
      val want = Gold.bars(Silver.dedup(Silver.projectToSilver(
          Bronze.fromKafkaLike(spark.read.schema(Schemas.kafka).parquet(landing)))))
        .filter(col("symbol") =!= Pipeline.SentinelSymbol)
      val wantRows = want.orderBy("symbol", "bar_start").collect().toSeq
      def got() = spark.read.parquet(gold)
        .filter(col("symbol") =!= Pipeline.SentinelSymbol)
        .select(want.columns.map(col).toSeq: _*)
      def landed(): Long =
        try got().count()
        catch { case _: org.apache.spark.sql.AnalysisException => 0L }
      val deadline = System.currentTimeMillis() + 90000L
      while (landed() < wantRows.size && qs.forall(_.isActive) &&
          System.currentTimeMillis() < deadline) Thread.sleep(200)
      qs.foreach(q => q.exception.foreach(e => fail(e)))

      val gotRows = got().orderBy("symbol", "bar_start").collect().toSeq
      val keys = gotRows.map(r => (r.getAs[String]("symbol"),
        r.getAs[java.sql.Timestamp]("bar_start")))
      assert(keys.distinct.size == keys.size, "a bar was emitted twice")
      assert(wantRows.size == 3 * 5) // 3 symbols × 5 minutes
      assert(gotRows == wantRows)

      // each downstream hop's first data batch starts within 500 ms of
      // the end of its upstream's first data batch, and the gold hop's
      // next batch (the one that runs on the watermark its first data
      // batch advanced) within 500 ms of that batch's end: both wake on
      // a commit. A shared 5 s clock makes a handoff ~4 s (the
      // downstream lists its source before the commit); the 1 s
      // fallback grid alone makes it 0.3-0.6 s.
      def batches(q: StreamingQuery) =
        q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
      def firstData(q: StreamingQuery) =
        batches(q).filter(_.numInputRows > 0).minBy(_.batchId)
      def startMs(p: StreamingQueryProgress) =
        java.time.Instant.parse(p.timestamp).toEpochMilli
      def gapMs(before: StreamingQueryProgress, after: StreamingQueryProgress) =
        startMs(after) - (startMs(before) + before.batchDuration)
      qs.zip(Seq("hop1", "hop2", "hop3")).sliding(2).foreach {
        case Seq((up, _), (down, hop)) =>
          val gap = gapMs(firstData(up), firstData(down))
          assert(gap <= 500L, s"$hop picked up $gap ms after its upstream")
      }
      val bars = firstData(qs(2))
      val flush = batches(qs(2)).find(_.batchId == bars.batchId + 1)
      assert(flush.nonEmpty, "hop3 ran no batch after its first data batch")
      val gap = gapMs(bars, flush.get)
      assert(gap <= 500L, s"hop3's flush batch started $gap ms after its data batch")

      // hop 1 ticks on the 2 s ingest clock: the drops land over ~8.4 s,
      // so it takes them in as at least 4 data batches (2-3 on a 5 s clock)
      val hop1Data = batches(qs.head).count(_.numInputRows > 0)
      assert(hop1Data >= 4, s"hop1 ran $hop1Data data batches while the drops landed")
    } finally qs.foreach(_.stop())
  }

  test("live bars sink upserts in-progress bars (update mode + dynamic overwrite)") {
    val silverDir = tmpDir("graft_silver_live")
    val goldDir = tmpDir("graft_gold_live")
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val silverBatch = Silver.dedup(Silver.projectToSilver(
      Bronze.fromKafkaLike(Bronze.kafkaWireFromEvents(events))))
    silverBatch.write.mode("overwrite").parquet(silverDir)

    val q = Streams.silverToGoldLive(spark, silverDir, goldDir,
      tmpDir("graft_ck_live"), trigger = Trigger.AvailableNow())
    q.awaitTermination()

    // update mode + per-bar overwrite => ALL bars visible, including the
    // last (never-finalized) ones, with exactly the batch values
    val expected = Gold.bars(silverBatch)
      .orderBy("symbol", "bar_start").collect().toSeq
    val cols = Gold.bars(silverBatch).columns
    val got = spark.read.parquet(goldDir)
      .select(cols.head, cols.tail: _*)
      .orderBy("symbol", "bar_start").collect().toSeq
    assert(got.size == expected.size)
    assert(got == expected)
  }

  test("hourly live sink: multi-batch read-merge-write equals batch recompute") {
    val silverDir = tmpDir("graft_silver_liveh")
    val goldDir = tmpDir("graft_gold_liveh")
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val silverBatch = Silver.dedup(Silver.projectToSilver(
      Bronze.fromKafkaLike(Bronze.kafkaWireFromEvents(events))))
    // 3 files -> 3 micro-batches: batch N+1 must merge into hour dirs
    // batch N wrote (replacing restated bars, keeping siblings). The
    // watermark is wider than the corpus span so no batch's rows are
    // late (files split randomly): late-data EVICTION is the
    // complementary semantics, tested above — this test isolates the
    // sink's cross-batch read-merge-write.
    silverBatch.repartition(3).write.mode("overwrite").parquet(silverDir)

    val q = Streams.silverToGoldLiveHourly(spark, silverDir, goldDir,
      tmpDir("graft_ck_liveh"), watermark = "45 days",
      trigger = Trigger.AvailableNow(), maxFilesPerTrigger = Some(1))
    q.awaitTermination()

    val expected = Gold.bars(silverBatch)
      .orderBy("symbol", "bar_start").collect().toSeq
    val cols = Gold.bars(silverBatch).columns
    val got = spark.read.parquet(goldDir)
      .select(cols.head, cols.tail: _*)
      .orderBy("symbol", "bar_start").collect().toSeq
    assert(got.size == expected.size)
    assert(got == expected)
    // and the dir churn is hour-granular: leaf dirs = touched
    // (bar_date, bar_hour) pairs, NOT one per bar
    val hourDirs = new java.io.File(goldDir).listFiles()
      .filter(_.isDirectory)
      .flatMap(_.listFiles()).count(_.isDirectory)
    val nBars = expected.size
    assert(hourDirs < nBars, s"hour dirs $hourDirs vs bars $nBars")
  }

  test("hourly live sink: full replay over existing state is a no-op") {
    // at-least-once discipline: re-draining the SAME silver with a
    // FRESH checkpoint (every batch replays) must leave the sink
    // bit-identical — the read-merge-write replaces each restated bar
    // with the same values, so replay is idempotent (the property the
    // tombstone/sketch hops pin for their state folds)
    val silverDir = tmpDir("graft_silver_liver")
    val goldDir = tmpDir("graft_gold_liver")
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val silverBatch = Silver.dedup(Silver.projectToSilver(
      Bronze.fromKafkaLike(Bronze.kafkaWireFromEvents(events))))
    silverBatch.repartition(2).write.mode("overwrite").parquet(silverDir)

    def drain(ck: String): Unit =
      Streams.silverToGoldLiveHourly(spark, silverDir, goldDir,
        tmpDir(ck), watermark = "45 days",
        trigger = Trigger.AvailableNow(), maxFilesPerTrigger = Some(1))
        .awaitTermination()
    drain("graft_ck_livera")
    val cols = Gold.bars(silverBatch).columns
    def sink() = spark.read.parquet(goldDir)
      .select(cols.head, cols.tail: _*)
      .orderBy("symbol", "bar_start").collect().toSeq
    val first = sink()
    drain("graft_ck_liverb") // fresh checkpoint => every batch replays
    assert(sink() == first)
  }

  test("compaction rewrites many small files into few, preserving rows") {
    val dir = tmpDir("graft_compact_in")
    val out = tmpDir("graft_compact_out")
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val silver = Silver.projectToSilver(
      Bronze.fromKafkaLike(Bronze.kafkaWireFromEvents(events)))
    // simulate micro-batch litter: 40 appends
    (0 until 40).foreach { i =>
      silver.where(col("offset") % 40 === i)
        .write.mode("append").partitionBy("event_date").parquet(dir)
    }
    def parquetFiles(d: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(d)).count(_.getName.endsWith(".parquet"))
    }
    val before = parquetFiles(dir)
    graft.operators.Maintenance.compact(spark, dir, out, Seq("event_date"))
    val after = parquetFiles(out)
    assert(after < before / 10, s"$before -> $after")
    assert(spark.read.parquet(out).count() == spark.read.parquet(dir).count())
  }

  test("backpressure: maxFilesPerTrigger splits AvailableNow into bounded batches") {
    val dir = tmpDir("graft_bp_in")
    val out = tmpDir("graft_bp_out")
    // three separate files in the source dir
    (0 until 3).foreach { i =>
      Seq((s"SYM_$i", 100.0 + i)).toDF("symbol", "price")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val stream = spark.readStream
      .schema("symbol STRING, price DOUBLE")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = stream.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", s"$out/_ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // all rows arrive, and the run took one micro-batch PER FILE —
    // the ingest-rate bound a 100 TB backfill relies on (without it,
    // AvailableNow would load the whole backlog into one giant batch)
    assert(spark.read.parquet(out).count() == 3)
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    assert(progress.length == 3, s"batches=${progress.length}")
    assert(progress.forall(_.numInputRows == 1))
  }

  test("schema evolution: mergeSchema reads old and new silver file generations") {
    val dir = tmpDir("graft_evolve")
    // generation 1: the original silver schema subset
    Seq(("BTC", 100.0)).toDF("symbol", "price")
      .write.mode("append").parquet(dir)
    // generation 2: a column added later (e.g. venue tagging rolled out)
    Seq(("ETH", 50.0, "kraken")).toDF("symbol", "price", "venue")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.schema.fieldNames.toSet == Set("symbol", "price", "venue"))
    val rows = merged.orderBy("symbol").collect()
    assert(rows.length == 2)
    // old rows surface the new column as NULL, not an error
    assert(rows.find(_.getString(0) == "BTC").get.getAs[String]("venue") == null)
    assert(rows.find(_.getString(0) == "ETH").get.getAs[String]("venue") == "kraken")
    // without mergeSchema Spark picks ONE footer; the union schema is
    // exactly what mergeSchema adds — document the knob's necessity
    val single = spark.read.parquet(dir)
    assert(single.schema.fieldNames.length <= 3)
  }

  test("sortForSkipping: every file covers a disjoint symbol range") {
    val dir = tmpDir("graft_skip_in")
    val out = tmpDir("graft_skip_out")
    Trades.fromEvents(Tables.events(spark, "/root/testdata/sf0.001"))
      .select("symbol", "event_time", "price", "size")
      .write.mode("overwrite").parquet(dir)
    graft.operators.Maintenance.sortForSkipping(spark, dir, out,
      Seq("symbol"), nFiles = 6)
    // row preservation
    assert(spark.read.parquet(out).count() == spark.read.parquet(dir).count())
    // per-file (min, max) symbol ranges must not overlap — that is what
    // lets parquet row-group stats prune a point query to ONE file
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length > 1)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("symbol")), max(col("symbol"))).collect().head
      (r.getString(0), r.getString(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"$hi1 > $lo2")
      case _ => ()
    }
  }

  test("partition values with '/' in symbol round-trip (escaped dirs)") {
    val dir = tmpDir("graft_part")
    val df = Seq(("XBT/USDT", 1.0), ("ETH-USD", 2.0)).toDF("symbol", "x")
    df.write.mode("overwrite").partitionBy("symbol").parquet(dir)
    val back = spark.read.parquet(dir).orderBy("x").collect()
    assert(back.map(_.getAs[String]("symbol")).toSeq == Seq("XBT/USDT", "ETH-USD"))
    // the directory itself is URL-escaped
    val dirs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("symbol="))
    assert(dirs.exists(_.contains("XBT%2FUSDT")))
  }

  test("rows later than the watermark are dropped by streaming dedup — T4 semantics") {
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[Trade]
    val q = Streams.dedupStreaming(in.toDF)
      .writeStream.format("memory").queryName("dedup_late").outputMode("append")
      .start()
    try {
      val t0 = trade("BTC", "2024-01-01 10:00:10", 100.0)
      in.addData(t0)
      q.processAllAvailable()
      // advance the watermark far past t0 (state for t0 evicted too)
      in.addData(trade("BTC", "2024-01-01 10:30:00", 101.0))
      q.processAllAvailable()
      in.addData(t0) // same key again, now beyond the watermark
      q.processAllAvailable()
      // the watermark filter drops late INPUT rows before the dedup
      // state op, so the late duplicate never re-emits: count stays 2
      assert(spark.table("dedup_late").count() == 2)
    } finally q.stop()
  }

  test("stream-stream interval join matches within the time bound only") {
    implicit val ctx = spark.sqlContext
    val buys = MemoryStream[Trade]
    val sells = MemoryStream[Trade]
    val q = Streams.matchOppositeSides(buys.toDF, sells.toDF)
      .writeStream.format("memory").queryName("matches").outputMode("append")
      .start()
    try {
      buys.addData(trade("BTC", "2024-01-01 10:00:00", 100.0))
      sells.addData(
        trade("BTC", "2024-01-01 10:00:30", 101.0), // within 1 min => match
        trade("BTC", "2024-01-01 10:05:00", 102.0), // too late => no match
        trade("ETH", "2024-01-01 10:00:10", 50.0))  // other symbol
      q.processAllAvailable()
      val m = spark.table("matches").collect()
      assert(m.length == 1)
      assert(m.head.getAs[String]("symbol") == "BTC")
      assert(m.head.getAs[Double]("sell_price") == 101.0)
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unmatched buys after watermark") {
    implicit val ctx = spark.sqlContext
    val buys = MemoryStream[Trade]
    val sells = MemoryStream[Trade]
    val q = Streams.matchOppositeSides(buys.toDF, sells.toDF,
        joinType = "left_outer")
      .writeStream.format("memory").queryName("outer_matches")
      .outputMode("append").start()
    try {
      // BTC buy with no sell inside its 1-minute window
      buys.addData(trade("BTC", "2024-01-01 10:00:00", 100.0))
      sells.addData(trade("ETH", "2024-01-01 10:00:10", 50.0))
      q.processAllAvailable()
      // nothing can be emitted yet: the buy's window is still open
      assert(!spark.table("outer_matches").collect()
        .exists(_.getAs[Double]("buy_price") == 100.0))
      // advance BOTH watermarks far past buy_time + within
      buys.addData(trade("BTC", "2024-01-01 10:30:00", 110.0))
      sells.addData(trade("ETH", "2024-01-01 10:30:00", 55.0))
      q.processAllAvailable()
      val unmatched = spark.table("outer_matches").collect()
        .filter(_.getAs[Double]("buy_price") == 100.0)
      assert(unmatched.length == 1)
      assert(unmatched.head.isNullAt(unmatched.head.fieldIndex("sell_time")))
      assert(unmatched.head.isNullAt(unmatched.head.fieldIndex("sell_price")))
    } finally q.stop()
  }

  test("batch banded interval join emits the same pairs as the stream-stream join") {
    implicit val ctx = spark.sqlContext
    // band-boundary cases: same band, next band at exactly 60s
    // (inclusive), next band inside bound, 61s (excluded), other symbol
    val rows = Seq(
      ("BTC", "buy", "2024-01-01 10:00:00", 100.0),
      ("BTC", "sell", "2024-01-01 10:00:59", 101.0),
      ("BTC", "sell", "2024-01-01 10:01:00", 102.0),
      ("BTC", "buy", "2024-01-01 10:01:30", 103.0),
      ("BTC", "sell", "2024-01-01 10:02:29", 104.0),
      ("BTC", "sell", "2024-01-01 10:02:31", 105.0),
      ("ETH", "sell", "2024-01-01 10:00:10", 50.0))
    val trades = rows.zipWithIndex.map { case ((s, sd, t, p), i) =>
      (i.toLong, s, ts(t), p, 1.0, sd)
    }.toDF("event_id", "symbol", "event_time", "price", "size", "side")
    val cols = Seq("symbol", "buy_time", "buy_price", "sell_time", "sell_price")
    val batch = graft.operators.IntervalJoin.pairs(trades)
      .select(cols.map(col): _*)
      .orderBy(cols.map(col): _*).collect().toSeq
    assert(batch.size == 3)
    val buys = MemoryStream[Trade]
    val sells = MemoryStream[Trade]
    val q = Streams.matchOppositeSides(buys.toDF, sells.toDF)
      .writeStream.format("memory").queryName("interval_parity")
      .outputMode("append").start()
    try {
      rows.foreach { case (s, sd, t, p) =>
        val tr = Trade("kraken", s, p, 1.0, sd, "market", ts(t))
        if (sd == "buy") buys.addData(tr) else sells.addData(tr)
      }
      q.processAllAvailable()
      val streamed = spark.table("interval_parity")
        .select(cols.map(col): _*)
        .orderBy(cols.map(col): _*).collect().toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming dedup runs on the RocksDB state store (scale path)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val ctx = spark.sqlContext
      val in = MemoryStream[Trade]
      val q = Streams.dedupStreaming(in.toDF)
        .writeStream.format("memory").queryName("dedup_rocks")
        .outputMode("append").start()
      try {
        val t0 = trade("BTC", "2024-01-01 10:00:10", 100.0)
        in.addData(t0, t0, trade("ETH", "2024-01-01 10:00:11", 50.0))
        q.processAllAvailable()
        in.addData(t0)
        q.processAllAvailable()
        assert(spark.table("dedup_rocks").count() == 2)
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream-static incremental dedup flags in flight, parity with batch") {
    implicit val ctx = spark.sqlContext
    val hist = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (1L, "some other historical content entirely unlike the rest here"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "completely novel streaming content sharing nothing with history"))
    val histSigs = Dedup.minhashSignatures(hist)

    val in = MemoryStream[(Long, String)]
    val q = Streams.incrementalDedupStream(
        in.toDF.toDF("doc_id", "text"), histSigs)
      .writeStream.format("memory").queryName("inc_dedup_stream")
      .outputMode("append").start()
    try {
      in.addData(delta: _*)
      q.processAllAvailable()
      val got = spark.table("inc_dedup_stream")
        .select("hist_doc", "delta_doc", "n_matching").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = Dedup.incrementalNearDups(histSigs,
          delta.toDF("doc_id", "text"))
        .select("hist_doc", "delta_doc", "n_matching")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got.nonEmpty && got == want)
    } finally q.stop()
  }

  test("stream-static split candidates: in-flight shingle + capped-" +
      "postings join matches the batch co-shingle hit set") {
    implicit val ctx = spark.sqlContext
    val hist = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (1L, "some other historical content entirely unlike the rest here"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (11L, "completely novel streaming content sharing nothing with history"))
    val histCapped = Dedup.cappedPostings(Dedup.shingled(hist))
      .localCheckpoint(true) // the frozen persisted join side

    val in = MemoryStream[(Long, String)]
    val q = Streams.splitCandidateStream(
        Dedup.shingled(in.toDF.toDF("doc_id", "text")), histCapped)
      .writeStream.format("memory").queryName("split_cand_stream")
      .outputMode("append").start()
    try {
      in.addData(delta: _*)
      q.processAllAvailable()
      val got = spark.table("split_cand_stream")
        .select("delta_doc", "hist_doc").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = Streams.splitCandidateStream(
          Dedup.shingled(delta.toDF("doc_id", "text")), histCapped)
        .select("delta_doc", "hist_doc").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.nonEmpty && got == want)
      // the near-dup delta doc hits its history twin, the novel one is
      // retrieval-silent
      assert(got.forall(_._1 == 10L) && got.exists(_._2 == 0L))
    } finally q.stop()
  }

  test("stream-static ANN assignment: streamed delta lands in the same cells as batch") {
    import graft.operators.Similarity
    implicit val ctx = spark.sqlContext
    // history: two tight clusters; quantizer trained on it and frozen
    val hist = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.1f), 0),
      (1L, Seq(0.0f, 0.1f, 1.0f, 0.0f), 1),
      (2L, Seq(0.9f, 0.05f, 0.0f, 0.1f), 0),
      (3L, Seq(0.05f, 0.1f, 0.95f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.kmeansCentroids(Similarity.normed(hist), k = 2)
    val delta = Seq(
      (10L, Seq(0.95f, 0.0f, 0.05f, 0.1f), 0),
      (11L, Seq(0.0f, 0.05f, 1.0f, 0.05f), 1))

    val in = MemoryStream[(Long, Seq[Float], Int)]
    val q = Streams.annAssignStream(
        in.toDF.toDF("vec_id", "embedding", "label"), cents)
      .writeStream.format("memory").queryName("ann_assign_stream")
      .outputMode("append").start()
    try {
      in.addData(delta: _*)
      q.processAllAvailable()
      val got = spark.table("ann_assign_stream")
        .select("vec_id", "cell")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val want = Similarity.assignCells(
          Similarity.normed(delta.toDF("vec_id", "embedding", "label")), cents)
        .select("vec_id", "cell")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got.nonEmpty && got == want)
    } finally q.stop()
  }

  test("stream-static exact dedup flags streamed byte-dups against the fp index") {
    implicit val ctx = spark.sqlContext
    val hist = Seq(0L -> "same exact text", 2L -> "same exact text",
      4L -> "other history content").toDF("doc_id", "text")
    val histFps = Dedup.exact(hist)
    val delta = Seq(10L -> "same exact text", 11L -> "novel streamed text")

    val in = MemoryStream[(Long, String)]
    val q = Streams.exactDedupStream(in.toDF.toDF("doc_id", "text"), histFps)
      .writeStream.format("memory").queryName("exact_dedup_stream")
      .outputMode("append").start()
    try {
      in.addData(delta: _*)
      q.processAllAvailable()
      val got = spark.table("exact_dedup_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set(10L -> 0L), s"got $got")
      // parity with the batch incremental check
      val want = Dedup.exactIncremental(histFps, delta.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("stream-static cluster attachment lands streamed docs in batch clusters") {
    implicit val ctx = spark.sqlContext
    // two history clusters (0,1) and (4,5); doc 7 unclustered
    val sameA = "the quick brown fox jumps over the lazy dog near the river bank"
    val sameB = "an entirely different boilerplate passage repeated across mirrors daily"
    val hist = Seq(0L -> sameA, 1L -> sameA, 4L -> sameB, 5L -> sameB,
      7L -> "a lone historical document matching nothing else in the corpus")
      .toDF("doc_id", "text")
    val histSigs = Dedup.minhashSignatures(hist)
    val histAssign = Dedup.clusters(Dedup.ngramJaccardPairs(hist))
    val delta = Seq(
      10L -> sameA, // attaches to cluster rep 0 (via 0 AND 1)
      11L -> sameB, // attaches to cluster rep 4
      12L -> "a lone historical document matching nothing else in the corpus",
      13L -> "fully novel streaming content attaching to no cluster at all")

    val in = MemoryStream[(Long, String)]
    val q = Streams.clusterAttachStream(
        in.toDF.toDF("doc_id", "text"), histSigs, histAssign)
      .writeStream.format("memory").queryName("cluster_attach_stream")
      .outputMode("append").start()
    try {
      in.addData(delta: _*)
      q.processAllAvailable()
      val got = spark.table("cluster_attach_stream")
        .select("doc_id", "cluster_rep").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // both members of each matched cluster map to ONE rep; the
      // unclustered history match attaches to the match itself
      assert(got == Set(10L -> 0L, 11L -> 4L, 12L -> 7L), s"got $got")
    } finally q.stop()
  }

  test("hourly live sink: fallback classifier accepts ONLY missing/empty sink") {
    import org.apache.spark.sql.AnalysisException
    // first-batch shapes: path not there yet / dir with no footers
    val missing = intercept[AnalysisException] {
      spark.read.parquet(s"/tmp/graft_not_here_${System.nanoTime()}")
    }
    assert(Streams.isMissingSinkError(missing), missing.getCondition)
    val emptyDir = java.nio.file.Files
      .createTempDirectory("graft_empty_sink_").toString
    val empty = intercept[AnalysisException] {
      spark.read.parquet(emptyDir).collect()
    }
    assert(Streams.isMissingSinkError(empty), empty.getCondition)
    // a REAL analysis failure on an existing sink must PROPAGATE —
    // falling back to empty there would let the dynamic overwrite
    // silently truncate every touched hour partition to just the delta
    val real = intercept[AnalysisException] {
      spark.range(1).select(org.apache.spark.sql.functions
        .col("no_such_column")).collect()
    }
    assert(!Streams.isMissingSinkError(real), real.getCondition)
  }

  test("stream-static bitext candidates: batch parity, merge at sink") {
    import graft.operators.Similarity
    implicit val ctx = spark.sqlContext
    val dims = 4
    // history: two es targets + one en source already indexed
    val histDocs = Seq(("h1", "es"), ("h2", "es"), ("h3", "en"))
      .toDF("doc_id", "lang")
    val histEmbs = Seq(
      ("h1", Seq(1.0f, 0.1f, 0.0f, 0.0f), 0),
      ("h2", Seq(0.0f, 0.1f, 1.0f, 0.0f), 1),
      ("h3", Seq(0.9f, 0.2f, 0.1f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val histBands = Similarity.bitextBands(histDocs, histEmbs, dims = dims)
      .localCheckpoint(true) // the frozen persisted index
    // delta: two en sources near the two targets + one fr doc the
    // src-lang filter must drop
    val delta = Seq(
      ("d1", "en", Seq(0.95f, 0.1f, 0.05f, 0.0f)),
      ("d2", "en", Seq(0.05f, 0.1f, 0.9f, 0.1f)),
      ("d3", "fr", Seq(0.5f, 0.5f, 0.5f, 0.0f)))

    val in = MemoryStream[(String, String, Seq[Float])]
    val q = Streams.bitextCandidateStream(
        in.toDF.toDF("vec_id", "lang", "embedding"), histBands,
        dims = dims)
      .writeStream.format("memory").queryName("bitext_cand_stream")
      .outputMode("append").start()
    try {
      in.addData(delta: _*)
      q.processAllAvailable()
      val landed = spark.table("bitext_cand_stream").distinct()
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      // merge-at-sink parity: history candidates ∪ landed delta
      // candidates == candidates off the refreshed (hist + delta
      // rowwise-banded) index — the same full-rebuild equivalence the
      // batch bitext_incremental query pins for the miner
      val refreshed = histBands.unionByName(Similarity.bitextBandsRowwise(
        delta.toDF("vec_id", "lang", "embedding"), dims = dims))
      val full = Similarity.bitextCandidates(refreshed, "en", "es")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val histOnly = Similarity.bitextCandidates(histBands, "en", "es")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(landed.nonEmpty)
      assert(landed.forall(_._1.startsWith("d")), s"non-delta src: $landed")
      assert(histOnly.union(landed) == full,
        s"merge-at-sink != full rebuild:\n  hist=$histOnly\n" +
        s"  landed=$landed\n  full=$full")
    } finally q.stop()
  }

  test("stream-static span dedup: flagged windows match batch, merge at sink") {
    import graft.operators.TextAnalysis
    implicit val ctx = spark.sqlContext
    val hist = Seq((0L, "h1 h2 h3 h4 h5 h6"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (10L, "n1 n2 h1 h2 h3 h4 h5 h6 n3"),
      (11L, "fully novel streaming content here"))
    val idx = TextAnalysis.spanShingleIndex(hist, k = 3)

    val in = MemoryStream[(Long, String)]
    val q = Streams.incrementalSpanStream(
        in.toDF.toDF("doc_id", "text"), idx, k = 3)
      .writeStream.format("memory").queryName("inc_span_stream")
      .outputMode("append").start()
    try {
      in.addData(delta: _*)
      q.processAllAvailable()
      val landed = spark.table("inc_span_stream")
      // sink-side compaction of the landed positions reproduces the
      // batch operator's spans exactly
      val got = TextAnalysis.mergeSpans(landed, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val want = TextAnalysis.incrementalSpans(idx,
          delta.toDF("doc_id", "text"), k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.nonEmpty && got.toSeq == want.toSeq)
    } finally q.stop()
  }

  test("bronze→silver hop + checkpointed restart run on RocksDB state store") {
    // SCALING.md names RocksDB as the cluster drop-in for
    // high-cardinality dedup state (off-heap, incremental-checkpoint);
    // this runs the REAL file-stream hop — watermark + dropDuplicates
    // state — plus the restart contract under that provider.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val bronzeDir = tmpDir("graft_bronze_rocks")
      val silverDir = tmpDir("graft_silver_rocks")
      val ck = tmpDir("graft_ck_rocks")
      val events = Tables.events(spark, "/root/testdata/sf0.001")
      val frame = Bronze.fromKafkaLike(Bronze.kafkaWireFromEvents(events))
      frame.limit(100).write.mode("overwrite").parquet(bronzeDir)

      val q1 = Streams.bronzeToSilver(spark, bronzeDir, silverDir, ck,
        trigger = Trigger.AvailableNow())
      q1.awaitTermination()
      val n1 = spark.read.parquet(silverDir).count()
      assert(n1 > 0)

      // restart on the SAME RocksDB checkpoint: no new files => no new
      // rows (committed batches are not reprocessed)
      val q2 = Streams.bronzeToSilver(spark, bronzeDir, silverDir, ck,
        trigger = Trigger.AvailableNow())
      q2.awaitTermination()
      assert(spark.read.parquet(silverDir).count() == n1)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("checkpointed restart does not reprocess committed batches") {
    val bronzeDir = tmpDir("graft_bronze2")
    val silverDir = tmpDir("graft_silver2")
    val ck = tmpDir("graft_ck3")
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val frame = Bronze.fromKafkaLike(Bronze.kafkaWireFromEvents(events))
    frame.limit(100).write.mode("overwrite").parquet(bronzeDir)

    val q1 = Streams.bronzeToSilver(spark, bronzeDir, silverDir, ck,
      trigger = Trigger.AvailableNow())
    q1.awaitTermination()
    val n1 = spark.read.parquet(silverDir).count()

    // restart with the same checkpoint: no new files => no new rows
    val q2 = Streams.bronzeToSilver(spark, bronzeDir, silverDir, ck,
      trigger = Trigger.AvailableNow())
    q2.awaitTermination()
    assert(spark.read.parquet(silverDir).count() == n1)
  }

  test("bt comparison stream: carry initial state is load-bearing and " +
      "per-user state spans micro-batches") {
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    implicit val ctx = spark.sqlContext
    def run(carryRows: Seq[BtInRow]): Map[(Long, String, String), Int] = {
      val carry = spark.createDataFrame(carryRows)
      val in = MemoryStream[BtInRow]
      val name = s"bt_cmp_test_${System.nanoTime()}"
      val q = Streams.btComparisonStream(spark, in.toDF(), carry)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        // batch 1: u10 sees (b, 2.0) — pairs with the CARRY (a, 1.0);
        //          u20 opens with (a, 1.0), no carry
        in.addData(BtInRow(2L, ts(1), 10L, "b", 2.0),
          BtInRow(3L, ts(1), 20L, "a", 1.0))
        q.processAllAvailable()
        // batch 2: u10 (a, 0.5) pairs with batch-1 state (b, 2.0);
        //          u20 (b, 1.0) ties with (a, 1.0) -> smaller type wins
        in.addData(BtInRow(4L, ts(2), 10L, "a", 0.5),
          BtInRow(5L, ts(2), 20L, "b", 1.0))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
    }
    val withCarry = run(Seq(BtInRow(1L, ts(0), 10L, "a", 1.0)))
    // boundary pair (carry a,1.0 vs b,2.0) + cross-batch pair + tie
    assert(withCarry == Map((10L, "b", "a") -> 2, (20L, "a", "b") -> 1),
      s"with carry: $withCarry")
    // dropping the carry loses EXACTLY the boundary comparison — the
    // initial state is load-bearing, not decorative
    val noCarry = run(Seq.empty)
    assert(noCarry == Map((10L, "b", "a") -> 1, (20L, "a", "b") -> 1),
      s"without carry: $noCarry")
  }

  test("bt comparison stream: a duplicate carry row fails loudly") {
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    implicit val ctx = spark.sqlContext
    val dup = spark.createDataFrame(Seq(
      BtInRow(1L, ts(0), 10L, "a", 1.0), BtInRow(2L, ts(0), 10L, "b", 2.0)))
    val in = MemoryStream[BtInRow]
    val q = Streams.btComparisonStream(spark, in.toDF(), dup)
      .writeStream.format("memory")
      .queryName(s"bt_cmp_dup_${System.nanoTime()}")
      .outputMode("append").start()
    try {
      in.addData(BtInRow(3L, ts(1), 10L, "c", 3.0))
      // two initial-state rows for one key: the API itself refuses —
      // the streaming mirror of btIncremental's carry require
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(10000)
      }
      ()
    } finally q.stop()
  }
}

/** Input row shape for the BT comparison-stream specs (file-scope: a
  * spec-class-nested case class would capture an outer pointer and
  * break the product encoder).
  */
case class BtInRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
