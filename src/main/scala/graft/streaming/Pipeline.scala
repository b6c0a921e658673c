package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{Schemas, Tables}
import graft.operators.Bronze

/** End-to-end streaming parity: the full three-hop pipeline (wire →
  * bronze → silver → gold) run through the REAL file-stream queries
  * (AvailableNow), then the gold sink read back as a batch table. The
  * `pipeline_gold_e2e` CORRECTNESS entry compares this against the
  * DuckDB bars oracle — converting the per-hop streaming tests into one
  * oracle-backed whole-pipeline guarantee (reference
  * scripts/collect_data.sh runs the same three jobs back to back).
  *
  * Two deliberate semantics:
  *  - The wire serializes event time as ms epochs
  *    (kraken_trades_ws.py:101), so everything downstream of the wire is
  *    ms-truncated; the oracle truncates the same way (silver_parse
  *    semantics), NOT the µs batch-trades shape.
  *  - Append-mode bars emit only when the watermark passes bar_end, and
  *    the watermark never advances past the last real event — so the gen
  *    step plants one SENTINEL wire row 10 minutes after the last trade.
  *    It drags the watermark past every real bar_end (flushing them to
  *    the sink) while its own in-progress bar stays in state; the batch
  *    read filters the sentinel symbol defensively.
  */
object Pipeline {

  val SentinelSymbol = "ZZ_WM_FLUSH"

  /** Staging trees awaiting JVM-exit cleanup. The returned frame reads
    * the gold sink lazily, so each invocation's dirs must outlive the
    * call — but ONE shared shutdown hook reclaims all of them (a hook
    * per invocation would accumulate hook registrations across repeated
    * runs in one process, e.g. graft.Time or test reruns).
    */
  private val stagingDirs =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[java.nio.file.Path]())
  locally {
    sys.addShutdownHook {
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
      }
      stagingDirs.forEach(p => rm(p.toFile))
    }
    ()
  }

  def goldE2E(spark: SparkSession, dir: String): DataFrame = {
    val basePath = Files.createTempDirectory("graft_e2e_")
    val base = basePath.toString
    stagingDirs.add(basePath)
    val landing = s"$base/landing"
    val bronzeDir = s"$base/bronze"
    val silverDir = s"$base/silver"
    val goldDir = s"$base/gold"

    // gen: wire-format landing files + the watermark-flush sentinel
    val events = Tables.events(spark, dir)
    val wire = Bronze.kafkaWireFromEvents(events)
    val maxTs = events.agg(max(col("ts"))).head.getTimestamp(0)
    val flushTs = new java.sql.Timestamp(maxTs.getTime + 10 * 60 * 1000)
    val sentinel = spark.range(1).select(
      lit("crypto.trades").as("topic"),
      lit(0).cast("int").as("partition"),
      lit(-1L).as("offset"),
      lit(flushTs).as("timestamp"),
      lit(0).as("timestampType"),
      lit(SentinelSymbol).cast("binary").as("key"),
      to_json(struct(
        lit("kraken").as("exchange"), lit(SentinelSymbol).as("symbol"),
        lit(1.0).as("price"), lit(1.0).as("size"),
        lit("buy").as("side"), lit("limit").as("order_type"),
        lit(flushTs.getTime).as("ts_event"),
        lit(flushTs.getTime).as("ts_ingest"))).cast("binary").as("value"))
    wire.unionByName(sentinel).write.mode("overwrite").parquet(landing)

    // the three hops, each drained to completion (AvailableNow)
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(
        f"[pipeline] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    // dev-only per-hop attribution (SPARK_GRAFT_STREAM_PROFILE=1):
    // dump every micro-batch's StreamingQueryProgress JSON — durationMs
    // (addBatch/commitOffsets/walCommit/latestOffset) and stateOperators
    // (commit times, rows) — the evidence for which fixed cost dominates
    // a hop. Off on the bench/driver path (env unset → zero behavior
    // change; awaitTermination is what the hop already did).
    def drained(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      q.awaitTermination()
      if (sys.env.contains("SPARK_GRAFT_STREAM_PROFILE"))
        q.recentProgress.foreach(p =>
          System.err.println(s"[progress] ${p.json}"))
    }
    val an = Trigger.AvailableNow()
    // Fewer shuffle/state partitions for the streaming hops: each
    // stateful operator keeps one state store per shuffle partition,
    // and every micro-batch commits every store — at this volume the
    // 32-store fixed cost (dirs, delta files, commits) dominates the
    // actual row work. 8 stores cut that fixed cost ~4× with identical
    // results (dedup/agg are partition-count independent). On a real
    // cluster this knob is sized to state volume, not CPU count.
    val origShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try HarnessGuard.scope(spark, "pipeline_gold_e2e") {
      timed("hop1 wire->bronze")(drained(Streams.kafkaLikeToBronze(
        spark.readStream.schema(Schemas.kafka).parquet(landing),
        bronzeDir, s"$base/ck1", trigger = an)))
      timed("hop2 bronze->silver")(drained(Streams.bronzeToSilver(spark,
        bronzeDir, silverDir, s"$base/ck2", trigger = an)))
      // date-only gold partitioning: the harness has 1356 symbols, far past
      // the point where per-symbol dirs make sense (see silverToGold's
      // partitionCols note); parity is about bar CONTENT, and the
      // (bar_date, symbol) layout incl. `/`-escaping is round-trip tested
      // in StreamingSpec at small scale.
      timed("hop3 silver->gold")(drained(Streams.silverToGold(spark,
        silverDir, goldDir, s"$base/ck3", trigger = an,
        partitionCols = Seq("bar_date"))))
    } finally spark.conf.set("spark.sql.shuffle.partitions", origShuffle)

    spark.read.parquet(goldDir)
      .filter(col("symbol") =!= SentinelSymbol)
      .select(col("symbol"), col("bar_start"), col("bar_end"), col("open"),
        col("high"), col("low"), col("close"), col("volume"), col("vwap"),
        col("trades"), col("bar_date"))
      .orderBy(col("symbol"), col("bar_start"))
  }

  /** Corpus-side end-to-end streaming parity — the documents curation
    * pipeline run through REAL file-stream queries, the training-data
    * twin of [[goldE2E]]. The salted 20% delta lands as parquet files;
    * hop 1 applies the in-row quality gate (map-only, stateless); hop 2
    * signs each surviving doc row-wise and flags near-dups against the
    * PERSISTED history signature index (stream-static band join,
    * stateless); the ship step is the sink-side compaction — survivors
    * = quality-passed docs minus flagged ones, the streaming
    * [[graft.operators.Dedup.incrementalApply]]. The
    * `pipeline_corpus_e2e` CORRECTNESS entry compares the shipped list
    * against the DuckDB mirror of qualityFilter ∘ incremental flag —
    * one oracle-backed guarantee over the whole streaming corpus path.
    *
    * Unlike the trades pipeline there is NO watermark machinery: every
    * stage is stateless (dedup state is the index TABLE, scaling with
    * the corpus instead of executor state), so AvailableNow drains
    * everything and a sentinel row is unnecessary. `maxFilesPerTrigger`
    * forces multiple micro-batches so the drain exercises real
    * incremental progress, not one big batch.
    */
  def corpusE2E(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, TextAnalysis}
    val basePath = Files.createTempDirectory("graft_ce2e_")
    val base = basePath.toString
    stagingDirs.add(basePath)
    val landing = s"$base/landing"
    val indexDir = s"$base/sig_index"
    val silverDir = s"$base/silver"
    val flagsDir = s"$base/flags"

    val docs = Tables.documents(spark, dir)
    val isHist = pmod(graft.functions.TextFunctions.hash60(
      concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
    // the "nightly" state: history signature index persisted once;
    // history text is never read by the streaming side
    Dedup.minhashSignatures(docs.filter(isHist))
      .write.mode("overwrite").parquet(indexDir)
    val histSigsT = spark.read.parquet(indexDir)
    docs.filter(!isHist).select(col("doc_id"), col("text"))
      .repartition(4).write.mode("overwrite").parquet(landing)

    val an = Trigger.AvailableNow()
    val inSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val silverSchema = inSchema.add("quality_score",
      org.apache.spark.sql.types.DoubleType)
    HarnessGuard.scope(spark, "pipeline_corpus_e2e") {
      // hop 1: landing -> quality-passed silver docs (in-row gate)
      Streams.parquetSink(
        spark.readStream.schema(inSchema)
          .option("maxFilesPerTrigger", 2).parquet(landing)
          .select(col("doc_id"), col("text"),
            TextAnalysis.qualityScoreCol.as("quality_score"))
          .filter(col("quality_score") >= 0.35),
        silverDir, s"$base/ck1", trigger = an)
        .start().awaitTermination()
      // hop 2: silver -> near-dup flags vs the persisted index
      Streams.parquetSink(
        Streams.incrementalDedupStream(
          spark.readStream.schema(silverSchema)
            .option("maxFilesPerTrigger", 2).parquet(silverDir),
          histSigsT),
        flagsDir, s"$base/ck2", trigger = an)
        .start().awaitTermination()
    }
    // ship: sink-side compaction — quality survivors minus flagged
    // (explicit schema like the flags read: if no delta doc passed the
    // quality gate the sink has no data files and inference would fail)
    val silver = spark.read.schema(silverSchema).parquet(silverDir)
    val flagged = spark.read.schema(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("hist_doc",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("delta_doc",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_matching",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("est_jaccard",
          org.apache.spark.sql.types.DoubleType))))
      .parquet(flagsDir)
      .select(col("delta_doc").as("doc_id"))
    silver.join(flagged, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Streaming late-data restatement — the continuous form of
    * [[graft.operators.Gold.restateBars]]: a persisted, bar_date-
    * partitioned MERGEABLE bar-state table (Gold.barState) is the
    * nightly gold tier; late/corrected trades arrive as a file stream
    * and each micro-batch folds its delta state into the table via
    * foreachBatch + DYNAMIC partition overwrite — only the bar_date
    * partitions the batch touches are rewritten, everything else is
    * untouched files. `maxFilesPerTrigger` forces multiple micro-batches
    * so the drain exercises real accumulation (batch N+1 merges into
    * state that batch N already restated). The `pipeline_restate_e2e`
    * CORRECTNESS entry reads the final state back, finalizes, and
    * compares against the full-recompute DuckDB bars oracle — streaming
    * restatement must be bit-identical to rebuilding from scratch.
    *
    * Exactly-once caveat, stated honestly: the merge is NOT
    * replay-idempotent (re-merging an already-applied delta would
    * double-count). AvailableNow + checkpoint gives effectively-once
    * here; a production deployment puts a transactional table format
    * (Delta/Iceberg MERGE) or a batch-id high-watermark column under
    * the same plan — the state/merge algebra is unchanged.
    */
  def restateE2E(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Gold, Trades}
    val basePath = Files.createTempDirectory("graft_re2e_")
    val base = basePath.toString
    stagingDirs.add(basePath)
    val landing = s"$base/landing"
    val stateDir = s"$base/bar_state"

    val trades = Trades.fromEvents(Tables.events(spark, dir))
    val isOnTime = pmod(graft.functions.TextFunctions.hash60(
      concat(lit("late_"), col("event_id"))), lit(100)) < 98
    // nightly state: on-time bars persisted as mergeable state,
    // partitioned by bar_date (the partition-pruning key at scale);
    // repartition on the partition column first — without it every
    // task writes a file into every date dir (the silver hop's
    // write-amplification note, applied here too)
    Gold.normalizeState(Gold.barState(trades.filter(isOnTime)))
      .withColumn("bar_date", to_date(col("bar_start")))
      .repartition(col("bar_date"))
      .write.partitionBy("bar_date").mode("overwrite").parquet(stateDir)
    // the late delta lands as files; 3 files → 3 micro-batches
    val lateCols = trades.filter(!isOnTime)
      .select(col("symbol"), col("event_time"), col("price"), col("size"))
    lateCols.repartition(3).write.mode("overwrite").parquet(landing)

    HarnessGuard.scope(spark, "pipeline_restate_e2e") {
      val q = spark.readStream.schema(lateCols.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
        .writeStream
        .option("checkpointLocation", s"$base/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (delta: DataFrame, _: Long) =>
          try {
            val deltaState = Gold.barState(delta)
            val touchedDates = deltaState
              .select(to_date(col("bar_start")).as("bar_date")).distinct()
            val hist = spark.read.parquet(stateDir)
            val histTouched = hist
              .join(broadcast(touchedDates), Seq("bar_date"), "left_semi")
              .drop("bar_date")
            // INVARIANT: the merged state is read FROM stateDir and
            // written back TO stateDir in this same batch — the EAGER
            // localCheckpoint(true) must fully materialize the merge
            // BEFORE mode("overwrite") deletes the files it read, or
            // the overwrite silently truncates state to the delta.
            val merged = Gold.normalizeState(
                Gold.mergeBarStates(histTouched, deltaState))
              .withColumn("bar_date", to_date(col("bar_start")))
              .localCheckpoint(true)
            merged.repartition(col("bar_date"))
              .write.partitionBy("bar_date").mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .parquet(stateDir)
            ()
          } catch { case e: Throwable =>
            HarnessGuard.record(s"restate foreachBatch failed: $e")
            throw e
          }
        }
        .start()
      q.awaitTermination()
    }

    Gold.finalizeBars(spark.read.parquet(stateDir).drop("bar_date"))
      .orderBy(col("symbol"), col("bar_start"))
  }

  /** Streaming takedown — the tombstone twin of [[restateE2E]]: the
    * persisted signature index plus its add-ledger are the nightly
    * state; takedown requests arrive as a REAL file stream and each
    * AvailableNow micro-batch appends O(delta) DEL tombstones to the
    * membership ledger ([[graft.operators.Lifecycle]]'s merge-on-read
    * posture — the payload index is never rewritten on the takedown
    * path). The `pipeline_retire_e2e` CORRECTNESS entry reconstructs
    * the index as of the takedown batch and compares it against the
    * DuckDB ledger fold — the streaming tombstone path must agree with
    * the batch time-travel semantics exactly.
    *
    * All streamed dels carry the same LEDGER batch (4, after the 0–3
    * add batches): which micro-batch a given request lands in is a
    * file-assignment accident, while the ledger fold must be
    * deterministic — at-least-once replay of a tombstone is also
    * naturally idempotent under the argmax fold (same (doc, batch, op)
    * row twice folds to the same answer), which is exactly why
    * takedowns stream safely where [[restateE2E]]'s merge needed its
    * exactly-once caveat.
    */
  def retireE2E(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Lifecycle}
    val basePath = Files.createTempDirectory("graft_te2e_")
    val base = basePath.toString
    stagingDirs.add(basePath)
    val landing = s"$base/takedowns"
    val indexDir = s"$base/sig_index"
    val ledgerDir = s"$base/ledger"

    val docs = Tables.documents(spark, dir)
    // nightly state: payload index + add-ledger persisted once
    Dedup.minhashSignatures(docs).write.mode("overwrite").parquet(indexDir)
    docs.select(col("doc_id"),
        pmod(graft.functions.TextFunctions.hash60(
          concat(lit("b_"), col("doc_id"))), lit(4)).cast("int")
          .as("batch_id"),
        lit("add").as("op"))
      .write.mode("overwrite").parquet(ledgerDir)
    // takedown requests land as files; 2 files → 2 micro-batches
    val isRet = pmod(graft.functions.TextFunctions.hash60(
      concat(lit("ret_"), col("doc_id"))), lit(100)) >= 90
    docs.filter(isRet).select(col("doc_id"))
      .repartition(2).write.mode("overwrite").parquet(landing)

    val idSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    HarnessGuard.scope(spark, "pipeline_retire_e2e") {
      val q = spark.readStream.schema(idSchema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
        .writeStream
        .option("checkpointLocation", s"$base/ck")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (delta: DataFrame, _: Long) =>
          try {
            Lifecycle.delBatch(delta, 4)
              .write.mode("append").parquet(ledgerDir)
            ()
          } catch { case e: Throwable =>
            HarnessGuard.record(s"retire foreachBatch failed: $e")
            throw e
          }
        }
        .start()
      q.awaitTermination()
    }

    Lifecycle.indexAsOf(spark.read.parquet(indexDir),
        spark.read.parquet(ledgerDir), asOfBatch = 4)
      .orderBy(col("doc_id"))
  }

  /** LIVE bars, oracle-gated end to end — the one reference behavior
    * variant append mode can't serve (silver_to_gold_bars.py's
    * freshness alternative): [[Streams.silverToGoldLive]] runs
    * update-mode aggregation + per-bar dynamic-overwrite upserts over a
    * real silver file stream, so IN-PROGRESS bars are queryable
    * immediately (append mode publishes a bar only once the watermark
    * passes bar_end — correct but minutes stale, and the final bars
    * never publish at all without a flush sentinel). After the drain,
    * every bar — including the never-finalized last bar per symbol —
    * must carry exactly the batch-recompute values; the
    * `bars_live_e2e` CORRECTNESS entry hash-matches the read-back sink
    * against the ms-truncated bars oracle. StreamingSpec covers the
    * controlled multi-batch upsert sequence; this entry pins the
    * whole-corpus values.
    */
  def liveBarsE2E(spark: SparkSession, dir: String,
                  hourly: Boolean = false): DataFrame = {
    import graft.operators.{Bronze, Gold, Silver}
    val basePath = Files.createTempDirectory("graft_le2e_")
    val base = basePath.toString
    stagingDirs.add(basePath)
    val silverDir = s"$base/silver"
    val goldDir = s"$base/gold"

    // the LIVE TAIL only — the last 6 h of event time, cut on a minute
    // boundary so bars-from-filtered-trades ≡ full bars with
    // bar_start >= cut (every trade of an included bar is >= the cut).
    // The per-bar upsert sink is the freshness surface for the live
    // tail; pointing it at the WHOLE corpus means one partition dir per
    // historical bar (~100k dirs at sf0.1, measured 577 s) — that is
    // the append table's job. Deployment sizes the tail to the
    // watermark/consumer lag, not the corpus span.
    val full = Silver.dedup(Silver.projectToSilver(
      Bronze.fromKafkaLike(Bronze.kafkaWireFromEvents(
        Tables.events(spark, dir)))))
    val maxTs = full.agg(max(col("event_time"))).head.getTimestamp(0)
    val cutMs = (maxTs.getTime / 60000L) * 60000L - 6L * 3600 * 1000
    val cut = new java.sql.Timestamp(cutMs)
    val silverBatch = full.filter(col("event_time") >= lit(cut))
    silverBatch.write.mode("overwrite").parquet(silverDir)

    val origShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try HarnessGuard.scope(spark, "bars_live_e2e") {
      val q =
        if (hourly) Streams.silverToGoldLiveHourly(spark, silverDir,
          goldDir, s"$base/ck", trigger = Trigger.AvailableNow())
        else Streams.silverToGoldLive(spark, silverDir, goldDir,
          s"$base/ck", trigger = Trigger.AvailableNow())
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", origShuffle)

    val cols = Gold.bars(silverBatch).columns
    spark.read.parquet(goldDir)
      .select(cols.head, cols.tail: _*)
      .orderBy(col("symbol"), col("bar_start"))
  }

  /** Streaming sketch hop — KMV k-min sets and HLL registers folded per
    * micro-batch into persisted MERGEABLE state, the sketch twin of
    * [[restateE2E]]'s bar-state discipline: events arrive as a REAL
    * file stream, each AvailableNow micro-batch computes its delta
    * sketch and folds it into the state table (register-wise max for
    * HLL, k-min re-cap for KMV — both exactly associative AND
    * idempotent, so at-least-once replay is safe without the restate
    * hop's exactly-once caveat). State is sketch-sized (≤ k + m rows
    * per group), never corpus-sized — the 100 TB property. The
    * `sketch_stream_e2e` CORRECTNESS entry reads the final state,
    * derives both estimates, and compares against the direct batch
    * sketch oracle — stream-folded state must be bit-identical to the
    * one-shot sketch (the merge laws sketch_kmv_merge/sketch_hll_merge
    * assert in batch, proven here through a real streaming hop).
    */
  def sketchE2E(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    import graft.functions.TextFunctions.hash60
    val basePath = Files.createTempDirectory("graft_se2e_")
    val base = basePath.toString
    stagingDirs.add(basePath)
    val landing = s"$base/landing"
    val kmvDir = s"$base/kmv_state"
    val hllDir = s"$base/hll_state"
    val k = 64

    Tables.events(spark, dir).select(col("event_type"), col("user_id"))
      .repartition(3).write.mode("overwrite").parquet(landing)

    val inSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType)))
    val kmvSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("h",
        org.apache.spark.sql.types.LongType)))
    val hllSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("idx",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("reg",
        org.apache.spark.sql.types.IntegerType)))
    // the first fold reads EMPTY state dirs (schema given explicitly):
    // create them before the stream can fire its first batch
    new java.io.File(kmvDir).mkdirs()
    new java.io.File(hllDir).mkdirs()
    // the whole start+drive runs INSIDE the guard scope (like every
    // other e2e here): with AvailableNow the first micro-batch can
    // fire before awaitTermination, and starting outside the scope
    // would miss or mis-label its failures in a fresh JVM
    HarnessGuard.scope(spark, "sketch_stream_e2e") {
    val q = spark.readStream.schema(inSchema)
      .option("maxFilesPerTrigger", 1).parquet(landing)
      .writeStream
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (delta: DataFrame, _: Long) =>
        try {
          // KMV fold: state ∪ delta hashes → k smallest per group.
          // INVARIANT (both folds): the new state is read FROM its
          // state dir and written back TO the same dir within this
          // batch — the EAGER localCheckpoint(true) must materialize
          // the fold BEFORE mode("overwrite") deletes the files it
          // read; dropping the eager flag silently truncates state.
          val dHashes = delta.select(col("event_type"),
            hash60(concat(lit("kmv_"), col("user_id"))).as("h"))
          val kmvState = spark.read.schema(kmvSchema).parquet(kmvDir)
          Sketches.kmvStateFold(kmvState.unionByName(dHashes),
              Seq("event_type"), k)
            .localCheckpoint(true)
            .write.mode("overwrite").parquet(kmvDir)
          // HLL fold: register-wise max of state ∪ delta registers
          // (same read-materialize-then-overwrite invariant as above)
          val dRegs = Sketches.hllRegisters(delta, Seq("event_type"),
            col("user_id"), 8, "hll_")
            .select(col("event_type"), col("idx"), col("reg").cast("int")
              .as("reg"))
          val hllState = spark.read.schema(hllSchema).parquet(hllDir)
          hllState.unionByName(dRegs)
            .groupBy(col("event_type"), col("idx"))
            .agg(max(col("reg")).as("reg"))
            .localCheckpoint(true)
            .write.mode("overwrite").parquet(hllDir)
          ()
        } catch { case e: Throwable =>
          HarnessGuard.record(s"sketch foreachBatch failed: $e")
          throw e
        }
      }
      .start()
    q.awaitTermination()
    }

    val kmvEst = Sketches.kmvEstimateFromState(
      spark.read.schema(kmvSchema).parquet(kmvDir), Seq("event_type"), k)
    val hllEst = graft.operators.Sketches.hllReport(
      spark.read.schema(hllSchema).parquet(hllDir)
        .select(col("event_type"), col("idx"), col("reg")),
      Seq("event_type"), 8)
    kmvEst.join(hllEst, Seq("event_type"))
      .select(col("event_type"), col("kmv_est"), col("hll_est"),
        col("v_zero"), col("s_scaled"))
      .orderBy(col("event_type"))
  }

  /** Stream-stream interval join, oracle-gated end to end: buys and
    * sells land as REAL file streams (two sources into one streaming
    * query), flow through [[Streams.matchOppositeSides]] with its
    * event-time range condition, and the matched pairs stream into a
    * parquet sink in append mode. The sink is read back and aggregated
    * per buy — the exact `interval_buy_sells` result shape, so the
    * `pipeline_join_e2e` CORRECTNESS entry hash-matches the batch
    * interval-join oracle: the streaming join must produce precisely
    * the pairs the banded batch join produces.
    *
    * The sell side lands as 2 files drained one per micro-batch
    * (`maxFilesPerTrigger`), so the second batch joins against BUY
    * STATE buffered in the first — real cross-batch stream-stream
    * state at the minimum batch count that exercises it (a
    * stream-stream join keeps FOUR state stores per shuffle partition,
    * so batches × partitions is the fixed-cost product to keep small).
    * The watermark is set wider than the corpus time-span, which makes
    * the drain order-independent (no row is ever late, no state is
    * evicted before its partner arrives) — completeness is what the
    * oracle checks. Tight-watermark semantics (eviction, late drops,
    * bounded state) are the COMPLEMENTARY property, covered by
    * StreamingSpec's controlled multi-batch cases; at 100 TB the
    * watermark is the knob that bounds join state, sized to the
    * real-world disorder bound, not the corpus span.
    */
  /** ER nightly-delta hop, oracle-gated end to end: the B-side delta
    * lands as a REAL file stream (2 files drained one per micro-batch
    * via `maxFilesPerTrigger` — real multi-batch execution), joins the
    * PERSISTED master blocking index stream-static
    * ([[Streams.erCandidateStream]], fully stateless), and the
    * candidate pairs stream into an append parquet sink through a
    * real AvailableNow lifecycle. The sink is read back,
    * de-duplicated (a pair colliding on both blocking passes lands
    * twice), and scored with u probabilities FROZEN on the resolved
    * history — the sink-side compaction. The result hash-matches the
    * batch `er_incremental` oracle exactly (same CTE chain), because
    * the delta's rowwise keys joined against the capped master
    * postings retrieve the same pairs as the batch blocking whenever
    * the delta-side caps don't bind (they are delta-batch-local by
    * construction).
    */
  def erE2E(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.EntityResolution
    val basePath = Files.createTempDirectory("graft_ere2e_")
    val base = basePath.toString
    stagingDirs.add(basePath)
    val deltaDir = s"$base/delta"
    val candDir = s"$base/cand"

    val c = Tables.customer(spark, dir)
    val a = EntityResolution.sourceA(c)
    val b = EntityResolution.sourceB(c)
    val splitH = graft.functions.TextFunctions.hash60(
      concat(lit("er_inc_"), col("rec_id").cast("string"))) % 100
    val bHist = b.filter(splitH < 80)
    val bDelta = b.filter(splitH >= 80)
    // equality with the er_incremental oracle requires the batch
    // oracle's delta-local B-side caps NOT to bind (the streamed leg
    // applies rowwise keys with no delta-side cap) — assert the
    // precondition so a corpus-size bump fails with a diagnosable
    // message instead of a hash mismatch (1-row max fold)
    val maxBlock = EntityResolution.blockKeysRowwise(bDelta)
      .groupBy(col("bkey")).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head().getLong(0)
    require(maxBlock <= EntityResolution.MasterCap,
      s"er e2e precondition broken: delta-side block size $maxBlock " +
        s"exceeds MasterCap ${EntityResolution.MasterCap} — the batch " +
        "oracle's delta-local cap would bind and the streamed (uncapped " +
        "rowwise) leg would diverge; shrink the delta split or raise the cap")
    bDelta.repartition(2).write.mode("overwrite").parquet(deltaDir)
    val masterIdx = EntityResolution.masterIndex(a).localCheckpoint(true)

    val origShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try HarnessGuard.scope(spark, "pipeline_er_e2e") {
      val dStream = spark.readStream.schema(bDelta.schema)
        .option("maxFilesPerTrigger", 1).parquet(deltaDir)
      val q = Streams.erCandidateStream(dStream, masterIdx)
        .writeStream
        .format("parquet")
        .option("path", candDir)
        .option("checkpointLocation", s"$base/ck")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", origShuffle)

    EntityResolution.scoreDeltaCandidates(
        spark.read.parquet(candDir).distinct(), a, bDelta, bHist)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Split-family nightly-delta hop, oracle-gated end to end — the one
    * lifecycle hop the newest (round-14) family lacked: a delta of raw
    * documents lands as a REAL file stream (2 files drained one per
    * micro-batch) and flows through TWO AvailableNow hops —
    *
    *  1. ingest: delta text → (doc_id, shingle) rows
    *     ([[graft.operators.Dedup.shingled]], map-only) appended to
    *     the delta posting sink — text is shingled exactly once, at
    *     ingest, never again;
    *  2. retrieval: the landed delta postings stream-static joined
    *     against the persisted DF-CAPPED history postings
    *     ([[Streams.splitCandidateStream]]) — the co-shingle candidate
    *     hits a monitoring/triage consumer reads continuously.
    *
    * The sink-side compaction
    * ([[graft.operators.Dedup.clusterSafeSplitIncrementalFromPostings]])
    * folds the LANDED delta postings into the persisted
    * postings/assignment/split tables under the eval-integrity
    * promotion rule (merged groups move into train, never into test)
    * and must hash-match the batch `cluster_safe_split_incremental`
    * oracle exactly — streaming ingest must not change a single fold.
    * Two cheap landed-state gates make drift diagnosable before the
    * hash: ingest completeness (the landed posting multiset equals a
    * direct shingle pass over the delta) and non-empty retrieval.
    */
  def splitE2E(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val basePath = Files.createTempDirectory("graft_se2e_")
    val base = basePath.toString
    stagingDirs.add(basePath)
    val landing = s"$base/landing"
    val postDir = s"$base/hist_postings"
    val cappedDir = s"$base/hist_capped"
    val assignDir = s"$base/hist_assign"
    val splitDir = s"$base/hist_split"
    val deltaPostDir = s"$base/delta_postings"
    val candDir = s"$base/cand"

    val docs = Tables.documents(spark, dir)
    val isHist = pmod(graft.functions.TextFunctions.hash60(
      concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
    val hist = docs.filter(isHist)
    val delta = docs.filter(!isHist).select(col("doc_id"), col("text"))
    // the "nightly" state, persisted once: shingle postings (history
    // text is never re-read), the df-capped join side, the cluster
    // assignment (derived FROM the persisted postings), and the split
    Dedup.shingled(hist).write.mode("overwrite").parquet(postDir)
    val histPostings = spark.read.parquet(postDir)
    Dedup.cappedPostings(histPostings)
      .write.mode("overwrite").parquet(cappedDir)
    Dedup.clusters(Dedup.ngramJaccardPairsFromPostings(histPostings))
      .write.mode("overwrite").parquet(assignDir)
    val histAssign = spark.read.parquet(assignDir)
    Dedup.clusterSafeSplitFromAssign(hist, histAssign)
      .write.mode("overwrite").parquet(splitDir)
    delta.repartition(2).write.mode("overwrite").parquet(landing)

    val an = Trigger.AvailableNow()
    val inSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val postSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("shingle",
        org.apache.spark.sql.types.LongType)))
    val origShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try HarnessGuard.scope(spark, "pipeline_split_e2e") {
      // hop 1: landing docs -> delta shingle postings (index append)
      Streams.parquetSink(
        Dedup.shingled(spark.readStream.schema(inSchema)
          .option("maxFilesPerTrigger", 1).parquet(landing)),
        deltaPostDir, s"$base/ck1", trigger = an)
        .start().awaitTermination()
      // hop 2: landed postings -> stream-static co-shingle hits
      // against the persisted capped history postings
      Streams.parquetSink(
        Streams.splitCandidateStream(
          spark.readStream.schema(postSchema)
            .option("maxFilesPerTrigger", 2).parquet(deltaPostDir),
          spark.read.parquet(cappedDir)),
        candDir, s"$base/ck2", trigger = an)
        .start().awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", origShuffle)

    val deltaPost = spark.read.schema(postSchema).parquet(deltaPostDir)
    // landed-state gates (1-row folds): the streamed index must carry
    // exactly the delta's shingle multiset, and retrieval must have
    // fired (the fixture's delta always shares shingles with history)
    val direct = Dedup.shingled(delta)
    val landedN = deltaPost.count()
    val directN = direct.count()
    require(landedN == directN,
      s"split e2e ingest drift: $landedN landed postings vs $directN " +
        "from a direct shingle pass over the delta")
    // count equality alone would pass a compensating drift (equal
    // cardinality, different shingles); with equal counts, one-sided
    // multiset difference emptiness == multiset equality, so the gate
    // really is "the landed index IS the delta's shingle multiset"
    // (delta-sized, one extra hash-agg)
    require(deltaPost.exceptAll(direct).isEmpty,
      "split e2e ingest drift: landed postings differ from a direct " +
        "shingle pass over the delta at equal cardinality " +
        "(compensating drift)")
    require(!spark.read.schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("delta_doc",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("hist_doc",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("shingle",
          org.apache.spark.sql.types.LongType))))
      .parquet(candDir).isEmpty,
      "split e2e retrieval landed zero co-shingle hits")
    Dedup.clusterSafeSplitIncrementalFromPostings(
      histPostings, histAssign, spark.read.parquet(splitDir),
      deltaPost, delta.select(col("doc_id")))
  }

  /** BT preference-family nightly-delta hop, oracle-gated end to end —
    * the streaming twin completing the family's lifecycle (strengths /
    * incremental / retire / stream): the post-cutoff delta events land
    * as a REAL time-ordered file stream (2 time-split files drained
    * one per micro-batch) and flow through the stateful
    * [[Streams.btComparisonStream]] machine whose INITIAL STATE is the
    * persisted carry table — the boundary comparison (carry, first
    * delta event) is derived IN-STREAM, with cross-batch pairs carried
    * by per-user O(1) state. The landed comparisons are the fold's
    * input: sink-side compaction counts them into (winner, loser, nw),
    * folds additively into the persisted pre-cutoff win table, and
    * re-runs the vocabulary-sized MM ([[graft.operators.Learn
    * .btFromWins]]) — which must hash-match the `bt_strengths`
    * FULL-REBUILD oracle, because counts are additive.
    *
    * Two delta-sized landed-state gates fire before any oracle hash
    * (the splitE2E discipline): the streamed machine's per-user
    * comparison counts must BE the batch lead-window's counts over
    * carry ∪ delta (count equality + one-sided exceptAll emptiness ==
    * multiset equality), and retrieval must be non-empty. A drift in
    * the state machine, the file-order contract, or the initial-state
    * seeding is diagnosed here, not as a hash mismatch.
    */
  def btE2E(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Learn
    val basePath = Files.createTempDirectory("graft_bte2e_")
    val base = basePath.toString
    stagingDirs.add(basePath)
    val landing = s"$base/landing"
    val cmpDir = s"$base/cmp"

    val ev = Tables.events(spark, dir).select(col("event_id"), col("ts"),
      col("user_id"), col("event_type"), col("value"))
    val cutoff = lit("2024-01-25 00:00:00").cast("timestamp")
    val hist = ev.filter(col("ts") < cutoff)
    val delta = ev.filter(col("ts") >= cutoff)
    // the "nightly" persisted state: additive win counts + carry rows
    val histWins = Learn.btWins(hist).localCheckpoint(true)
    val carry = Learn.btCarry(hist).localCheckpoint(true)
    // time-split the delta into two landing files: the file stream
    // processes files oldest-mtime-first, so cross-batch per-user
    // order respects event time exactly when file drops do (the
    // btComparisonStream ordering contract; strict < keeps equal-ts
    // events in one file)
    val bnds = delta.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi")).head()
    val midUs = bnds.getLong(0) / 2 + bnds.getLong(1) / 2
    delta.filter(unix_micros(col("ts")) <= midUs)
      .coalesce(1).write.mode("overwrite").parquet(landing)
    Thread.sleep(20) // distinct mtimes -> deterministic oldest-first
    delta.filter(unix_micros(col("ts")) > midUs)
      .coalesce(1).write.mode("append").parquet(landing)

    val origShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try HarnessGuard.scope(spark, "pipeline_bt_e2e") {
      val dStream = spark.readStream.schema(delta.schema)
        .option("maxFilesPerTrigger", 1).parquet(landing)
      Streams.parquetSink(
          Streams.btComparisonStream(spark, dStream, carry).toDF(),
          cmpDir, s"$base/ck", trigger = Trigger.AvailableNow())
        .start().awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", origShuffle)

    val cmpSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("winner",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("loser",
        org.apache.spark.sql.types.StringType)))
    val landed = spark.read.schema(cmpSchema).parquet(cmpDir)
    val landedWU = landed
      .groupBy(col("user_id"), col("winner"), col("loser"))
      .agg(count(lit(1)).as("nw"))
    val directWU = Learn.btWinsByUser(carry.unionByName(delta))
    val (ln, dn) = (landedWU.count(), directWU.count())
    require(ln == dn,
      s"bt e2e comparison drift: $ln landed (user, winner, loser) " +
        s"count groups vs $dn from the batch lead window")
    // grouped keys are unique, so at equal cardinality one-sided
    // difference emptiness == multiset equality (splitE2E pattern)
    require(landedWU.exceptAll(directWU).isEmpty,
      "bt e2e comparison drift: landed per-user counts differ from " +
        "the batch lead window at equal cardinality (compensating drift)")
    require(ln > 0, "bt e2e landed zero comparisons")
    Learn.btFromWins(
      histWins.unionByName(
          landed.groupBy(col("winner"), col("loser"))
            .agg(count(lit(1)).as("nw")))
        .groupBy(col("winner"), col("loser"))
        .agg(sum(col("nw")).as("nw")))
  }

  def joinE2E(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Trades
    val basePath = Files.createTempDirectory("graft_je2e_")
    val base = basePath.toString
    stagingDirs.add(basePath)
    val buysDir = s"$base/buys"
    val sellsDir = s"$base/sells"
    val pairsDir = s"$base/pairs"

    val trades = Trades.fromEvents(Tables.events(spark, dir))
    val buys = trades.filter(col("side") === "buy")
      .select(col("symbol"), col("event_id"), col("event_time"),
        col("price"), col("size"))
    val sells = trades.filter(col("side") === "sell")
      .select(col("symbol"), col("event_time"), col("price"), col("size"))
    buys.coalesce(1).write.mode("overwrite").parquet(buysDir)
    sells.repartition(2).write.mode("overwrite").parquet(sellsDir)

    val origShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try HarnessGuard.scope(spark, "pipeline_join_e2e") {
      val bStream = spark.readStream.schema(buys.schema).parquet(buysDir)
      val sStream = spark.readStream.schema(sells.schema)
        .option("maxFilesPerTrigger", 1).parquet(sellsDir)
      val joined = Streams.matchOppositeSides(bStream, sStream,
        within = "1 minute", watermark = "45 days",
        joinType = "inner", buyKeys = Seq("event_id"))
      val q = joined.writeStream
        .format("parquet")
        .option("path", pairsDir)
        .option("checkpointLocation", s"$base/ck")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", origShuffle)

    spark.read.parquet(pairsDir)
      .groupBy(col("symbol"), col("event_id"), col("buy_time"),
        col("buy_price"))
      .agg(count(lit(1)).as("n_sells"),
        min(col("sell_price")).as("min_sell_price"),
        max(col("sell_price")).as("max_sell_price"))
      .orderBy(col("symbol"), col("event_id"))
  }
}
