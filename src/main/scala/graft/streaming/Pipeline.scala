package graft.streaming

import java.nio.file.Files

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{HopSession, ParquetSinkQuery}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.operators.Bronze

/** End-to-end streaming parity: the full three-hop pipeline (wire →
  * bronze → silver → gold) run through the REAL file-stream queries
  * (AvailableNow), then the gold sink read back as a batch table. The
  * `pipeline_gold_e2e` CORRECTNESS entry compares this against the
  * DuckDB bars oracle — converting the per-hop streaming tests into one
  * oracle-backed whole-pipeline guarantee (reference
  * scripts/collect_data.sh runs the same three jobs back to back).
  * The other nine e2e pipelines here do the same for one streaming
  * family each.
  *
  * Every pipeline shares one staging lifecycle ([[Staging]]):
  *  1. a staging tree under `java.io.tmpdir` (`graft_<x>e2e_` prefix),
  *     reclaimed at JVM exit — the returned frame reads its sinks
  *     lazily, so the tree outlives the call;
  *  2. batch-written inputs in that tree: landing files and nightly
  *     state, on the caller's session;
  *  3. the hops, each drained to completion (AvailableNow), inside one
  *     [[HarnessGuard.scope]]. A pipeline that sizes its hops' shuffle
  *     partitions starts them from a [[HopSession]]: a clone of the
  *     caller's session carrying that count, made once per caller and
  *     count. The caller's conf never changes; each hop's offset log
  *     records the count it ran with. The other pipelines start their
  *     hops from the caller's session;
  *  4. a batch read-back on the caller's session. Every dir remembers
  *     the schema of the frame that wrote it, so sources and read-backs
  *     spell no schema out, and an empty sink reads back empty instead
  *     of failing schema inference.
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
    * runs in one process, e.g. `graft.Measure time` or test reruns).
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

  private val an = Trigger.AvailableNow()

  /** One pipeline's staging tree (`prefix` names it) and the lifecycle
    * around its hops, stated in the object doc.
    */
  private final class Staging(spark: SparkSession, prefix: String) {
    private val root = Files.createTempDirectory(prefix)
    stagingDirs.add(root)
    private val schemas = TrieMap[String, StructType]()

    def apply(name: String): String = s"$root/$name"

    /** Batch-writes `df` as the dir `name` (landing files, nightly state). */
    def land(df: DataFrame, name: String, mode: String = "overwrite"): Unit = {
      schemas(name) = df.schema
      df.write.mode(mode).parquet(this(name))
    }

    /** The dir `name`, read back on the caller's session. */
    def read(name: String): DataFrame =
      spark.read.schema(schemas(name)).parquet(this(name))

    /** Runs `hops` inside `label`'s guard scope on the hop session:
      * `partitions` shuffle partitions, or the caller's session if None.
      */
    def drain(label: String, partitions: Option[Int] = None)(
        hops: Hops => Unit): Unit = {
      val hop = new Hops(partitions.fold(spark)(HopSession(spark, _)))
      HarnessGuard.scope(spark, label)(hops(hop))
    }

    /** The hop verbs on the hop session `spark` (which the `Streams`
      * hops that build their own stream take); each drains to the end.
      */
    final class Hops(val spark: SparkSession) {
      /** A file stream over `name`; `maxFiles` > 0 caps files per batch. */
      def source(name: String, maxFiles: Int = 0): DataFrame = {
        val r = spark.readStream.schema(schemas(name))
        if (maxFiles > 0) r.option("maxFilesPerTrigger", maxFiles.toLong)
        r.parquet(Staging.this(name))
      }

      /** Drains `df` into the append parquet sink `name`. */
      def toParquet(df: DataFrame, name: String): Unit = {
        schemas(name) = df.schema
        ParquetSinkQuery.start(df, Staging.this(name), Staging.this(s"ck_$name"),
          trigger = an).awaitTermination()
      }

      /** Drains `src`, handing each micro-batch to `f`. */
      def fold(src: DataFrame)(f: DataFrame => Unit): Unit =
        src.writeStream
          .option("checkpointLocation", Staging.this("ck"))
          .trigger(an)
          .foreachBatch((batch: DataFrame, _: Long) =>
            Streams.recorded("foreachBatch")(f(batch)))
          .start().awaitTermination()
    }
  }

  def goldE2E(spark: SparkSession, dir: String): DataFrame = {
    val st = new Staging(spark, "graft_e2e_")

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
    st.land(wire.unionByName(sentinel), "landing")

    // the three hops, each drained to completion (AvailableNow).
    // Fewer shuffle/state partitions for the streaming hops: each
    // stateful operator keeps one state store per shuffle partition,
    // and every micro-batch commits every store — at this volume the
    // 32-store fixed cost (dirs, delta files, commits) dominates the
    // actual row work. 8 stores cut that fixed cost ~4× with identical
    // results (dedup/agg are partition-count independent). On a real
    // cluster this knob is sized to state volume, not CPU count.
    st.drain("pipeline_gold_e2e", Some(8)) { hop =>
      Streams.kafkaLikeToBronze(hop.source("landing"), st("bronze"),
        st("ck1"), trigger = an).awaitTermination()
      Streams.bronzeToSilver(hop.spark, st("bronze"), st("silver"),
        st("ck2"), trigger = an).awaitTermination()
      // date-only gold partitioning: the harness has 1356 symbols, far past
      // the point where per-symbol dirs make sense (see silverToGold's
      // partitionCols note); parity is about bar CONTENT, and the
      // (bar_date, symbol) layout incl. `/`-escaping is round-trip tested
      // in StreamingSpec at small scale.
      Streams.silverToGold(hop.spark, st("silver"), st("gold"), st("ck3"),
        trigger = an, partitionCols = Seq("bar_date")).awaitTermination()
    }

    spark.read.parquet(st("gold"))
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
    val st = new Staging(spark, "graft_ce2e_")

    val docs = Tables.documents(spark, dir)
    val isHist = pmod(graft.functions.TextFunctions.hash60(
      concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
    // the "nightly" state: history signature index persisted once;
    // history text is never read by the streaming side
    Dedup.minhashSignatures(docs.filter(isHist))
      .write.mode("overwrite").parquet(st("sig_index"))
    st.land(docs.filter(!isHist).select(col("doc_id"), col("text"))
      .repartition(4), "landing")

    st.drain("pipeline_corpus_e2e") { hop =>
      // hop 1: landing -> quality-passed silver docs (in-row gate)
      hop.toParquet(hop.source("landing", 2)
          .select(col("doc_id"), col("text"),
            TextAnalysis.qualityScoreCol.as("quality_score"))
          .filter(col("quality_score") >= 0.35), "silver")
      // hop 2: silver -> near-dup flags vs the persisted index
      hop.toParquet(Streams.incrementalDedupStream(hop.source("silver", 2),
        spark.read.parquet(st("sig_index"))), "flags")
    }
    // ship: sink-side compaction — quality survivors minus flagged
    // (if no delta doc passed the quality gate the sinks have no data
    // files; their remembered schemas make that an empty read)
    st.read("silver")
      .join(st.read("flags").select(col("delta_doc").as("doc_id")),
        Seq("doc_id"), "left_anti")
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
    val st = new Staging(spark, "graft_re2e_")

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
      .write.partitionBy("bar_date").mode("overwrite").parquet(st("bar_state"))
    // the late delta lands as files; 3 files → 3 micro-batches
    st.land(trades.filter(!isOnTime)
      .select(col("symbol"), col("event_time"), col("price"), col("size"))
      .repartition(3), "landing")

    st.drain("pipeline_restate_e2e") { hop =>
      hop.fold(hop.source("landing", 1)) { delta =>
        val deltaState = Gold.barState(delta)
        val touchedDates = deltaState
          .select(to_date(col("bar_start")).as("bar_date")).distinct()
        val histTouched = spark.read.parquet(st("bar_state"))
          .join(broadcast(touchedDates), Seq("bar_date"), "left_semi")
          .drop("bar_date")
        // INVARIANT: the merged state is read FROM bar_state and
        // written back TO bar_state in this same batch — the EAGER
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
          .parquet(st("bar_state"))
      }
    }

    Gold.finalizeBars(spark.read.parquet(st("bar_state")).drop("bar_date"))
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
    val st = new Staging(spark, "graft_te2e_")

    val docs = Tables.documents(spark, dir)
    // nightly state: payload index + add-ledger persisted once
    Dedup.minhashSignatures(docs).write.mode("overwrite")
      .parquet(st("sig_index"))
    docs.select(col("doc_id"),
        pmod(graft.functions.TextFunctions.hash60(
          concat(lit("b_"), col("doc_id"))), lit(4)).cast("int")
          .as("batch_id"),
        lit("add").as("op"))
      .write.mode("overwrite").parquet(st("ledger"))
    // takedown requests land as files; 2 files → 2 micro-batches
    val isRet = pmod(graft.functions.TextFunctions.hash60(
      concat(lit("ret_"), col("doc_id"))), lit(100)) >= 90
    st.land(docs.filter(isRet).select(col("doc_id")).repartition(2),
      "takedowns")

    st.drain("pipeline_retire_e2e") { hop =>
      hop.fold(hop.source("takedowns", 1)) { delta =>
        Lifecycle.delBatch(delta, 4)
          .write.mode("append").parquet(st("ledger"))
      }
    }

    Lifecycle.indexAsOf(spark.read.parquet(st("sig_index")),
        spark.read.parquet(st("ledger")), asOfBatch = 4)
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
    val st = new Staging(spark, "graft_le2e_")

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
    silverBatch.write.mode("overwrite").parquet(st("silver"))

    st.drain("bars_live_e2e", Some(8)) { hop =>
      (if (hourly) Streams.silverToGoldLiveHourly(hop.spark, st("silver"),
        st("gold"), st("ck"), trigger = an)
      else Streams.silverToGoldLive(hop.spark, st("silver"), st("gold"),
        st("ck"), trigger = an)).awaitTermination()
    }

    val cols = Gold.bars(silverBatch).columns
    spark.read.parquet(st("gold"))
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
    val st = new Staging(spark, "graft_se2e_")
    val k = 64

    // the rows each fold merges into its state dir; their schemas are
    // the state tables' schemas
    def hashes(d: DataFrame) = d.select(col("event_type"),
      hash60(concat(lit("kmv_"), col("user_id"))).as("h"))
    def registers(d: DataFrame) = Sketches.hllRegisters(d,
        Seq("event_type"), col("user_id"), 8, "hll_")
      .select(col("event_type"), col("idx"), col("reg").cast("int").as("reg"))
    val events = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"))
    st.land(events.repartition(3), "landing")
    val kmvSchema = hashes(events).schema
    val hllSchema = registers(events).schema
    // the first fold reads EMPTY state dirs (schema given explicitly):
    // create them before the stream can fire its first batch
    new java.io.File(st("kmv_state")).mkdirs()
    new java.io.File(st("hll_state")).mkdirs()

    st.drain("sketch_stream_e2e") { hop =>
      hop.fold(hop.source("landing", 1)) { delta =>
        // KMV fold: state ∪ delta hashes → k smallest per group.
        // INVARIANT (both folds): the new state is read FROM its
        // state dir and written back TO the same dir within this
        // batch — the EAGER localCheckpoint(true) must materialize
        // the fold BEFORE mode("overwrite") deletes the files it
        // read; dropping the eager flag silently truncates state.
        Sketches.kmvStateFold(
            spark.read.schema(kmvSchema).parquet(st("kmv_state"))
              .unionByName(hashes(delta)), Seq("event_type"), k)
          .localCheckpoint(true)
          .write.mode("overwrite").parquet(st("kmv_state"))
        // HLL fold: register-wise max of state ∪ delta registers
        // (same read-materialize-then-overwrite invariant as above)
        spark.read.schema(hllSchema).parquet(st("hll_state"))
          .unionByName(registers(delta))
          .groupBy(col("event_type"), col("idx"))
          .agg(max(col("reg")).as("reg"))
          .localCheckpoint(true)
          .write.mode("overwrite").parquet(st("hll_state"))
      }
    }

    val kmvEst = Sketches.kmvEstimateFromState(
      spark.read.schema(kmvSchema).parquet(st("kmv_state")),
      Seq("event_type"), k)
    val hllEst = Sketches.hllReport(
      spark.read.schema(hllSchema).parquet(st("hll_state"))
        .select(col("event_type"), col("idx"), col("reg")),
      Seq("event_type"), 8)
    kmvEst.join(hllEst, Seq("event_type"))
      .select(col("event_type"), col("kmv_est"), col("hll_est"),
        col("v_zero"), col("s_scaled"))
      .orderBy(col("event_type"))
  }

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
    val st = new Staging(spark, "graft_ere2e_")

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
    st.land(bDelta.repartition(2), "delta")
    val masterIdx = EntityResolution.masterIndex(a).localCheckpoint(true)

    st.drain("pipeline_er_e2e", Some(4)) { hop =>
      hop.toParquet(
        Streams.erCandidateStream(hop.source("delta", 1), masterIdx), "cand")
    }

    EntityResolution.scoreDeltaCandidates(
        st.read("cand").distinct(), a, bDelta, bHist)
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
    val st = new Staging(spark, "graft_se2e_")

    val docs = Tables.documents(spark, dir)
    val isHist = pmod(graft.functions.TextFunctions.hash60(
      concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
    val hist = docs.filter(isHist)
    val delta = docs.filter(!isHist).select(col("doc_id"), col("text"))
    // the "nightly" state, persisted once: shingle postings (history
    // text is never re-read), the df-capped join side, the cluster
    // assignment (derived FROM the persisted postings), and the split
    Dedup.shingled(hist).write.mode("overwrite").parquet(st("hist_postings"))
    val histPostings = spark.read.parquet(st("hist_postings"))
    Dedup.cappedPostings(histPostings)
      .write.mode("overwrite").parquet(st("hist_capped"))
    Dedup.clusters(Dedup.ngramJaccardPairsFromPostings(histPostings))
      .write.mode("overwrite").parquet(st("hist_assign"))
    val histAssign = spark.read.parquet(st("hist_assign"))
    Dedup.clusterSafeSplitFromAssign(hist, histAssign)
      .write.mode("overwrite").parquet(st("hist_split"))
    st.land(delta.repartition(2), "landing")

    st.drain("pipeline_split_e2e", Some(4)) { hop =>
      // hop 1: landing docs -> delta shingle postings (index append)
      hop.toParquet(Dedup.shingled(hop.source("landing", 1)),
        "delta_postings")
      // hop 2: landed postings -> stream-static co-shingle hits
      // against the persisted capped history postings
      hop.toParquet(Streams.splitCandidateStream(
        hop.source("delta_postings", 2),
        spark.read.parquet(st("hist_capped"))), "cand")
    }

    val deltaPost = st.read("delta_postings")
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
    require(!st.read("cand").isEmpty,
      "split e2e retrieval landed zero co-shingle hits")
    Dedup.clusterSafeSplitIncrementalFromPostings(
      histPostings, histAssign, spark.read.parquet(st("hist_split")),
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
    val st = new Staging(spark, "graft_bte2e_")

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
    st.land(delta.filter(unix_micros(col("ts")) <= midUs).coalesce(1),
      "landing")
    Thread.sleep(20) // distinct mtimes -> deterministic oldest-first
    st.land(delta.filter(unix_micros(col("ts")) > midUs).coalesce(1),
      "landing", mode = "append")

    st.drain("pipeline_bt_e2e", Some(8)) { hop =>
      hop.toParquet(Streams.btComparisonStream(hop.spark,
        hop.source("landing", 1), carry).toDF(), "cmp")
    }

    val landed = st.read("cmp")
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
  def joinE2E(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Trades
    val st = new Staging(spark, "graft_je2e_")

    val trades = Trades.fromEvents(Tables.events(spark, dir))
    val buys = trades.filter(col("side") === "buy")
      .select(col("symbol"), col("event_id"), col("event_time"),
        col("price"), col("size"))
    val sells = trades.filter(col("side") === "sell")
      .select(col("symbol"), col("event_time"), col("price"), col("size"))
    st.land(buys.coalesce(1), "buys")
    st.land(sells.repartition(2), "sells")

    st.drain("pipeline_join_e2e", Some(4)) { hop =>
      hop.toParquet(Streams.matchOppositeSides(
        hop.source("buys"), hop.source("sells", 1),
        within = "1 minute", watermark = "45 days",
        joinType = "inner", buyKeys = Seq("event_id")), "pairs")
    }

    st.read("pairs")
      .groupBy(col("symbol"), col("event_id"), col("buy_time"),
        col("buy_price"))
      .agg(count(lit(1)).as("n_sells"),
        min(col("sell_price")).as("min_sell_price"),
        max(col("sell_price")).as("max_sell_price"))
      .orderBy(col("symbol"), col("event_id"))
  }
}
