package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetSinkQuery
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.Schemas
import graft.operators.{Bronze, Dedup, Gold, Silver}

/** Structured-Streaming wiring for the three lakehouse hops (reference
  * spark/jobs/{kafka_to_bronze,bronze_to_silver,silver_to_gold}*.py).
  *
  * Each hop reuses the SAME pure DataFrame=>DataFrame transform as the
  * batch path (Bronze.fromKafkaLike / Silver.projectToSilver / Gold.bars) —
  * the structural split the reference already has (`project_to_silver`
  * used by both backfill :82 and stream :100). Streaming adds only:
  * watermarks, stateful dedup, sinks, checkpoints, triggers.
  *
  * Semantics preserved (SURVEY §2.9): 2-minute watermark on BOTH the
  * silver dedup and the gold aggregation; append output mode everywhere
  * (bars emit once, finalized, when the watermark passes bar_end);
  * `maxFilesPerTrigger` backpressure; per-query checkpoints.
  *
  * Scale: state per dedup key is O(1) and expires with the watermark;
  * gold agg state is one row per (symbol, window). The shuffle keyed by
  * dedup-keys / (symbol, window) is the same one the batch plan needs —
  * no extra exchanges. At 100 TB/day the knobs that matter are
  * maxFilesPerTrigger (ingest batch sizing) and shuffle partitions;
  * the operators themselves are unchanged.
  *
  * Trigger policy: a hop's default trigger follows where it reads from.
  *  - The INGEST edge ([[kafkaLikeToBronze]]) reads an external source
  *    and runs on the reference's 2 s ingest clock ([[DefaultTrigger]]):
  *    that interval sizes its batches and file count.
  *  - The hops that read ANOTHER HOP's sink ([[bronzeToSilver]],
  *    [[silverToGold]]) are commit-woken: their trigger clock
  *    ([[org.apache.spark.sql.graft.HandoffClock]]) ends the wait for
  *    the next trigger as soon as the upstream sink's log or the hop's
  *    own commit log gains an entry. So each picks up an upstream commit
  *    within milliseconds, and the gold hop's append-mode flush batch
  *    starts right after the batch that advanced its watermark. The 1 s
  *    [[HandoffTrigger]] is only the fallback: a wait with no new entry
  *    (or on a path that is not on local disk) ends on its 1 s grid.
  *    On one shared 5 s grid all three hops fire on the same instant,
  *    so hop 2 lists bronze BEFORE hop 1's batch of that tick commits
  *    and every handoff sits out a whole tick (measured pickups
  *    3.0–4.5 s).
  *  Event→gold freshness is thus bounded by bar_end + watermark + ≤1
  *  ingest tick (2 s) + four batch times: hop 1, hop 2, hop 3's data
  *  batch and hop 3's append-mode flush batch, which emits the bars the
  *  data batch's watermark finalized (each handoff starts at the
  *  upstream commit).
  *  AvailableNow callers (the e2e pipelines, tests) pass their trigger
  *  explicitly and are unaffected: AvailableNow never waits on a clock.
  */
object Streams {

  val DefaultWatermark = "2 minutes"
  /** The ingest clock, 2 s: the reference deploys its bronze job with
    * `--trigger "2 seconds"` (collect_data.sh:46); 5 s is only the job
    * script's own default (kafka_to_bronze_trades.py:22). A tick is the
    * one freshness term the pipeline adds before hop 1 (mean ½ interval),
    * and a shorter one also makes every hop's batches smaller. The cost
    * is more batches and files: a traced `live_tail` pass (seed 711) ran
    * hop 1/2/3 batches 5/10/10 → 12/24/23 and wrote bronze/silver/gold
    * files 20/5/4 → 46/12/8 on the 5 s → 2 s clock.
    * [[silverToGoldLive]] and [[silverToGoldLiveHourly]] default to it
    * too; every caller of those two passes AvailableNow, which never
    * reads the interval.
    */
  val DefaultTrigger: Trigger = Trigger.ProcessingTime("2 seconds")
  /** The fallback poll for hops fed by another hop's sink: their
    * clock starts the next trigger when the upstream sink or their own
    * commit log gains an entry, so 1 s only bounds a wait in which
    * neither does (a missed wake, or a path not on local disk). Each
    * idle poll re-reads the upstream sink log. Three idle hops measured
    * 0.033 cores with the wake's 10 ms checks, 0.024-0.027 with the 1 s
    * poll alone and 0.011 on the 5 s clock. `ProcessingTime(0)` is a
    * busy poll: ~0.65 cores idle.
    */
  val HandoffTrigger: Trigger = Trigger.ProcessingTime("1 second")

  // ---- sources (S2: schema-required parquet file streams) ----

  def bronzeStream(spark: SparkSession, dir: String,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(Schemas.bronze)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n.toString))
    r.parquet(dir)
  }

  def silverStream(spark: SparkSession, dir: String,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(Schemas.silver)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n.toString))
    r.parquet(dir)
  }

  // ---- stateful transforms (A8, A1) ----

  /** Streaming dedup: watermark bounds the key state; duplicates within
    * the watermark are suppressed, later ones may re-emit (state evicted)
    * — exact reference semantics (bronze_to_silver_trades.py:100-102).
    */
  def dedupStreaming(silver: DataFrame,
                     watermark: String = DefaultWatermark): DataFrame =
    silver.withWatermark("event_time", watermark)
      .dropDuplicates(Silver.dedupKeys)

  /** Streaming OHLCV bars: same aggregation expressions as the batch
    * Gold.bars, preceded by a watermark (silver_to_gold_bars.py:34-49).
    */
  def goldBarsStream(silver: DataFrame, barWidth: String = "1 minute",
                     watermark: String = DefaultWatermark): DataFrame =
    Gold.bars(silver.withWatermark("event_time", watermark), barWidth)

  /** Pipeline observability: attach `observe` data-quality metrics to a
    * silver frame — per-micro-batch row count, null-price count, and
    * min/max event time, computed INSIDE the existing plan (observe
    * metrics ride the already-running aggregation physically for free;
    * no second action, no extra scan). Read them per batch from
    * `StreamingQueryProgress.observedMetrics("silver_quality")` (or via
    * a StreamingQueryListener in production) — the monitoring hook a
    * lakehouse runs on every hop. Batch callers can use the same frame
    * with `org.apache.spark.sql.Observation`.
    */
  val QualityObservation = "silver_quality"
  def withQualityMetrics(silver: DataFrame): DataFrame =
    silver.observe(QualityObservation,
      count(lit(1)).as("n_rows"),
      sum(when(col("price").isNull || col("price") <= 0, 1L).otherwise(0L))
        .as("n_bad_price"),
      min(col("event_time")).as("min_event_time"),
      max(col("event_time")).as("max_event_time"))

  /** Streaming sessionization via the NATIVE `session_window` state path
    * (merging-session store) — the built-in alternative to the custom
    * flatMapGroupsWithState machine in Sessions.streamingStats, with the
    * same floor-second gap semantics as the batch shapes (see
    * Sessions.statsNative). Sessions emit finalized (append mode) once
    * the watermark passes their close; state is one open session per
    * (symbol, gap-run), evicted on emission.
    */
  def sessionWindowStream(trades: DataFrame, gapMinutes: Int = 30,
                          watermark: String = DefaultWatermark): DataFrame =
    trades
      .withColumn("__ts_s", timestamp_seconds(unix_timestamp(col("event_time"))))
      .withWatermark("__ts_s", watermark)
      .groupBy(col("symbol"),
        session_window(col("__ts_s"), s"${gapMinutes * 60} seconds").as("sw"))
      .agg(
        min(col("event_time")).as("session_start"),
        max(col("event_time")).as("session_end"),
        count(lit(1)).as("n_trades"),
        sum(col("size").cast(org.apache.spark.sql.types.DecimalType(20, 6)))
          .cast("double").as("volume"))
      .select(col("symbol"), col("session_start"), col("session_end"),
        col("n_trades"), col("volume"))

  /** Stream-stream interval join: match each buy with sells of the same
    * symbol within `within` AFTER the buy. Both sides carry watermarks
    * and the join condition bounds event-time distance, so Spark can
    * size the join state and evict rows as the watermark advances —
    * state is O(rows inside the watermark window), not O(stream).
    * Unbounded-state stream-stream joins are rejected by the analyzer;
    * this is the canonical bounded shape.
    *
    * `joinType = "left_outer"` additionally emits every UNMATCHED buy
    * (null sell columns) once the watermark passes its match window —
    * the fill-detection variant ("which orders never crossed") — using
    * the same bounded state; Spark holds a buy only until
    * buy_time + within drops below the watermark.
    *
    * `buyKeys`: extra buy-side columns carried through the join
    * unchanged (e.g. the originating event_id, so downstream sinks can
    * aggregate per buy — Pipeline.joinE2E's oracle-gated path).
    */
  def matchOppositeSides(buys: DataFrame, sells: DataFrame,
                         within: String = "1 minute",
                         watermark: String = DefaultWatermark,
                         joinType: String = "inner",
                         buyKeys: Seq[String] = Nil): DataFrame = {
    // fail at construction, not deep inside query start: only these two
    // types are supported-and-tested with this watermark shape
    // (full_outer would need both-side state expiry conditions)
    require(Set("inner", "left_outer")(joinType),
      s"matchOppositeSides supports inner | left_outer, got '$joinType'")
    val b = buys
      .select(Seq(col("symbol")) ++ buyKeys.map(col) ++ Seq(
        col("event_time").as("buy_time"),
        col("price").as("buy_price"), col("size").as("buy_size")): _*)
      .withWatermark("buy_time", watermark)
    val s = sells
      .select(col("symbol").as("sell_symbol"),
        col("event_time").as("sell_time"),
        col("price").as("sell_price"), col("size").as("sell_size"))
      .withWatermark("sell_time", watermark)
    b.join(s,
      col("symbol") === col("sell_symbol") &&
        col("sell_time") >= col("buy_time") &&
        col("sell_time") <= col("buy_time") + expr(s"INTERVAL $within"),
      joinType)
      .drop("sell_symbol")
  }

  /** Stream-static incremental dedup: flag documents of a STREAMING
    * delta against the persisted minhash-signature index, in flight —
    * the streaming twin of [[Dedup.incrementalNearDups]] (same band
    * join, same signature-agreement verify), and the corpus-scale
    * counterpart of this file's within-watermark `dropDuplicates`.
    *
    * Fully STATELESS: signatures are computed per row
    * ([[Dedup.minhashSignaturesRowwise]] — map-only, no aggregation
    * state), bands explode statelessly, and the join is stream-static
    * (the static side's hot-bucket rank cut is planned per micro-batch
    * against the index table). Emits (delta_doc, hist_doc, n_matching,
    * est_jaccard) in append mode; a pair colliding in k bands appears k
    * times — dedup at the sink or downstream, where state is a choice
    * rather than a requirement.
    */
  def incrementalDedupStream(deltaDocs: DataFrame, histSigs: DataFrame,
                             minMatching: Int = Dedup.NumHashes / 2,
                             maxBucket: Int = Dedup.MaxBucketSize)
      : DataFrame =
    Dedup.signatureJoinPairs(
        Dedup.cappedBands(histSigs, maxBucket),
        Dedup.signatureBands(Dedup.minhashSignaturesRowwise(deltaDocs)),
        minMatching)
      .select(col("hist_doc"), col("delta_doc"), col("n_matching"),
        (col("n_matching").cast("double") /
          lit(Dedup.NumHashes.toDouble)).as("est_jaccard"))

  /** Stream-static incremental SPAN dedup: flag every `k`-token window
    * of a STREAMING delta whose hash already exists in the persisted
    * span index — the streaming twin of
    * [[graft.operators.TextAnalysis.incrementalSpans]], sharing its
    * window front end. Fully stateless: the window explode is map-only
    * and the semi join is stream-static, so — like
    * [[incrementalDedupStream]] — dedup state is the INDEX TABLE, not
    * stream state. Emits flagged (doc_id, i) positions in append mode;
    * the maximal-span merge needs the doc's complete position set (a
    * per-doc sort), which is a sink-side compaction
    * (TextAnalysis.mergeSpans over the landed positions — parity
    * asserted in StreamingSpec), not stream state.
    */
  def incrementalSpanStream(deltaDocs: DataFrame, histIndex: DataFrame,
                            k: Int = 8): DataFrame =
    graft.operators.TextAnalysis.spanWindows(deltaDocs, k)
      .join(histIndex.select(col("h")), Seq("h"), "left_semi")
      .select(col("doc_id"), col("i"))

  /** Stream-static incremental ANN assignment: assign a STREAMING delta
    * of embedding rows to the FROZEN coarse quantizer — the streaming
    * twin of [[graft.operators.Similarity.refreshIvfAssignments]]'s
    * assignment step, sharing its [[graft.operators.Similarity
    * .assignCells]] back end. Fully stateless: the k centroids collapse
    * to one broadcast row on the static side and each streamed vector
    * picks its cell with an in-row array_min, so — like every
    * incremental family here — index state is the SINK table (append
    * mode), never stream state. Already-indexed vec_ids are the sink
    * compaction's anti join (or an upstream dropDuplicates), keeping the
    * per-batch path map-only at any index size. Batch parity asserted in
    * StreamingSpec.
    */
  def annAssignStream(deltaEmbs: DataFrame, cents: DataFrame): DataFrame =
    graft.operators.Similarity.assignCells(
      graft.operators.Similarity.normed(deltaEmbs), cents)

  /** Stream-static EXACT dedup flag: each STREAMING delta doc whose
    * content fingerprint already exists in the persisted (fp, rep)
    * index — the streaming twin of
    * [[graft.operators.Dedup.exactIncremental]]. One md5 per row plus a
    * stream-static equi join on the fingerprint: fully stateless, so
    * exact-dedup state is the index TABLE (like every family here), not
    * watermarked stream state — the in-flight duplicate window remains
    * [[graft.operators.Silver.dedup]]'s watermarked dropDuplicates,
    * and the two compose (watermark catches the replay storm, the index
    * catches everything ever ingested).
    */
  def exactDedupStream(deltaDocs: DataFrame, histFps: DataFrame): DataFrame =
    deltaDocs.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(histFps.select(col("fp"), col("rep_doc_id").as("dup_of")),
        Seq("fp"))
      .select(col("doc_id"), col("dup_of"))

  /** Stream-static cluster ATTACHMENT: each STREAMING delta doc is
    * matched against the persisted signature index and mapped to the
    * existing cluster of every history doc it near-duplicates — the
    * streaming twin of [[graft.operators.Dedup.incrementalClusters]]'
    * attachment step, riding [[incrementalDedupStream]]'s stateless
    * band join plus one more stream-static join against the persisted
    * assignment (unclustered history matches attach to the match
    * itself, mirroring the batch operator's coalesce-to-self lift).
    * Emits (doc_id, cluster_rep, est_jaccard) candidate attachments in
    * append mode; choosing among multiple candidate clusters and
    * TRANSITIVE merges (a delta doc bridging two clusters) need the
    * complete match set, so they are the nightly batch job
    * ([[graft.operators.Dedup.incrementalClusters]]) or a sink-side
    * compaction — never stream state, exactly like the span family's
    * maximal-span merge.
    */
  def clusterAttachStream(deltaDocs: DataFrame, histSigs: DataFrame,
                          histAssign: DataFrame,
                          minMatching: Int = Dedup.NumHashes / 2,
                          maxBucket: Int = Dedup.MaxBucketSize): DataFrame =
    incrementalDedupStream(deltaDocs, histSigs, minMatching, maxBucket)
      .join(histAssign.select(col("doc_id").as("hist_doc"),
        col("cluster_rep")), Seq("hist_doc"), "left")
      .select(col("delta_doc").as("doc_id"),
        coalesce(col("cluster_rep"), col("hist_doc")).as("cluster_rep"),
        col("est_jaccard"))

  /** Stream-static bitext candidate retrieval: each STREAMING delta of
    * source-language vectors is band-hashed per row (map-only —
    * [[graft.operators.Similarity.bitextBandsRowwise]], the
    * minhashSignaturesRowwise analogue) and joined against the
    * persisted TARGET-side band index — the streaming twin of
    * [[graft.operators.Similarity.bitextMine]]'s retrieval half, and
    * the last index family to get one. Fully stateless: the history
    * side's hot-bucket rank cap is planned per micro-batch against the
    * index table (like [[incrementalDedupStream]]); the delta side
    * explodes statelessly. Margin scoring + rank-1 selection need each
    * source's COMPLETE candidate neighborhood (the k-NN means), so
    * they are a sink-side batch compaction over the landed candidates
    * (parity with the full batch retrieval asserted in StreamingSpec)
    * — never stream state, exactly like the span family's
    * maximal-span merge. Emits (src_id, tgt_id) in append mode; a pair
    * colliding in k bands appears k times — distinct at the sink.
    */
  def bitextCandidateStream(deltaVecs: DataFrame, histBands: DataFrame,
                            srcLang: String = "en",
                            tgtLang: String = "es",
                            nBands: Int = 16, bitsPerBand: Int = 4,
                            dims: Int = 64,
                            maxBucket: Int = Dedup.MaxBucketSize)
      : DataFrame =
    graft.operators.Similarity
      .bitextBandsRowwise(deltaVecs, nBands, bitsPerBand, dims)
      .filter(col("lang") === srcLang)
      .select(col("band"), col("bkey"), col("vec_id").as("src_id"))
      .join(graft.operators.Similarity.bitextCappedSide(
        histBands, tgtLang, "tgt_id", maxBucket), Seq("band", "bkey"))
      .select(col("src_id"), col("tgt_id"))

  /** Stream-static entity-resolution candidate retrieval: each
    * STREAMING delta of B-side records is block-keyed per row
    * (map-only — [[graft.operators.EntityResolution.blockKeysRowwise]],
    * no window, no cap: the delta is batch-bounded) and joined against
    * the PERSISTED capped master index
    * ([[graft.operators.EntityResolution.masterIndex]]) — the
    * streaming twin of [[graft.operators.EntityResolution
    * .incrementalMatches]]' retrieval half. Fully stateless.
    * Fellegi–Sunter scoring needs the frozen u probabilities and both
    * records' fields, so scoring is the sink-side batch compaction
    * over the landed pairs (the bitext/margin discipline — parity
    * with the batch incremental candidates asserted in
    * StreamingSpec). Emits (a_id, b_id) in append mode; a pair
    * colliding on both blocking passes appears twice — distinct at
    * the sink.
    */
  def erCandidateStream(deltaB: DataFrame, masterIdx: DataFrame)
      : DataFrame =
    graft.operators.EntityResolution.blockKeysRowwise(deltaB)
      .join(masterIdx, "bkey")
      .select(col("a_id"), col("rec_id").as("b_id"))

  /** Stream-static split-family candidate retrieval: a STREAMING
    * delta-doc shingle index (each micro-batch's (doc_id, shingle)
    * rows — [[graft.operators.Dedup.shingled]], map-only) joined
    * against the PERSISTED df-capped history postings
    * ([[graft.operators.Dedup.cappedPostings]] — the cap is applied
    * ONCE at persist time, never re-planned per micro-batch: a
    * shingle whose history df already exceeds the cap can never
    * survive the fold's combined-df cap, so dropping it statically
    * loses no candidate while bounding per-row fan-out, the
    * erCandidateStream discipline). Fully stateless; emits
    * (delta_doc, hist_doc, shingle) co-shingle hits in append mode —
    * the retrieval half of the nightly split fold
    * ([[graft.operators.Dedup.clusterSafeSplitIncrementalFromPostings]]
    * is the sink-side compaction; exact Jaccard needs the COMBINED
    * capped lists, so verification never lives in stream state).
    */
  def splitCandidateStream(deltaPostings: DataFrame,
                           histCapped: DataFrame): DataFrame =
    deltaPostings.select(col("doc_id").as("delta_doc"), col("shingle"))
      .join(histCapped, "shingle")
      .select(col("delta_doc"), col("hist_doc"), col("shingle"))

  /** Streaming Bradley–Terry comparison derivation: a stateful
    * `flatMapGroupsWithState` machine over the DELTA event stream,
    * keyed by user, whose per-user state is the single most-recent
    * event (O(1), |users|-bounded — never a history buffer) and whose
    * INITIAL STATE is the carry table ([[graft.operators.Learn
    * .btCarry]]: each user's last pre-cutoff event). Each arriving
    * event emits at most one decided comparison against the carried
    * predecessor ([[graft.operators.Learn.btDecide]] — the executor
    * twin of the batch lead-window decision) and replaces the state,
    * so the boundary pair (carry, first delta event) is produced
    * IN-STREAM — the carry contract btIncremental enforces with a
    * require is enforced here by the initial-state API itself, which
    * makes a duplicate carry key a loud runtime error.
    *
    * Ordering contract: the batch twin orders each user by
    * (ts, event_id). Within a micro-batch the machine sorts the
    * group's rows by that key; ACROSS micro-batches the order is the
    * arrival order, so the landing files must be time-split (a file
    * drop never contains an event earlier than a previous drop's for
    * the same user) — the real deployment contract for nightly/hourly
    * drops, asserted end to end by `pipeline_bt_e2e`'s landed-state
    * gate. NoTimeout: comparisons are emitted as soon as the successor
    * arrives, and leftover state (each user's last event) is exactly
    * next fold's carry — nothing to flush.
    */
  def btComparisonStream(spark: SparkSession, deltaEvents: DataFrame,
                         carry: DataFrame)
      : Dataset[graft.operators.Learn.BtCmp] = {
    import spark.implicits._
    import graft.operators.Learn
    import graft.operators.Learn.{BtCmp, BtEvent}
    def toEv(df: DataFrame): Dataset[BtEvent] = df.select(
      col("user_id").cast("long").as("user_id"),
      unix_micros(col("ts")).as("ts_us"),
      col("event_id").cast("long").as("event_id"),
      col("event_type"),
      col("value").cast("double").as("value")).as[BtEvent]
    toEv(deltaEvents).groupByKey(_.user_id)
      .flatMapGroupsWithState[BtEvent, BtCmp](OutputMode.Append,
        GroupStateTimeout.NoTimeout, toEv(carry).groupByKey(_.user_id)) {
        (_: Long, rows: Iterator[BtEvent], state: GroupState[BtEvent]) =>
          val sorted = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
          val out = Seq.newBuilder[BtCmp]
          var prev = state.getOption
          sorted.foreach { e =>
            prev.foreach { p =>
              if (p.event_type != e.event_type) out += Learn.btDecide(p, e)
            }
            prev = Some(e)
          }
          prev.foreach(state.update)
          out.result().iterator
      }
  }

  // ---- the three hops (K5 lifecycle; call .awaitTermination() on the
  //      returned query in a real deployment) ----

  /** Hop 1: Kafka-shaped stream → bronze parquet (kafka_to_bronze_trades.py).
    * `kafkaFrame` is any streaming DataFrame with the 7 standard Kafka
    * columns (a real Kafka source drops in unchanged; see TradeSource).
    */
  def kafkaLikeToBronze(kafkaFrame: DataFrame, bronzeDir: String,
                        checkpoint: String,
                        trigger: Trigger = DefaultTrigger): StreamingQuery =
    ParquetSinkQuery.start(Bronze.fromKafkaLike(kafkaFrame), bronzeDir, checkpoint,
      trigger = trigger)

  /** Hop 2: bronze dir → parsed, deduped silver parquet partitioned by
    * event_date (bronze_to_silver_trades.py; backfill = the batch path
    * with the same projectToSilver).
    */
  def bronzeToSilver(spark: SparkSession, bronzeDir: String, silverDir: String,
                     checkpoint: String, watermark: String = DefaultWatermark,
                     trigger: Trigger = HandoffTrigger,
                     maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    ParquetSinkQuery.start(
      // repartition on the sink partition column: without it the deduped
      // rows stay hash-partitioned by dedup keys, so EVERY task writes a
      // file into EVERY event_date dir (tasks × dates tiny files per
      // batch); with it each dir gets one file per batch. Standard
      // write-amplification control for partitioned streaming sinks —
      // at 100 TB use repartition(N, col) with N sized to data/128MB.
      dedupStreaming(
        Silver.projectToSilver(bronzeStream(spark, bronzeDir, maxFilesPerTrigger)),
        watermark).repartition(col("event_date")),
      silverDir, checkpoint, partitionCols = Seq("event_date"),
      trigger = trigger, upstream = Some(bronzeDir))

  /** Hop 3: silver dir → finalized 1-minute bars, partitioned by
    * (bar_date, symbol) by default (silver_to_gold_bars.py; partition
    * values with `/` in symbols are URL-escaped by Spark, round-trip
    * tested).
    *
    * `partitionCols` is a real tuning knob: partitioning by symbol is
    * only right while |symbols| is small (the reference tracks a handful
    * of pairs). At high symbol cardinality it becomes the classic
    * too-many-partitions anti-pattern — every (date, symbol) combo is a
    * directory with a near-empty file (measured: 1356 symbols × 31 days
    * = 40k dirs ≈ 400 s of pure file creation at sf0.1). Partition by
    * date and bucket-or-sort by symbol WITHIN files instead when the
    * symbol universe is large.
    */
  def silverToGold(spark: SparkSession, silverDir: String, goldDir: String,
                   checkpoint: String, barWidth: String = "1 minute",
                   watermark: String = DefaultWatermark,
                   trigger: Trigger = HandoffTrigger,
                   maxFilesPerTrigger: Option[Int] = None,
                   partitionCols: Seq[String] = Seq("bar_date", "symbol")): StreamingQuery =
    ParquetSinkQuery.start(
      // same write-amplification control as the silver hop: one file per
      // partition dir per batch instead of one per task×dir
      goldBarsStream(silverStream(spark, silverDir, maxFilesPerTrigger),
        barWidth, watermark)
        .repartition(partitionCols.map(col): _*),
      goldDir, checkpoint, partitionCols = partitionCols,
      trigger = trigger, upstream = Some(silverDir))

  /** Runs one micro-batch's sink work; a failure is recorded with
    * [[HarnessGuard]] (Spark may retry it out of sight), then rethrown.
    */
  private[graft] def recorded[T](what: String)(f: => T): T =
    try f catch { case e: Throwable =>
      HarnessGuard.record(s"$what failed: $e")
      throw e
    }

  /** True iff `e` is the missing/empty-sink analysis error a FIRST
    * micro-batch legitimately hits reading its own output dir back:
    * the path doesn't exist yet, or exists with no parquet footers to
    * infer a schema from. Everything else is a REAL failure of an
    * existing sink and must propagate loudly (the read-merge-overwrite
    * upsert would otherwise truncate state it failed to read).
    */
  private[graft] def isMissingSinkError(
      e: org.apache.spark.sql.AnalysisException): Boolean =
    Option(e.getCondition).exists(c =>
      c == "PATH_NOT_FOUND" || c.startsWith("UNABLE_TO_INFER_SCHEMA"))

  /** [[silverToGoldLive]] at per-(bar_date, hour) upsert granularity —
    * the restate discipline applied to the live sink: each micro-batch
    * reads the touched HOURS back from the sink, replaces the bars the
    * batch restates (anti join on (symbol, bar_start)), and rewrites
    * whole hour partitions. Dir churn drops from bars-touched to
    * hours-touched per trigger at the cost of a sink read-back and a
    * full-hour rewrite per touched hour. Measured at sf0.1 (6 h tail,
    * AvailableNow): see BASELINE.md's bars_live floor note — whichever
    * granularity wins is recorded there.
    */
  def silverToGoldLiveHourly(spark: SparkSession, silverDir: String,
                             goldDir: String, checkpoint: String,
                             barWidth: String = "1 minute",
                             watermark: String = DefaultWatermark,
                             trigger: Trigger = DefaultTrigger,
                             maxFilesPerTrigger: Option[Int] = None)
      : StreamingQuery = {
    goldBarsStream(silverStream(spark, silverDir, maxFilesPerTrigger),
        barWidth, watermark)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val ss = batch.sparkSession
        val b = batch.withColumn("bar_hour", hour(col("bar_start")))
        val touched = b.select(col("bar_date"), col("bar_hour")).distinct()
        // first batch: no sink yet (schema inference fails) → empty.
        // ONLY the missing/empty-sink condition may fall back: any
        // other AnalysisException (schema drift, a sink left
        // inconsistent by a failed overwrite) must propagate, or the
        // dynamic overwrite below would silently truncate every
        // touched hour partition to just the delta bars.
        val existing =
          try ss.read.parquet(goldDir)
            .join(broadcast(touched), Seq("bar_date", "bar_hour"),
              "left_semi")
            .join(b.select(col("symbol"), col("bar_start")),
              Seq("symbol", "bar_start"), "left_anti")
          catch {
            case e: org.apache.spark.sql.AnalysisException
                if isMissingSinkError(e) => b.limit(0)
          }
        // INVARIANT: `existing` is read FROM goldDir and written back
        // TO goldDir below — the EAGER localCheckpoint(true) must
        // materialize the merge before the dynamic overwrite deletes
        // the hour dirs it read.
        val merged = existing.unionByName(b).localCheckpoint(true)
        recorded("live-bars hourly upsert batch")(merged.write
          .mode("overwrite").partitionBy("bar_date", "bar_hour")
          .option("partitionOverwriteMode", "dynamic")
          .option("compression", "snappy").parquet(goldDir))
      }
      .start()
  }

  /** LIVE bars: update-mode aggregation + foreachBatch upsert via
    * DYNAMIC partition overwrite. Append mode only emits a bar once the
    * watermark passes bar_end (§T3) — correct but minutes stale; this
    * sink keeps the current in-progress bar queryable by rewriting only
    * the partitions that changed in each micro-batch. The partition key
    * includes bar_start so one partition == one bar and the overwrite is
    * a true per-bar upsert (coarser keys would drop sibling bars). This
    * is the parquet-dir equivalent of a Delta MERGE; per-batch write
    * cost is bounded by bars-touched-per-trigger, not table size. Meant
    * for the live tail — the finalized append table remains the
    * long-term store (compact the tail into it periodically).
    */
  def silverToGoldLive(spark: SparkSession, silverDir: String, goldDir: String,
                       checkpoint: String, barWidth: String = "1 minute",
                       watermark: String = DefaultWatermark,
                       trigger: Trigger = DefaultTrigger): StreamingQuery = {
    goldBarsStream(silverStream(spark, silverDir), barWidth, watermark)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        recorded("live-bars upsert batch")(batch.write.mode("overwrite")
          .partitionBy("bar_date", "symbol", "bar_start")
          .option("partitionOverwriteMode", "dynamic")
          .option("compression", "snappy").parquet(goldDir))
      }
      .start()
  }
}
