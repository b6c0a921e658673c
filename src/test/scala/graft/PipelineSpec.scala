package graft

import org.apache.spark.sql.functions._

import graft.operators.{Gold, Trades}
import graft.streaming.Pipeline

/** Whole-pipeline streaming parity: the three real file-stream hops
  * (AvailableNow) must produce gold bars identical to the batch plan
  * over ms-truncated trades (the wire serializes ms epochs — see
  * Pipeline's scaladoc; the sf0.01 DuckDB oracle makes the same check
  * cross-engine via the pipeline_gold_e2e CORRECTNESS entry).
  */
class PipelineSpec extends SparkSpec {

  test("e2e streamed gold equals ms-truncated batch bars at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val cols = Seq("symbol", "bar_start", "bar_end", "open", "high", "low",
      "close", "volume", "vwap", "trades", "bar_date")
    val got = Pipeline.goldE2E(spark, dir).collect().toSeq
    val msTrades = Trades.fromEvents(Tables.events(spark, dir))
      .withColumn("event_time", timestamp_millis(unix_millis(col("event_time"))))
    val want = Gold.bars(msTrades)
      .select(cols.map(col): _*)
      .orderBy(col("symbol"), col("bar_start"))
      .collect().toSeq
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("e2e streamed corpus curation equals batch quality ∘ incrementalApply") {
    import graft.operators.{Dedup, TextAnalysis}
    val dir = "/root/testdata/sf0.001"
    val got = Pipeline.corpusE2E(spark, dir).collect().toSeq
    val docs = Tables.documents(spark, dir)
    val isHist = pmod(graft.functions.TextFunctions.hash60(
      concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
    val want = Dedup.incrementalApply(
        Dedup.minhashSignatures(docs.filter(isHist)),
        docs.filter(!isHist)
          .select(col("doc_id"), col("text"),
            TextAnalysis.qualityScoreCol.as("quality_score"))
          .filter(col("quality_score") >= 0.35))
      .select(col("doc_id"), col("quality_score"))
      .orderBy(col("doc_id"))
      .collect().toSeq
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("e2e streamed restatement equals full batch recompute at sf0.001") {
    // the session is pinned to STATIC overwrite: only the per-write
    // dynamic option keeps the fold from truncating every untouched
    // bar_date partition, and the drain must leave the conf untouched
    val key = "spark.sql.sources.partitionOverwriteMode"
    val dir = "/root/testdata/sf0.001"
    spark.conf.set(key, "static")
    try {
      // built first: reading events sets a parquet-read conf of its own
      val want = Gold.bars(Trades.fromEvents(Tables.events(spark, dir)))
        .orderBy(col("symbol"), col("bar_start"))
      val before = spark.conf.getAll
      val got = Pipeline.restateE2E(spark, dir).collect().toSeq
      assert(spark.conf.getAll == before)
      val wantRows = want.collect().toSeq
      assert(wantRows.nonEmpty)
      assert(got.map(_.toString) == wantRows.map(_.toString))
    } finally spark.conf.unset(key)
  }
}
