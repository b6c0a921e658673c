package graft

import org.apache.spark.sql.functions._

/** Dev tool: build an N× replica corpus for scaling measurements
  * (usage: `runMain graft.Replicate <srcSfDir> <dstDir> <n>`) — the
  * round-7 method, now committed instead of a one-off: N replicas of
  * the source tables with DISJOINT id spaces, each preserving its
  * replica's internal structure so the workload scales exactly N× by
  * construction.
  *
  *  - documents: disjoint doc_ids (stride 10⁷); every whitespace token
  *    carries a replica tag (`tok` → `tokr<r>`), so within-replica
  *    exact/near-dup structure is preserved byte-for-byte while no
  *    shingle, fingerprint, or vocabulary entry collides across
  *    replicas. `source` is kept (domains grow N× in mass, realistic
  *    for a crawl); n_chars recomputed over the tagged text.
  *  - events: disjoint event_ids (stride 10⁹) and user_ids (stride
  *    10⁶); ts/event_type/value/props unchanged — every user's
  *    ordered stream is replicated intact, so window partitions
  *    multiply (more parallelism, same per-user work) and the BT/
  *    session vocabularies stay fixed while fact mass scales N×.
  *
  * Only the three fact-scale tables the heavy families read are
  * built; repartition happens BEFORE the explode so row fan-out runs
  * wide.
  */
object Replicate {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Replicate <srcSfDir> <dstDir> <n>")
    val (src, dst, n) = (args(0), args(1), args(2).toInt)
    val spark = GraftSession.harness()
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rep = explode(sequence(lit(0L), lit(n - 1L)))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    docs.repartition(32).withColumn("r", rep)
      .select(
        (col("doc_id") + col("r") * 10000000L).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, lit("r"), col("r")))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    // embeddings: disjoint vec_ids (stride 10⁵); each replica's copy
    // of a vector is perturbed deterministically in dimension 0 by
    // r·1e-3 — replicas are DISTINCT vectors (no exact cross-replica
    // duplicates) but sit at near-1 cosine to their siblings, i.e.
    // every vector gains ~(n−1) near-duplicate copies: the crawl-like
    // worst case for the LSH/near-dup legs, which the bucket caps must
    // bound (that stress IS what the 100× measurement checks).
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    emb.repartition(32).withColumn("r", rep)
      .select(
        (col("vec_id") + col("r") * 100000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> CASE WHEN i = 0 " +
          "THEN CAST(x + r * 0.001 AS FLOAT) ELSE x END)")
          .as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    val ev = spark.read.parquet(s"$src/events.parquet")
    ev.repartition(64).withColumn("r", rep)
      .select(
        (col("event_id") + col("r") * 1000000000L).as("event_id"),
        col("ts"),
        (col("user_id") + col("r") * 1000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    println(s"[replicate] wrote ${n}x documents+embeddings+events from $src to $dst")
    spark.stop()
  }
}
