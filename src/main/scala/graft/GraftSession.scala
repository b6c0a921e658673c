package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.{GraftExtensions, LocalCheckpointFileManager}

/** Recommended session wiring for the engine.
  *
  * The defaults encode the 100 TB posture (SURVEY §4, §7): AQE owns
  * runtime re-planning (coalesce + skew-join splitting), shuffle
  * parallelism follows the machine rather than Spark's legacy 200,
  * timestamps are pinned UTC so event-time semantics are reproducible,
  * and the engine's SQL functions are installed. On a real cluster only
  * `shufflePartitions` changes (≈ 2-3× total executor cores).
  */
object GraftSession {

  def builder(master: String = "local[*]",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors)
      : SparkSession.Builder =
    engine(SparkSession.builder())
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // 128 MB scan splits: big enough for vectorized parquet, small
      // enough that a 1000-executor cluster keeps every core busy
      .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)

  /** The measured session: the conf every harness main (Bench, Verify,
    * Replicate, Measure) and the specs run on. No extensions and no AQE
    * overrides, so the plans it times are the plans Verify checks.
    * `cpus` defaults to `SPARK_GRAFT_CPUS`, else 4.
    */
  def harness(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt))
      : SparkSession.Builder =
    engine(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")

  /** The conf the product session and the harness session share. */
  private def engine(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      // the generated-class cache defaults to 100 entries; a workload
      // with hundreds of distinct plans (this registry) thrashes
      // it and pays Janino recompiles mid-run — measured as the
      // lm_score_bigram / dedup_edit_distance bench spread
      // (SCALING.md). Static conf: must be set before the session.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // checkpoint files on local disk without Hadoop's per-file
      // chmod/readlink child processes; other schemes keep Spark's
      // manager. Every state store, metadata log and session clone
      // reads it from the session conf.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[LocalCheckpointFileManager].getName)

  /** Build (or reuse) and finish wiring an existing session. */
  def getOrCreate(master: String = "local[*]"): SparkSession = {
    val spark = builder(master).getOrCreate()
    GraftExtensions.register(spark)
    spark
  }
}
