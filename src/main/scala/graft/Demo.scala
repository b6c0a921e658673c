package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators._
import graft.streaming.Streams

/** End-to-end lakehouse demo over the harness data: events → Kafka-shaped
  * frames → Bronze → Silver (dedup) → Gold (bars) → analytics, all three
  * hops as REAL streaming queries over temp directories.
  *
  * Usage: runMain graft.Demo [sfDir]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder(master = "local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def tmp(p: String) = Files.createTempDirectory(p).toString
    val (bronzeDir, silverDir, goldDir) =
      (tmp("demo_bronze"), tmp("demo_silver"), tmp("demo_gold"))

    // producer edge: land Kafka-shaped wire frames as the bronze input
    Bronze.fromKafkaLike(Bronze.kafkaWireFromEvents(Tables.events(spark, sfDir)))
      .write.mode("overwrite").parquet(bronzeDir)

    val hop2 = Streams.bronzeToSilver(spark, bronzeDir, silverDir,
      tmp("demo_ck2"), trigger = Trigger.AvailableNow())
    hop2.awaitTermination()
    val hop3 = Streams.silverToGold(spark, silverDir, goldDir,
      tmp("demo_ck3"), trigger = Trigger.AvailableNow())
    hop3.awaitTermination()

    val silver = spark.read.parquet(silverDir)
    val gold = spark.read.parquet(goldDir)
    println(s"bronze rows:  ${spark.read.parquet(bronzeDir).count()}")
    println(s"silver rows:  ${silver.count()} (deduped, partitioned by event_date)")
    println(s"gold bars:    ${gold.count()} (finalized, partitioned by bar_date,symbol)")

    val enriched = Analytics.enrich(gold)
    println(s"anomalies:    ${enriched.filter(col("is_return_anom") ||
      col("is_volume_anom")).count()}")
    println("last 5 bars of SYM_7:")
    Analytics.lastK(gold.filter(col("symbol") === "SYM_7"), 5)
      .select("symbol", "bar_start", "open", "high", "low", "close", "volume")
      .show(truncate = false)
    spark.stop()
  }
}
