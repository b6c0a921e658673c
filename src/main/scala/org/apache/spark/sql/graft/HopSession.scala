package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** The session a pipeline's streaming hops start from when they need a
  * shuffle-partition count other than the caller's: a clone of the
  * caller's session, so it inherits the caller's runtime conf, with the
  * count set on the clone only. The caller's conf never changes, and
  * each hop's offset log records the count it ran with. Lives in this
  * package because `cloneSession` is `private[sql]`.
  *
  * One clone per (caller, count), reused while the caller's conf is
  * what it was when the clone was made (a changed conf gets a new
  * clone): every session that starts a stream registers a
  * `StreamingQueryListenerBus` on the SparkContext listener bus for
  * good, and a reused clone keeps its generated-code cache warm across
  * calls.
  */
object HopSession {
  private val clones =
    new java.util.WeakHashMap[SparkSession, Map[Int, (Map[String, String], SparkSession)]]()

  def apply(spark: SparkSession, shufflePartitions: Int): SparkSession =
    clones.synchronized {
      val caller = spark.asInstanceOf[ClassicSession]
      val conf = caller.sessionState.conf.getAllConfs
      val mine = Option(clones.get(spark)).getOrElse(Map.empty)
      mine.get(shufflePartitions) match {
        case Some((made, hop)) if made == conf => hop
        case _ =>
          val hop = caller.cloneSession()
          hop.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toLong)
          clones.put(spark, mine + (shufflePartitions -> (conf, hop)))
          hop
      }
    }

  /** The streaming-query listener buses on `spark`'s SparkContext. */
  def streamingListenerBuses(spark: SparkSession): Int =
    spark.sparkContext.listenerBus.listeners.asScala
      .count(_.isInstanceOf[StreamingQueryListenerBus])
}
