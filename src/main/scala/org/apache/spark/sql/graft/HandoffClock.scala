package org.apache.spark.sql.graft

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.execution.streaming.ProcessingTimeTrigger
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.util.SystemClock

/** The trigger clock of a streaming hop that reads another hop's sink:
  * a wait between two `ProcessingTime` triggers ends at its target time
  * or as soon as there is a batch to run, whichever comes first.
  *
  * There is a batch to run when the upstream's sink log
  * (`_spark_metadata`) has published its next batch file (`<id>` or
  * `<id>.compact`): new input. There may be one when the hop's own
  * commit log (`commits/`) gained an entry during the trigger before
  * the wait: a stateful hop may owe a no-data batch that evicts state
  * or emits what the new watermark finalized. So the trigger interval
  * is only the upper bound on a wait.
  *
  * Each log is listed once, when the clock is made, to find its latest
  * id. Only the query's own thread writes its commit log, so a wait
  * checks it once, as it starts. It checks the sink log then and every
  * [[HandoffClock.PollMs]] ms after, with one `stat` of each name the
  * next id may take, on the query's own thread. That sees any writer
  * on the same local disk, another JVM's too. A file a checkpoint
  * manager is still writing (`.<id>.<uuid>.tmp`) is not the next id. A
  * log whose ids skip one stops waking the query: its waits run to
  * their target, as without this clock.
  */
final class HandoffClock private (sinkLog: Option[HandoffClock.Log],
                                  commitLog: Option[HandoffClock.Log]) extends SystemClock {
  import HandoffClock._

  override def waitTillTime(targetTime: Long): Long = {
    var now = System.currentTimeMillis()
    // `|`, not `||`: both logs move past what they published
    var woke = commitLog.exists(_.advanced()) | sinkLog.exists(_.advanced())
    while (now < targetTime && !woke) {
      Thread.sleep(math.min(targetTime - now, PollMs))
      now = System.currentTimeMillis()
      woke = sinkLog.exists(_.advanced())
    }
    now
  }
}

object HandoffClock {
  /** How often a wait checks the upstream's sink log. */
  val PollMs = 10L

  /** A clock over the sink log dir `sinkLog` and the commit log dir
    * `commitLog`; a dir that is not on the local file system is not
    * watched.
    */
  def apply(hadoopConf: Configuration, sinkLog: String, commitLog: String): HandoffClock = {
    def local(dir: String): Option[Log] = {
      val uri = new Path(dir).toUri
      val scheme = Option(uri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
      if (scheme == "file") Some(new Log(new File(uri.getPath))) else None
    }
    new HandoffClock(local(sinkLog), local(commitLog))
  }

  /** A metadata log dir and the next batch id it may publish. Uses
    * `File.exists`, not `Files.exists`: on JDK 17 the latter throws,
    * and fills in a stack trace, for every file that is not there.
    */
  private[graft] final class Log(dir: File) {
    private var next = Option(dir.list()).toSeq.flatten.map(_.stripSuffix(".compact"))
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).maxOption.fold(0L)(_ + 1)
    private var names = files(next)

    private def files(id: Long) = Seq(new File(dir, id.toString), new File(dir, s"$id.compact"))

    /** Whether the log published its next id since the last call (or
      * since it was made); moves past every id it published.
      */
    def advanced(): Boolean = {
      val from = next
      while (names.exists(_.exists())) {
        next += 1
        names = files(next)
      }
      next != from
    }
  }
}

/** The one way the engine starts a streaming query into an append-mode,
  * snappy parquet file sink: Spark's own file sink, started through the
  * query manager so that the query gets its trigger clock. Lives in
  * this package because `startQuery` is `private[sql]`, and
  * `DataStreamWriter.start` always passes the system clock.
  *
  * With a `ProcessingTime` trigger and an `upstream` sink dir, the
  * clock is a [[HandoffClock]] over the upstream's `_spark_metadata`
  * and the query's own `commits/`. Any other trigger (AvailableNow never
  * waits) or no upstream gets the system clock.
  */
object ParquetSinkQuery {
  def start(df: DataFrame, path: String, checkpoint: String,
            partitionCols: Seq[String] = Nil, trigger: Trigger,
            upstream: Option[String] = None): StreamingQuery = {
    val ds = df.asInstanceOf[ClassicDataset[_]]
    val spark = ds.sparkSession
    val options = Map("path" -> path, "checkpointLocation" -> checkpoint,
      "compression" -> "snappy")
    val sink = DataSource(spark, className = "parquet", partitionColumns = partitionCols,
      options = options).createSink(OutputMode.Append())
    val clock = (trigger, upstream) match {
      case (_: ProcessingTimeTrigger, Some(up)) =>
        HandoffClock(spark.sessionState.newHadoopConf(),
          new Path(up, "_spark_metadata").toString, new Path(checkpoint, "commits").toString)
      case _ => new SystemClock
    }
    spark.sessionState.streamingQueryManager.startQuery(None, Some(checkpoint), ds, options,
      sink, OutputMode.Append(), trigger = trigger, triggerClock = clock)
  }
}
