package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.graft.{HandoffClock, LocalCheckpointFileManager, ParquetSinkQuery}
import org.apache.spark.sql.streaming.Trigger

/** The trigger clock of the hops fed by another hop's sink: a wait ends
  * when a watched metadata log publishes its next batch file, and
  * otherwise at its target, as the system clock's does.
  */
class HandoffSpec extends SparkSpec {
  import spark.implicits._

  private def hadoopConf =
    spark.asInstanceOf[ClassicSession].sessionState.newHadoopConf()

  private def tmpDir(prefix: String): NioPath = Files.createTempDirectory(prefix)

  /** A clock over the sink log `sinkLog` and a commit log that is not
    * there yet, as on a hop's first start, unless `commitLog` is given.
    */
  private def clock(sinkLog: NioPath, commitLog: Option[NioPath] = None) =
    HandoffClock(hadoopConf, sinkLog.toString,
      commitLog.getOrElse(tmpDir("graft_handoff_ck").resolve("commits")).toString)

  /** Opens the batch file `name` in `dir` the way Spark's metadata logs
    * write it: a `.<name>.<uuid>.tmp` file, published by `close`.
    */
  private def open(dir: NioPath, name: String) = {
    val out = new LocalCheckpointFileManager(new Path(dir.toUri), hadoopConf)
      .createAtomic(new Path(dir.resolve(name).toUri), false)
    out.write("v1".getBytes(UTF_8))
    out
  }

  /** Runs `f` on another thread after `ms` ms; returns when `f` ended. */
  private def after(ms: Long)(f: => Unit): () => Long = {
    @volatile var at = 0L
    val t = new Thread(() => { Thread.sleep(ms); f; at = System.currentTimeMillis() })
    t.start()
    () => { t.join(); at }
  }

  /** A wait for `ms` ms: when it returned, and that it ran to its end. */
  private def timedWait(c: HandoffClock, ms: Long): Unit = {
    val target = System.currentTimeMillis() + ms
    val back = c.waitTillTime(target)
    assert(back >= target && System.currentTimeMillis() >= target,
      s"the wait returned ${target - back} ms early")
  }

  /** Waits up to 20 s for `cond`. */
  private def await(what: String)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + 20000L
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(20)
    assert(cond, s"gave up waiting for $what")
  }

  test("a wait ends within 200 ms of the next log file (<id> or <id>.compact) being published") {
    val dir = tmpDir("graft_handoff_wake")
    Seq("0", "1").foreach(n => Files.write(dir.resolve(n), Array[Byte](1)))
    val c = clock(dir)
    Seq("2", "3.compact").foreach { name =>
      val target = System.currentTimeMillis() + 10000L
      val published = after(300)(open(dir, name).close())
      val back = c.waitTillTime(target)
      val at = published()
      assert(back < target - 9000L, s"$name: woke ${target - back} ms before the target")
      assert(back - at < 200L, s"$name: woke ${back - at} ms after the publish")
    }
  }

  test("a checkpoint manager's .<id>.<uuid>.tmp file is not the next entry") {
    val dir = tmpDir("graft_handoff_tmp")
    Files.write(dir.resolve("0"), Array[Byte](1))
    val c = clock(dir)
    val out = open(dir, "1")
    assert(Files.list(dir).anyMatch(_.getFileName.toString.startsWith(".1.")))
    timedWait(c, 400)
    out.close()
    val target = System.currentTimeMillis() + 10000L
    assert(c.waitTillTime(target) < target - 9000L)
  }

  test("with no new entry the wait returns at its target, not before") {
    val Seq(sink, commits) = Seq("sink", "commits").map(n => tmpDir(s"graft_handoff_$n"))
    Seq("0", "1", "2.compact").foreach(n => Files.write(sink.resolve(n), Array[Byte](1)))
    Files.write(commits.resolve("2"), Array[Byte](1))
    val c = clock(sink, Some(commits))
    // entries published before the clock was made do not wake it
    timedWait(c, 300)
    timedWait(c, 300)
  }

  test("a commit made before the wait ends it at once") {
    val Seq(sink, commits) = Seq("sink", "commits").map(n => tmpDir(s"graft_handoff_$n"))
    val c = clock(sink, Some(commits))
    open(commits, "0").close()
    val target = System.currentTimeMillis() + 10000L
    assert(c.waitTillTime(target) < target - 9900L)
    timedWait(c, 300)
  }

  test("a missing directory or a non-file: path falls back to the plain wait") {
    timedWait(clock(tmpDir("graft_handoff_gone").resolve("_spark_metadata")), 300)
    timedWait(HandoffClock(hadoopConf, "s3a://bucket/sink/_spark_metadata",
      "s3a://bucket/ck/commits"), 300)
  }

  test("a hop on a 10-minute trigger starts when its upstream commits; stop() returns in 1 s") {
    val Seq(landing, up, down, ckUp, ckDown) =
      Seq("landing", "up", "down", "ck_up", "ck_down").map(n => tmpDir(s"graft_handoff_$n"))
    Files.createDirectories(up.resolve("_spark_metadata"))
    val schema = Seq(1L).toDF("n").schema
    def stream(dir: NioPath) = spark.readStream.schema(schema).parquet(dir.toString)
    val hop = ParquetSinkQuery.start(stream(up), down.toString, ckDown.toString,
      trigger = Trigger.ProcessingTime("10 minutes"), upstream = Some(up.toString))
    try {
      // its first trigger found nothing; it now waits out its 10 minutes
      await("the first trigger")(hop.recentProgress.nonEmpty && !hop.status.isTriggerActive)
      Seq(1L, 2L, 3L).toDF("n").write.mode("append").parquet(landing.toString)
      ParquetSinkQuery.start(stream(landing), up.toString, ckUp.toString,
        trigger = Trigger.AvailableNow()).awaitTermination()
      val committed = System.currentTimeMillis()
      await("the data batch")(hop.recentProgress.exists(_.numInputRows > 0))
      val picked = System.currentTimeMillis() - committed
      assert(picked < 5000L, s"the hop picked up its upstream's commit after $picked ms")
      // after its batch and the trigger its commit woke, it waits again
      await("the wait")(!hop.status.isTriggerActive)
      Thread.sleep(200)
      val t0 = System.currentTimeMillis()
      hop.stop()
      val stopped = System.currentTimeMillis() - t0
      assert(stopped < 1000L, s"stop() took $stopped ms")
      assert(spark.read.parquet(down.toString).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    } finally hop.stop()
  }
}
