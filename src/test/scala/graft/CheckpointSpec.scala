package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{HopSession, LocalCheckpointFileManager}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Bronze, Silver}
import graft.streaming.Streams

/** The engine's checkpoint file manager: its atomic-publish contract,
  * its wiring into every session, the child processes a drain still
  * starts, and checkpoints that move between it and Spark's manager.
  */
class CheckpointSpec extends SparkSpec {

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def hadoopConf(s: SparkSession) =
    s.asInstanceOf[ClassicSession].sessionState.newHadoopConf()

  private def tmpDir(prefix: String): NioPath = Files.createTempDirectory(prefix)

  private def manager(dir: NioPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), hadoopConf(spark))

  private def write(m: CheckpointFileManager, p: NioPath, text: String,
                    overwrite: Boolean): Unit = {
    val out = m.createAtomic(new Path(p.toUri), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(p: NioPath): String = new String(Files.readAllBytes(p), UTF_8)

  private def names(dir: NioPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("createAtomic publishes on close only, leaving no temp file") {
    val dir = tmpDir("graft_cfm_publish")
    val dst = dir.resolve("0")
    val out = manager(dir).createAtomic(new Path(dst.toUri), false)
    out.write("v1".getBytes(UTF_8))
    out.flush()
    assert(!Files.exists(dst))
    out.close()
    assert(read(dst) == "v1")
    assert(names(dir) == Set("0"))
  }

  test("cancel leaves neither the file nor its temp file") {
    val dir = tmpDir("graft_cfm_cancel")
    val out = manager(dir).createAtomic(new Path(dir.resolve("0").toUri), true)
    out.write("v1".getBytes(UTF_8))
    out.cancel()
    out.close()
    assert(names(dir).isEmpty)
  }

  test("a no-overwrite publish onto an existing file fails and keeps its bytes") {
    val dir = tmpDir("graft_cfm_exists")
    val m = manager(dir)
    val dst = dir.resolve("0")
    write(m, dst, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(m, dst, "second", overwrite = false))
    assert(read(dst) == "first")
    assert(names(dir) == Set("0"))
    // a file Spark's manager wrote keeps its checksum too
    val old = dir.resolve("1")
    write(new FileContextBasedCheckpointFileManager(new Path(dir.toUri), hadoopConf(spark)),
      old, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(m, old, "second", overwrite = false))
    assert(read(old) == "first")
    assert(names(dir) == Set("0", "1", ".1.crc"))
  }

  test("an overwrite replaces the bytes and drops the .crc Spark's manager left") {
    val dir = tmpDir("graft_cfm_overwrite")
    val dst = dir.resolve("1.delta")
    val spark0 = new FileContextBasedCheckpointFileManager(
      new Path(dir.toUri), hadoopConf(spark))
    write(spark0, dst, "old", overwrite = true)
    assert(Files.exists(dir.resolve(".1.delta.crc")))
    write(manager(dir), dst, "newer bytes", overwrite = true)
    assert(names(dir) == Set("1.delta"))
    // Spark's manager reads it back through ChecksumFs without a stale
    // checksum to trip over
    val in = spark0.open(new Path(dst.toUri))
    try assert(new String(in.readAllBytes(), UTF_8) == "newer bytes")
    finally in.close()
  }

  test("a non-file: path keeps Spark's default manager") {
    // everything the engine's manager does not override is Spark's
    // FileContext-based manager, and only file: paths are overridden
    assert(classOf[LocalCheckpointFileManager].getSuperclass ==
      classOf[FileContextBasedCheckpointFileManager])
    val m = manager(tmpDir("graft_cfm_scheme"))
    assert(m.localFile(new Path("hdfs://127.0.0.1:8020/ck/offsets/0")).isEmpty)
    assert(m.localFile(new Path("s3a://bucket/ck/commits/0")).isEmpty)
    assert(m.localFile(new Path("file:/tmp/ck/offsets/0")).nonEmpty)
    assert(m.localFile(new Path("/tmp/ck/offsets/0")).nonEmpty)
  }

  test("the product, harness and hop sessions all resolve the engine's manager") {
    // `create` makes a session of its own on the running context; the
    // shared session stays the default and active one
    def made(b: SparkSession.Builder): SparkSession =
      try b.create()
      finally {
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
    val dir = new Path(tmpDir("graft_cfm_sessions").toUri)
    val sessions = Seq(
      "builder" -> made(GraftSession.builder(master = "local[1]", shufflePartitions = 2)),
      "harness" -> made(GraftSession.harness(4)),
      "hop" -> HopSession(spark, 3))
    sessions.foreach { case (name, s) =>
      assert(s.conf.get(managerKey) == classOf[LocalCheckpointFileManager].getName, name)
      assert(CheckpointFileManager.create(dir, hadoopConf(s)).getClass ==
        classOf[LocalCheckpointFileManager], name)
    }
  }

  // ---- drains over bronze drops ----

  /** Bronze rows of the sf0.001 trades in four event-time slices, one
    * parquet file each, so a drain at one file per trigger sees event
    * time move forward drop by drop.
    */
  private lazy val slices: Seq[DataFrame] = {
    val bronze = Bronze.fromKafkaLike(Bronze.kafkaWireFromEvents(
      Tables.events(spark, "/root/testdata/sf0.001")))
    val ts = bronze.agg(min("ts_kafka").cast("long"), max("ts_kafka").cast("long")).head
    val (lo, hi) = (ts.getLong(0), ts.getLong(1) + 1)
    (0 until 4).map { i =>
      val (from, to) = (lo + (hi - lo) * i / 4, lo + (hi - lo) * (i + 1) / 4)
      bronze.filter(col("ts_kafka").cast("long") >= from && col("ts_kafka").cast("long") < to)
    }
  }

  /** Lands `drop` as one more file of the bronze dir. */
  private def land(bronzeDir: NioPath, drop: DataFrame): Unit =
    drop.coalesce(1).write.mode("append").parquet(bronzeDir.toString)

  private def drained(q: StreamingQuery): Seq[Long] = {
    q.awaitTermination()
    q.recentProgress.map(_.batchId).toSeq.distinct
  }

  private def silverHop(s: SparkSession, bronzeDir: NioPath, silverDir: NioPath,
                        ck: NioPath): Seq[Long] =
    drained(Streams.bronzeToSilver(s, bronzeDir.toString, silverDir.toString,
      ck.toString, trigger = Trigger.AvailableNow(), maxFilesPerTrigger = Some(1)))

  test("fork ledger: checkpoint I/O of a bronze→silver→gold drain starts no process") {
    val root = tmpDir("graft_cfm_forks")
    val Seq(bronze, silver, gold) = Seq("bronze", "silver", "gold").map(root.resolve)
    // three drops, then replays of the first two
    (slices.take(3) ++ slices.take(2)).foreach(land(bronze, _))
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      silverHop(spark, bronze, silver, root.resolve("ck2"))
      Streams.silverToGold(spark, silver.toString, gold.toString,
        root.resolve("ck3").toString, trigger = Trigger.AvailableNow(),
        partitionCols = Seq("bar_date"))
        .awaitTermination()
    } finally rec.stop()
    val jfr = root.resolve("forks.jfr")
    rec.dump(jfr)
    rec.close()
    val starts = RecordingFile.readAllEvents(jfr).asScala.toSeq.map { e =>
      val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
      (e.getString("command"), frames)
    }
    val fromCheckpoints = starts.filter(_._2.exists(_.contains("CheckpointFileManager")))
    assert(fromCheckpoints.isEmpty, s"checkpoint I/O started ${fromCheckpoints.size} " +
      s"processes, first: ${fromCheckpoints.headOption}")
    assert(!starts.exists(_._1.startsWith("readlink")), "a readlink was started")
    // what the drain's file I/O still starts, all of it `chmod` from
    // Hadoop's local filesystem: two per parquet data file of the two
    // sinks (the file and its .crc, ChecksumFileSystem.create →
    // RawLocalFileSystem.setPermission) and one per directory a
    // recursive mkdirs makes. JVM housekeeping (the heartbeat's one
    // `getconf`, a dropped session's artifact-dir `rm`) is not counted.
    val origins = Map("data file" -> "org.apache.hadoop.fs.ChecksumFileSystem.create",
      "mkdirs" -> "org.apache.hadoop.fs.RawLocalFileSystem.mkdirs")
    val fileIo = starts.filter(_._2.exists(_.startsWith("org.apache.hadoop.fs.")))
    val ledger = fileIo.groupBy { case (cmd, frames) =>
      val origin = frames.collectFirst(Function.unlift(f =>
        origins.collectFirst { case (k, o) if f.startsWith(o) => k }))
      s"${cmd.split(' ').head} via ${origin.getOrElse(frames.find(_.startsWith("org.apache.hadoop.fs.")).get)}"
    }.view.mapValues(_.size).toMap
    val allowed = Map("chmod via data file" -> 94, "chmod via mkdirs" -> 46)
    assert(ledger == allowed, s"process starts of the drain's file I/O: $ledger, " +
      s"ledger $allowed")
  }

  test("a dedup hop's checkpoint moves between Spark's manager and the " +
      "engine's in both directions") {
    // Spark's own manager on a session of its own: the shared Hadoop
    // conf names the engine's class, so it is set, not unset, here
    val sparkManaged = spark.newSession()
    sparkManaged.conf.set(managerKey, classOf[FileContextBasedCheckpointFileManager].getName)
    val directions = Seq("spark→engine" -> (sparkManaged, spark),
      "engine→spark" -> (spark, sparkManaged))
    directions.foreach { case (name, (first, second)) =>
      val root = tmpDir("graft_cfm_mixed")
      val Seq(bronze, silver, ck) = Seq("bronze", "silver", "ck").map(root.resolve)
      slices.take(2).foreach(land(bronze, _))
      val run1 = silverHop(first, bronze, silver, ck)
      // a stop between the last batch's state commit and its commit-log
      // entry: the resumed query replays that batch, overwriting the
      // state deltas the first manager wrote for it
      val replayed = run1.last
      val deltas = Files.walk(ck.resolve("state")).iterator().asScala.toSeq
        .map(_.getFileName.toString)
      assert(deltas.contains(s"${replayed + 1}.delta"), name)
      if (first eq sparkManaged) assert(deltas.contains(s".${replayed + 1}.delta.crc"), name)
      Seq(s"$replayed", s".$replayed.crc")
        .foreach(f => Files.deleteIfExists(ck.resolve("commits").resolve(f)))
      Seq(slices(2), slices(0)).foreach(land(bronze, _))
      val run2 = silverHop(second, bronze, silver, ck)
      assert(run2.head == replayed && run2.size > 1, s"$name: $run1 then $run2")
      // a fresh run loads the state from disk, the replayed deltas too
      land(bronze, slices(3))
      val run3 = silverHop(second, bronze, silver, ck)
      assert(run3.head == run2.last + 1, s"$name: $run2 then $run3")

      val keys = Silver.dedupKeys.map(col)
      def sorted(df: DataFrame) = df.select(keys: _*).orderBy(keys: _*).collect().toSeq
      val want = sorted(Silver.dedup(Silver.projectToSilver(
        spark.read.schema(Schemas.bronze).parquet(bronze.toString))))
      assert(want.nonEmpty)
      assert(sorted(spark.read.parquet(silver.toString)) == want, name)
    }
  }
}
