package perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.GraftExtensions

import graft.GraftSession
import graft.streaming.HarnessGuard

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, digests: String, dump: Option[String],
                      baseline: Option[String])

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      m.getOrElse("trace", "0") == "1", need("work"),
      m.getOrElse("digests", "perfbench/digests.json"), m.get("dump"), m.get("baseline"))
  }
}

/** Everything a workload needs: the session, the options, the trace and
  * the report, plus the op runner all workloads share.
  */
final class Ctx(val spark: SparkSession, val o: Opts, val trace: Trace, val rep: Report) {
  val cores: Int = spark.sparkContext.defaultParallelism
  def dir(parts: String*): String = Paths.get(o.work, parts: _*).toString

  /** Runs one op: its wall time in ms, or None when it threw or Spark
    * reported a task or job failure while it ran. Listener events are
    * flushed before they are read, so each one is charged to the op that
    * caused it.
    */
  def op(name: String, layer: String)(f: => Unit): Option[Double] = {
    rep.attempted += 1
    val t0 = System.nanoTime()
    val ok = try { HarnessGuard.scope(spark, name)(trace.op(name, layer)(f)); true }
    catch { case NonFatal(e) => rep.fail(s"$name: $e"); false }
    val ms = (System.nanoTime() - t0) / 1e6
    Log(f"$name: $ms%.0f ms")
    trace.flush()
    val events = HarnessGuard.drain()
    if (!ok) None
    else if (events.nonEmpty) { rep.fail(s"$name: ${events.mkString("; ")}"); None }
    else Some(ms)
  }

  /** Runs `f` `n` times and returns the median wall time in seconds. */
  def setup(n: Int)(f: Int => Unit): Double = {
    val s = Stats.median((0 until n).map { i =>
      val t0 = System.nanoTime(); f(i); (System.nanoTime() - t0) / 1e9
    })
    Log(f"set-up done, median $s%.2f s")
    s
  }
}

object Main {
  /** Forces every row through the `noop` sink, so final sorts and all
    * projected columns are paid, unlike `.count()`.
    */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** True when `a` and `b` hold the same multiset of rows (compared in
    * this JVM: the tables checked here are small).
    */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    rows(a) == rows(b)
  }

  def session(o: Opts, master: String): SparkSession = {
    val spark = GraftSession.builder(master = master, shufflePartitions = 4)
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(o.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(o.work, "warehouse").toString)
      .getOrCreate()
    GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Files.createDirectories(Paths.get(o.work))
    val spark = session(o, "local[4]")
    val rep = new Report(o.workload)
    Log("session up")
    rep.info("master") = spark.sparkContext.master
    rep.info("parallelism") = spark.sparkContext.defaultParallelism.toString
    rep.info("shuffle_partitions") = spark.conf.get("spark.sql.shuffle.partitions")
    rep.info("state_partitions") = spark.conf.get("spark.sql.shuffle.partitions")
    val ok = try {
      o.workload match {
        case "live_tail" => LiveTail.run(spark, o, rep)
        case "batch"     => Batch.run(spark, o, rep)
        case w => sys.error(s"unknown workload $w")
      }
      true
    } catch { case NonFatal(e) =>
      e.printStackTrace()
      false
    }
    Log("workload done")
    SparkSession.active.stop()
    if (!ok) sys.exit(2)
    if (o.trace) Layers.finish(rep)
    rep.info.foreach { case (k, v) => println(s"info $k = $v") }
    rep.named.foreach { case (k, (v, u, n)) => println(f"named $k = $v%.4f $u (n=$n)") }
    println(json(rep, o.trace))
    sys.exit(if (rep.correct && rep.failed == 0) 0 else 1)
  }

  def json(rep: Report, trace: Boolean): String = {
    val ms = if (trace) rep.layer else rep.e2e
    val body = ms.map { case (k, (v, u)) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k": {"value": $x, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${rep.correct}, "attempted": ${math.max(1, rep.attempted)}, """ +
      s""""failed": ${rep.failed}, "metrics": {$body}}"""
  }
}
