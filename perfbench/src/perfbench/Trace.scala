package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` 0 means "the op whose
  * interval contains me", resolved when the trace is written.
  */
final case class Span(id: Long, var parent: Long, name: String, layer: String,
                      start: Double, end: Double, attrs: Map[String, Double] = Map())

/** Work counted at one boundary: a benchmark op, a streaming hop, or the
  * whole run.
  */
final class Work {
  var jobs = 0L; var tasks = 0L; var taskMs = 0.0; var gcMs = 0.0
  var shuffleBytes = 0L; var spillBytes = 0L; var scanBytes = 0L
  var planMs = 0.0; var codegenMs = 0.0
}

/** One streaming micro-batch, as its `StreamingQueryProgress` reports it. */
final case class MicroBatch(queryId: String, batchId: Long, start: Double, end: Double,
                       rowsIn: Long, durations: Map[String, Long],
                       watermarkMs: Option[Long], stateCommitMs: Long,
                       stateBytes: Long, dupDropped: Long)

/** Records hop batches (always: freshness is computed from them) and,
  * when `on`, spans plus Spark listener counters for every op. All records
  * stay in memory until [[write]].
  */
final class Trace(spark: SparkSession, val on: Boolean) {
  private val ids = new AtomicLong(1)
  def newId(): Long = ids.getAndIncrement()
  val runId: Long = newId()
  val spans = new ConcurrentLinkedQueue[Span]()
  val batches = new ConcurrentLinkedQueue[MicroBatch]()
  /** streaming query id → hop name */
  val hopOf = new ConcurrentHashMap[String, String]()
  val byOp = new ConcurrentHashMap[Long, Work]()
  val byHop = new ConcurrentHashMap[String, Work]()
  val total = new Work
  /** The op receiving jobs, query executions and batches that carry no tag. */
  @volatile var currentOp: Long = runId
  private val jobOf = new ConcurrentHashMap[Int, (Long, String, Double, Option[Long])]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val hopBatchSpan = new ConcurrentHashMap[(String, Long), Long]()

  private def work(op: Long) = byOp.computeIfAbsent(op, _ => new Work)
  private def hopWork(h: String) = byHop.computeIfAbsent(h, _ => new Work)
  private def batchSpanId(hop: String, b: Long): Long =
    hopBatchSpan.computeIfAbsent((hop, b), _ => newId())

  private val progress = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val ops = p.stateOperators.toSeq
      batches.add(MicroBatch(p.id.toString, p.batchId, start,
        start + d.getOrElse("triggerExecution", 0L), p.numInputRows, d,
        Option(p.eventTime.get("watermark"))
          .map(w => java.time.Instant.parse(w).toEpochMilli),
        ops.map(_.commitTimeMs).sum, ops.map(_.memoryUsedBytes).sum,
        ops.flatMap(o => Option(o.customMetrics.get("numDroppedDuplicateRows")))
          .map(_.longValue).sum))
    }
  }
  spark.streams.addListener(progress)

  private val jobs = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val props = Option(j.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val hop = prop("sql.streaming.queryId").flatMap(q => Option(hopOf.get(q)))
      val batch = prop("spark.job.description")
        .flatMap(s => "batch = (\\d+)".r.findFirstMatchIn(s)).map(_.group(1).toLong)
      val op = prop("perfbench.op").map(_.toLong).getOrElse(currentOp)
      jobOf.put(j.jobId, (op, hop.orNull, j.time.toDouble, batch))
      j.stageIds.foreach(s => stageJob.put(s, j.jobId))
      (work(op) +: hop.map(hopWork).toSeq :+ total).foreach(w =>
        w.synchronized { w.jobs += 1 })
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobOf.get(j.jobId)).foreach { case (op, hop, t0, batch) =>
        val parent = (Option(hop), batch) match {
          case (Some(h), Some(b)) => batchSpanId(h, b)
          case _ => op
        }
        spans.add(Span(newId(), parent, "spark.job", "spark", t0, j.time.toDouble))
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(t.taskMetrics).foreach { m =>
        val (op, hop) = Option(stageJob.get(t.stageId)).flatMap(j =>
          Option(jobOf.get(j))).map(x => (x._1, Option(x._2))).getOrElse((currentOp, None))
        (work(op) +: hop.map(hopWork).toSeq :+ total).foreach { w =>
          w.synchronized {
            w.tasks += 1
            w.taskMs += m.executorRunTime
            w.gcMs += m.jvmGCTime
            w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            w.spillBytes += m.diskBytesSpilled
            w.scanBytes += m.inputMetrics.bytesRead
          }
        }
      }
  }

  private val executions = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val p0 = phases.map(_.startTimeMs).min.toDouble
        val p1 = phases.map(_.endTimeMs).max.toDouble
        val planMs = phases.map(_.durationMs).sum.toDouble
        spans.add(Span(newId(), 0L, "plan", "plan", p0, p1, Map("plan_ms" -> planMs)))
        spans.add(Span(newId(), 0L, "exec", "exec", p1, p1 + durationNs / 1e6))
      }
    }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (on) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(executions)
  }

  /** Runs `f` as op `name` of `layer`: a span under the run, with the op's
    * Spark jobs tagged so their tasks count toward it.
    */
  def op[T](name: String, layer: String)(f: => T): T = {
    val id = newId()
    val prev = currentOp
    currentOp = id
    val sc = spark.sparkContext
    if (on) sc.setLocalProperty("perfbench.op", id.toString)
    val cg0 = CodeGenerator.compileTime
    val t0 = Stats.nowMs
    try f
    finally {
      val t1 = Stats.nowMs
      if (on) {
        sc.setLocalProperty("perfbench.op", null)
        val cg = (CodeGenerator.compileTime - cg0) / 1e6
        work(id).synchronized { work(id).codegenMs += cg }
        total.synchronized { total.codegenMs += cg }
        spans.add(Span(id, runId, name, layer, t0, t1))
      }
      currentOp = prev
    }
  }

  /** Blocks until the listener bus has delivered every event so far. */
  def flush(): Unit = org.apache.spark.sql.graft.ListenerFlush.flush(spark)

  /** This trace's micro-batches by hop, in start order. */
  def hopBatches: Map[String, Seq[MicroBatch]] =
    batches.asScala.toSeq.flatMap(b => Option(hopOf.get(b.queryId)).map(_ -> b))
      .groupBy(_._1).map { case (h, xs) => h -> xs.map(_._2).sortBy(_.start) }

  def opWork(name: String): Seq[Work] = {
    val ids = spans.asScala.filter(s => s.name == name && s.parent == runId).map(_.id)
    ids.flatMap(i => Option(byOp.get(i))).toSeq
  }

  /** Resolves untagged parents, attaches plan times to their ops
    * and adds the run and hop-batch spans.
    */
  def finish(runStart: Double, runEnd: Double): Unit = {
    flush()
    spans.add(Span(runId, -1L, "run", "run", runStart, runEnd))
    batches.asScala.foreach { b =>
      Option(hopOf.get(b.queryId)).foreach { h =>
        spans.add(Span(batchSpanId(h, b.batchId), 0L, s"$h.batch", h, b.start, b.end,
          Map("rows_in" -> b.rowsIn.toDouble)))
      }
    }
    val all = spans.asScala.toSeq
    val ops = all.filter(_.parent == runId)
    all.filter(_.parent == 0L).foreach { s =>
      s.parent = ops.find(o => o.start <= s.start && s.start <= o.end).map(_.id).getOrElse(runId)
      if (s.layer == "plan") {
        val w = work(s.parent)
        w.synchronized { w.planMs += s.attrs("plan_ms") }
      }
    }
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover.
    */
  def selfTimes(all: Seq[Span]): Map[String, (Double, Double, Int)] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      val tot = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0; var upTo = s.start
        cs.foreach { case (a, b) =>
          val lo = math.max(a, upTo)
          if (b > lo) { covered += b - lo; upTo = b }
        }
        (s.end - s.start) - covered
      }.sum
      layer -> (tot, self, ss.size)
    }
  }

  /** Writes every span (`spans.jsonl`) and the per-layer self times
    * (`layers.tsv`) into `dir`.
    */
  def write(dir: String): Unit = {
    val all = spans.asScala.toSeq
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val sb = new StringBuilder
    all.sortBy(_.start).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""","$k":$v""" }.mkString
      sb ++= s"""{"trace":$runId,"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""layer":"${s.layer}","start_ms":${s.start},"end_ms":${s.end}$attrs}""" + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "spans.jsonl"), sb.toString)
    val tbl = new StringBuilder("layer\tspans\ttotal_ms\tself_ms\n")
    selfTimes(all).toSeq.sortBy(-_._2._2).foreach { case (l, (t, s, n)) =>
      tbl ++= f"$l\t$n\t$t%.1f\t$s%.1f\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "layers.tsv"), tbl.toString)
  }

  def close(): Unit = {
    spark.streams.removeListener(progress)
    if (on) {
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(executions)
    }
  }
}

/** Per-hop figures from a set of micro-batches. */
object Hops {
  def summary(hop: String, bs: Seq[MicroBatch], work: Option[Work], cores: Int)
      : Seq[(String, Double, String)] = {
    val n = bs.size
    def d(keys: String*) = bs.map(b => keys.map(k => b.durations.getOrElse(k, 0L)).sum.toDouble)
    val wall = bs.map(b => b.end - b.start).sum
    Seq(
      (s"$hop.batches", n.toDouble, "count"),
      (s"$hop.batch_p50_ms", Stats.median(bs.map(b => b.end - b.start)), "ms"),
      (s"$hop.planning_ms", Stats.mean(d("queryPlanning")), "ms"),
      (s"$hop.offsets_ms", Stats.mean(d("latestOffset", "getBatch")), "ms"),
      (s"$hop.commit_ms", Stats.mean(d("walCommit", "commitOffsets")), "ms"),
      (s"$hop.add_batch_ms", Stats.mean(d("addBatch")), "ms"),
      (s"$hop.data_batch_share", if (n == 0) 0.0 else bs.count(_.rowsIn > 0).toDouble / n, "ratio"),
      (s"$hop.rows_in", bs.map(_.rowsIn).sum.toDouble, "count"),
      (s"$hop.compute_share",
        if (wall <= 0) 0.0 else work.map(_.taskMs).getOrElse(0.0) / (wall * cores), "ratio"))
  }
}
