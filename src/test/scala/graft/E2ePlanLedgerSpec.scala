package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.HopSession
import org.apache.spark.sql.util.QueryExecutionListener

/** The plan-ledger gates extended to the nine e2e pipelines (the
  * round-15 verdict's remaining ledger gap): PlanSpec's suite-wide
  * BNLJ and unpartitioned-window sweeps inspect CONSTRUCTED plans, and
  * constructing an e2e query launches real streams — so those sweeps
  * `filterNot` the e2e names, and a fact-scale single-partition window
  * introduced inside an e2e's sink-side batch fold would be invisible
  * to the gate. This spec closes that: it REGISTERS a
  * QueryExecutionListener, executes every e2e query for real, and runs
  * the same two sweeps over every captured batch (sub)execution — the
  * gates' folds, the landed-state requires, and the final fold all
  * fire the listener as they run. (Streaming micro-batch plans route
  * through the StreamingQueryListener instead; their operator shapes
  * are the batch twins already swept, and unpartitioned windows are
  * not even expressible in append-mode streaming.)
  */
class E2ePlanLedgerSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val e2eNames = SparkEntry.e2eNames.toSeq.sorted

  test("e2e pipelines: every executed batch subplan passes the BNLJ " +
      "and unpartitioned-window sweeps") {
    val captured =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = {
        captured.add((funcName, qe)); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    // listener callbacks post asynchronously on the listener bus —
    // poll until the capture count is stable before sweeping
    def flush(): Unit = {
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 15000) {
        Thread.sleep(250); waited += 250
        val n = captured.size
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    }
    // the caller's conf must stay put while a pipeline runs (its hops
    // take their partition count from a cloned session): a second
    // thread polls it every 5 ms and keeps every other value it sees
    val shuffleKey = "spark.sql.shuffle.partitions"
    val callerShuffle = spark.conf.get(shuffleKey)
    val confDrift =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    @volatile var running = ""
    @volatile var polling = true
    val poller = new Thread(() => while (polling) {
      val v = spark.conf.get(shuffleKey)
      if (v != callerShuffle) confDrift.add((running, v))
      Thread.sleep(5)
    })
    poller.setDaemon(true)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def goldTrees() = Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_e2e_")).toSet
    var goldTree = Set.empty[java.nio.file.Path]
    spark.listenerManager.register(listener)
    poller.start()
    val perQuery = try {
      e2eNames.map { n =>
        val before = captured.size
        val treesBefore = goldTrees()
        running = n
        // constructing an e2e entry RUNS its streams; the returned
        // frame is the sink-side fold — count() executes that too
        SparkEntry.queries(n)(spark, dir).count()
        running = ""
        if (n == "pipeline_gold_e2e") goldTree = goldTrees() -- treesBefore
        flush()
        n -> captured.toArray(Array.empty[(String, QueryExecution)])
          .drop(before).map(_._2).toSeq
      }
    } finally {
      spark.listenerManager.unregister(listener)
      polling = false
      poller.join()
    }

    val changed = confDrift.asScala.toSeq.distinct
    assert(changed.isEmpty, s"the caller's $shuffleKey ($callerShuffle) " +
      s"changed while e2e pipelines ran: $changed")
    // ... while each gold hop still ran with its 8 partitions: the
    // offset log of the hop's first batch records the count
    assert(goldTree.size == 1, s"expected one new gold staging tree: $goldTree")
    val offsets = goldTree.toSeq.flatMap(t => Files.walk(t).iterator().asScala
      .filter(_.endsWith(Paths.get("offsets", "0"))).toSeq)
    assert(offsets.size == 3, s"expected 3 gold hop offset logs: $offsets")
    offsets.foreach { o =>
      val log = new String(Files.readAllBytes(o), "UTF-8")
      assert(log.contains(s"\"$shuffleKey\":\"8\""),
        s"$o does not record $shuffleKey=8:\n$log")
    }

    // a second pass reuses the hop sessions of the first: every session
    // that runs a stream leaves a listener bus on the SparkContext for
    // good, so a clone per call would add one bus per pipeline per
    // pass. The only growth allowed is Spark's own: each stateful
    // query runs on a per-run clone of its session, and the stateful
    // operators' state-store lookup leaves that clone's bus behind —
    // one per stateful hop (gold: dedup + bars; join: the stream-stream
    // join; bars_live: update-mode bars; bt: the comparison machine)
    val busesAllowed = Map("pipeline_gold_e2e" -> 2,
      "pipeline_join_e2e" -> 1, "bars_live_e2e" -> 1, "pipeline_bt_e2e" -> 1)
    val busesFound = e2eNames.map { n =>
      val before = HopSession.streamingListenerBuses(spark)
      SparkEntry.queries(n)(spark, dir).count()
      n -> (HopSession.streamingListenerBuses(spark) - before)
    }.filter(_._2 != 0).toMap
    assert(busesFound == busesAllowed, s"streaming listener buses added " +
      s"per e2e call on a second pass: $busesFound, allowed $busesAllowed")

    // every e2e must actually have fired batch executions (an empty
    // capture would mean the sweep silently swept nothing)
    val silent = perQuery.filter(_._2.isEmpty).map(_._1)
    assert(silent.isEmpty,
      s"e2e queries with NO captured batch executions: $silent")

    // sweep 1: nested-loop joins — same rule as PlanSpec's suite-wide
    // gate, but EXACT-MATCH per query (an unused allowlist entry would
    // silently weaken the gate): only parameter-bounded build sides,
    // listed with proofs.
    val bnljAllowed = Map[String, Int](
      // the ER e2e's delta-cap gate crossJoins the 1-row master-cap
      // aggregate before the require (Pipeline.erE2E) — 1-row build
      "pipeline_er_e2e" -> 1,
      // the BT e2e's sink-side fold is the MM chain: 8 rounds × one
      // 1-row normalizer crossJoin(broadcast(s)) onto the |types|-row
      // strength table, each its own checkpointed execution
      // (Learn.mmFit — the same proof as PlanSpec's bt_strengths row)
      "pipeline_bt_e2e" -> 8)
    val bnljFound = perQuery.flatMap { case (n, qes) =>
      val hits = qes.map(_.executedPlan.toString).count(p =>
        p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct"))
      if (hits > 0) Some(n -> hits) else None
    }.toMap
    val bnljDrift = (bnljFound.keySet ++ bnljAllowed.keySet)
      .filter(k => bnljFound.getOrElse(k, 0) != bnljAllowed.getOrElse(k, 0))
      .toList.sorted
      .map(k => s"$k: found ${bnljFound.getOrElse(k, 0)}, " +
        s"allowed ${bnljAllowed.getOrElse(k, 0)}")
    assert(bnljDrift.isEmpty,
      s"e2e nested-loop ledger drifted — every site needs a " +
      s"bounded-size proof here:\n  ${bnljDrift.mkString("\n  ")}")

    // sweep 2: unpartitioned windows — the WindowExec single-partition
    // ledger over EXECUTED plans. The e2e folds reuse the swept batch
    // operators; any empty-partition-spec Window that appears must be
    // listed with a bounded-size proof, exactly like PlanSpec's map.
    val windowAllowed = Map[String, Int](
      // (currently none: no e2e fold carries an unpartitioned window —
      // the assertion below keeps it that way)
    )
    val windowFound = perQuery.flatMap { case (n, qes) =>
      val c = qes.map(_.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
      }.size).sum
      if (c > 0) Some(n -> c) else None
    }.toMap
    val drift = (windowFound.keySet ++ windowAllowed.keySet)
      .filter(k => windowFound.getOrElse(k, 0) != windowAllowed.getOrElse(k, 0))
      .toList.sorted
      .map(k => s"$k: found ${windowFound.getOrElse(k, 0)}, " +
        s"allowed ${windowAllowed.getOrElse(k, 0)}")
    assert(drift.isEmpty,
      s"e2e unpartitioned-window ledger drifted — every site needs a " +
      s"bounded-size proof here:\n  ${drift.mkString("\n  ")}")
  }
}
