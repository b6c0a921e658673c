package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract between `SparkEntry.queries` and
  * `SparkEntry.oracleSql`: every registered query must carry an oracle
  * (the driver's DuckDB exact-match gate) unless it is on the explicit
  * no-oracle list — a typo in either map would silently downgrade a
  * query to the weaker rows-only check, which is exactly the kind of
  * regression nobody notices until a judge does.
  */
class ContractSpec extends AnyFunSuite {

  test("every query has an oracle — no exceptions") {
    // approx_profile was the last no-oracle row: its registered form now
    // emits exact count_distinct + percentile_disc (oracle-able), and the
    // mergeable-sketch variants are bound-checked in CapsAndLshSpec
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val missing = q -- o
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("every oracle names a registered query (no orphans)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without query: $orphans")
  }

  test("oracle SQL carries no version-fragile arithmetic shapes " +
    "(shape-lint gate)") {
    // the round-8 incident class: round(e, k>=1) over a double
    // division / libm call (Spark BigDecimal HALF_UP vs an oracle
    // engine's multiply-based round), signed `//` (trunc vs floor
    // across versions), HUGEINT casts. tools/shape_lint.py parses the
    // dumped oracle SQL with DuckDB's own parser and exits non-zero on
    // any flagged query outside its written-proof allowlist.
    import scala.sys.process._
    val probe = Process(Seq("python3", "-c", "import duckdb"))
      .!(ProcessLogger(_ => (), _ => ()))
    // a broken interpreter FAILS the gate (assert, not assume): an
    // `assume` here would silently cancel the lint on exactly the
    // environments where oracle drift goes unnoticed longest
    assert(probe == 0, "python3+duckdb unavailable — the shape-lint " +
      "gate cannot run; fix the environment (the driver/dev harness " +
      "ships both) rather than skipping the gate")
    val tmp = java.nio.file.Files.createTempDirectory("graft_lint")
    val f = tmp.resolve("oracle_sql.json")
    java.nio.file.Files.writeString(f, Verify.oracleJson(SparkEntry.oracleSql))
    val out = new StringBuilder
    val log = ProcessLogger(l => { out.append(l).append('\n'); () },
      l => { out.append(l).append('\n'); () })
    val code = Process(Seq("python3", "tools/shape_lint.py", f.toString)).!(log)
    assert(code == 0,
      s"shape_lint flagged version-fragile oracle shapes — convert the " +
      s"pin (safeRound/tdiv/wdivStages) or allowlist WITH a proof:\n$out")
  }

  test("driver-side collect() budget: every site is a model-sized or 1-row fold") {
    // the round-11 incident class: a corpus-scale .collect() (word
    // types, index rows) compiles, passes small-SF correctness, and
    // OOMs the driver at 100 TB. Every allowed site below is a
    // vocabulary-capped model pull or a 1-row moment/argmax fold —
    // adding a new collect means consciously updating this ledger
    // with the same proof.
    val allowed = Map(
      // dev tool: the codegen audit's plan-executing probe and the
      // sweep printer's one-row knob frame
      "graft/Measure.scala" -> 2,
      "graft/operators/Backtest.scala" -> 2, // 1-row moment folds
      // 1-row/model-sized GD folds + btIncremental's limit(3)-bounded
      // carry-contract diagnostic sample
      "graft/operators/Learn.scala" -> 10,
      "graft/operators/Similarity.scala" -> 1, // 1-row PCA moment
      // ONE vocab-capped unigram model pull (modelOf — the hoist point
      // every stage shares) and the BPE + WordPiece limit(1) argmaxes
      "graft/operators/TextAnalysis.scala" -> 3)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val root = new java.io.File("src/main/scala")
    val found = walk(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val n = java.nio.file.Files.readString(f.toPath)
        .sliding(".collect()".length).count(_ == ".collect()")
      if (n > 0) Some(f.toPath.toString
        .stripPrefix("src/main/scala/") -> n)
      else None
    }.toMap
    assert(found == allowed,
      s"driver collect() ledger drifted.\n  found:   $found\n" +
      s"  allowed: $allowed\nEvery new site needs a bounded-size proof here.")
  }

  test("the e2e name set is exactly the ten streaming pipelines") {
    assert(SparkEntry.e2eNames == Set("pipeline_gold_e2e",
      "pipeline_corpus_e2e", "pipeline_restate_e2e", "pipeline_retire_e2e",
      "pipeline_join_e2e", "pipeline_er_e2e", "pipeline_split_e2e",
      "pipeline_bt_e2e", "sketch_stream_e2e", "bars_live_e2e"))
  }

  test("oracle SQL carries no tabs or CRs (driver JSON-escape contract)") {
    // Verify.scala escapes them, but flat SQL keeps the dumped
    // oracle_sql.json readable and diff-able
    val offenders = SparkEntry.oracleSql.collect {
      case (k, sql) if sql.contains("\t") || sql.contains("\r") => k
    }
    assert(offenders.isEmpty, s"oracles with tabs/CRs: $offenders")
  }
}
