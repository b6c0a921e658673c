package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vectors.vecDot

/** Data valuation for a training corpus — exact KNN-Shapley (Jia et
  * al. 2019, "Efficient Task-Specific Data Valuation for Nearest
  * Neighbor Algorithms") plus its truncated scale twin. The Shapley
  * value of a training point under the K-NN utility has a closed
  * form over the distance ranking per test point:
  *
  *   s_(N) = 1[y_(N) = y_t] / N
  *   s_(i) = s_(i+1) + (1[y_(i)=y_t] − 1[y_(i+1)=y_t]) · min(K,i) / (K·i)
  *
  * so a full fan-out (test × train), one ranking per test point, and
  * a suffix sum compute EXACT Shapley values — no Monte Carlo. This
  * is the pipeline's "which training points help, which hurt" signal:
  * negative values flag mislabeled/poisoned points, the per-label
  * audit flags systematically harmful slices.
  *
  * Determinism: cosines are pinned once at 1e-6 integer units and
  * ranked with id tie-breaks (total order); each recursion INCREMENT
  * is one exact integer-over-integer double division pinned at 1e-12
  * integer units, so the suffix sums and the cross-test average are
  * pure BIGINT arithmetic — order-free, bit-equal on any engine.
  *
  * Scale shape: the pair fan-out is |test|·|train| with the test
  * panel broadcast (a bounded audit panel, like the retrieval-eval
  * query set); work is embarrassingly parallel ACROSS test points.
  * The exact form ranks the full corpus per test point (a per-test
  * corpus-sized sort — fine for panel-scale tests, wrong at 100 TB),
  * so [[shapleyKnnTruncated]] is the scale path: per-test top-R by a
  * two-stage bucketed rank (per-(test, cosine-bucket) partial top-R,
  * then top-R of the ≤ buckets·R survivors — the distributed
  * partial-top-K discipline, no corpus-sized window partition), with
  * the recursion truncated below rank R (s_(R+1) := 0, the TKNN
  * estimator — the tail's |s| is bounded by 1/(K·R) per step and
  * decays harmonically, which is why truncation is the standard
  * production form).
  */
object Valuation {

  /** K of the KNN utility. */
  val K = 5

  /** Test-panel selector: vec_id ≡ TestRes (mod TestMod), capped at
    * [[MaxPanel]] members (vec_id < TestMod·MaxPanel) so the
    * broadcast side stays parameter-bounded at any corpus size — a
    * production valuation run scores against a FIXED eval panel, not
    * a corpus fraction.
    */
  val TestMod = 50
  val TestRes = 7
  val MaxPanel = 1000

  /** Truncation rank of the scale twin. */
  val TruncR = 64

  /** Cosine-bucket width (1e-6 units) for the two-stage top-R. */
  val BucketWidth = 8192L

  private def r6(c: Column): Column = round(c * lit(1.0e6), 0) / lit(1.0e6)

  /** The deterministic panel-membership predicate over a vec_id. */
  private def isTest(id: Column): Column =
    pmod(id, lit(TestMod)) === TestRes &&
      id < lit(TestMod.toLong * MaxPanel)

  /** 1-row (n_panel) — the test-panel size, from a narrow id-only
    * scan of the embedding slice (no pair fan-out). The TRUNCATED
    * estimator averages over the PANEL, not over per-point top-R
    * appearance counts: a point absent from a test's top-R carries
    * that test's implicit 0, so the denominator must be \|panel\|
    * (dividing by the appearance count would inflate a point seen by
    * 1 of 1000 tests 1000×, breaking the harmonic tail bound and the
    * negative-value poisoning signal).
    */
  private def panelCount(embeddings: DataFrame): DataFrame =
    embeddings.filter(isTest(col("vec_id")))
      .agg(count(lit(1)).as("n_panel"))

  private def widened(embeddings: DataFrame): DataFrame = embeddings
    .select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
    .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))

  /** (test_id, test_label, train_id, train_label, cos6, a): the
    * broadcast test panel fanned out against the train side, cosine
    * pinned at 1e-6 integers, a = 1[labels agree].
    */
  private def pairs(embeddings: DataFrame): DataFrame = {
    val n = widened(embeddings)
    val test = n.filter(isTest(col("vec_id")))
      .select(col("vec_id").as("test_id"),
        col("label").as("test_label"), col("v").as("qv"), col("nrm").as("qn"))
    val train = n.filter(!isTest(col("vec_id")))
      .select(col("vec_id").as("train_id"),
      col("label").as("train_label"), col("v"), col("nrm"))
    train.join(broadcast(test), lit(true))
      .select(col("test_id"), col("train_id"), col("train_label"),
        round(vecDot(col("qv"), col("v")) / (col("qn") * col("nrm"))
          * lit(1.0e6), 0).cast("long").as("cos6"),
        when(col("train_label") === col("test_label"), 1)
          .otherwise(0).as("a"))
  }

  private val byCos = Window.partitionBy(col("test_id"))
    .orderBy(col("cos6").desc, col("train_id"))

  /** The suffix sum over ranks ≥ current, computed as a RUNNING frame
    * over the REVERSED ordering. An unbounded-FOLLOWING frame would
    * make WindowExec recompute the aggregate from scratch per row —
    * O(n²) per partition (measured: 198 s vs 20 s at 10× before this
    * frame flip; the bars_interpolated lesson, now PlanSpec-pinned
    * for this family too). Integer sums are order-free, so the
    * reversed running frame is value-identical.
    */
  private val suffixFrame = Window.partitionBy(col("test_id"))
    .orderBy(col("cos6").asc, col("train_id").desc)
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** One recursion increment in 1e-12 integer units: exact integer
    * numerator/denominator, ONE double division, one pin. `aNx` is
    * 1[y_(rk+1) = y_t] (0 past the end), `last` marks the deepest
    * ranked row (where the exact form's base term 1[y_(N)=y_t]/N
    * applies — the truncated form passes lastBase = false and lets
    * the generic increment with aNx = 0 realize s_(R) exactly).
    */
  private def term12(nTrain: Column, lastBase: Boolean): Column = {
    val num = ((col("a") - col("a_nx")) * least(lit(K), col("rk")))
      .cast("double")
    val den = (lit(K) * col("rk")).cast("double")
    val inc = round(num / den * lit(1.0e12), 0)
    if (lastBase)
      when(col("rk") < nTrain, inc)
        .otherwise(round(col("a").cast("double") / nTrain.cast("double")
          * lit(1.0e12), 0)).cast("long")
    else inc.cast("long")
  }

  /** (train_id, label, n_tests, s12sum): cross-test total in exact
    * 1e-12 integer units — every aggregation upstream of the single
    * final division stays in BIGINTs.
    */
  private def exactS12(embeddings: DataFrame): DataFrame = {
    val ranked = pairs(embeddings)
      .withColumn("rk", row_number().over(byCos))
      .withColumn("n_train", count(lit(1)).over(
        Window.partitionBy(col("test_id"))))
      .withColumn("a_nx", lead(col("a"), 1, 0).over(byCos))
    ranked
      .withColumn("t12", term12(col("n_train"), lastBase = true))
      .withColumn("s12", sum(col("t12")).over(suffixFrame))
      .groupBy(col("train_id"), col("train_label").as("label"))
      .agg(count(lit(1)).as("n_tests"), sum(col("s12")).as("s12sum"))
  }

  /** Exact KNN-Shapley value per training point, averaged over the
    * test panel: (train_id, label, n_tests, shapley). Ranks the full
    * train side per test point — the harness-exact form.
    */
  def shapleyKnn(embeddings: DataFrame): DataFrame =
    exactS12(embeddings)
      .select(col("train_id"), col("label"), col("n_tests"),
        r6(col("s12sum").cast("double") /
          (col("n_tests") * lit(1.0e12))).as("shapley"))
      .orderBy(col("train_id"))

  /** Truncated KNN-Shapley (rank ≤ [[TruncR]], s_(R+1) := 0) with the
    * two-stage bucketed top-R — the 100 TB form: stage 1 ranks within
    * (test, cosine bucket) partitions (bounded by bucket occupancy),
    * stage 2 ranks the ≤ buckets·R survivors per test. No
    * corpus-sized window partition anywhere in the plan.
    */
  def shapleyKnnTruncated(embeddings: DataFrame,
                          r: Int = TruncR): DataFrame =
    tknnValues(bucketPruned(pairs(embeddings), r), panelCount(embeddings), r)

  /** Stage-1 bucket prune: per-(test, cosine-bucket) partial top-R —
    * any global-top-R row has local rank ≤ R, so the survivors are a
    * bounded superset of the per-test top-R. */
  private def bucketPruned(p: DataFrame, r: Int = TruncR): DataFrame =
    p.withColumn("bkt", floor((col("cos6") + lit(1000000L))
        / lit(BucketWidth.toDouble)).cast("long"))
      .withColumn("lrk", row_number().over(
        Window.partitionBy(col("test_id"), col("bkt"))
          .orderBy(col("cos6").desc, col("train_id"))))
      .filter(col("lrk") <= r)
      .drop("bkt", "lrk")

  /** The TKNN value chain over a bounded per-test candidate superset:
    * final top-R rank, truncated recursion, exact-integer suffix sums,
    * one division. `nPanel` is the 1-row panel-size frame
    * ([[panelCount]]): the estimator averages over the PANEL (tests
    * whose top-R a point misses contribute its implicit 0), so the
    * divisor is \|panel\|; `n_tests` stays as the informational
    * appearance count.
    */
  private def tknnValues(candidates: DataFrame,
                         nPanel: DataFrame,
                         r: Int = TruncR): DataFrame = {
    val ranked = candidates
      .withColumn("rk", row_number().over(byCos))
      .filter(col("rk") <= r)
      .withColumn("a_nx", lead(col("a"), 1, 0).over(byCos))
    ranked
      .withColumn("t12", term12(lit(0L), lastBase = false))
      .withColumn("s12", sum(col("t12")).over(suffixFrame))
      .groupBy(col("train_id"), col("train_label").as("label"))
      .agg(count(lit(1)).as("n_tests"), sum(col("s12")).as("s12sum"))
      .join(broadcast(nPanel), lit(true))
      .select(col("train_id"), col("label"), col("n_tests"),
        r6(col("s12sum").cast("double") /
          (col("n_panel") * lit(1.0e12))).as("shapley"))
      .orderBy(col("train_id"))
  }

  /** The persisted valuation index a production run keeps: each test
    * point's top-R candidate rows (test_id, train_id, train_label,
    * cos6, a) over the given embedding slice (panel rows are selected
    * out as tests automatically) — R·|panel| rows, corpus-independent
    * size.
    */
  def topRIndex(embeddings: DataFrame): DataFrame =
    bucketPruned(pairs(embeddings))
      .withColumn("rk", row_number().over(byCos))
      .filter(col("rk") <= TruncR)
      .drop("rk")

  /** Incremental TKNN-Shapley — the valuation family's delta twin:
    * new training points are scored against the broadcast panel
    * (`deltaWithPanel` = the panel rows + ONLY the delta training
    * rows — the history corpus is never rescanned) and merged with
    * the PERSISTED top-R index; per-test top-R of the union == top-R
    * of (top-R(history) ∪ delta), so the truncated value chain over
    * the ≤ (R + |delta|)-row per-test candidate sets is EQUAL BY
    * CONSTRUCTION to the full [[shapleyKnnTruncated]] rebuild over
    * history∪delta (the oracle; spec-asserted), at delta-bounded
    * cost. Existing points' values refresh too when a delta point
    * displaces them from a top-R.
    *
    * The panel divisor is derived from the UNION of test ids seen in
    * the persisted index and in the delta frame — not from the delta
    * frame alone, whose caller could legally pass only the panel
    * members the delta touches; a delta-only count would then silently
    * inflate every value by \|panel\|/\|passed panel\| (the round-14
    * divisor-coupling advisory). Equal to \|panel\| whenever either
    * side has seen the full panel, which the index has by
    * construction.
    */
  def shapleyIncremental(histIdx: DataFrame,
                         deltaWithPanel: DataFrame): DataFrame =
    tknnValues(histIdx.unionByName(pairs(deltaWithPanel)),
      histIdx.select(col("test_id"))
        .unionByName(deltaWithPanel.filter(isTest(col("vec_id")))
          .select(col("vec_id").as("test_id")))
        .agg(count_distinct(col("test_id")).as("n_panel")))

  /** Truncation-fidelity audit — the TKNN approximation error as DATA
    * (the lsh_recall_audit discipline): per label, how far the
    * truncated values sit from the exact ones. Points absent from the
    * truncated output carry its implicit 0. Deltas are compared in
    * exact 1e-6 integer units (both sides' pinned grids), so max/mean
    * are order-free; the harmonic tail bound says |Δ| ≲ ln(N/R)/K per
    * test — the audit shows the realized error beside it.
    */
  def shapleyTruncFidelity(embeddings: DataFrame,
                           r: Int = TruncR): DataFrame =
    fidelityAgainst(exactE6(embeddings), embeddings, r)

  private def e6 = round(col("shapley") * lit(1.0e6), 0).cast("long")

  /** The exact values pinned to the 1e-6 grid — the truth side every
    * fidelity row compares against. */
  private def exactE6(embeddings: DataFrame): DataFrame =
    shapleyKnn(embeddings)
      .select(col("train_id"), col("label"), e6.as("e6"))

  private def fidelityAgainst(exact: DataFrame, embeddings: DataFrame,
                              r: Int): DataFrame = {
    val trunc = shapleyKnnTruncated(embeddings, r)
      .select(col("train_id"), e6.as("t6"))
    exact.join(trunc, Seq("train_id"), "left")
      .withColumn("d6", abs(col("e6") - coalesce(col("t6"), lit(0L))))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_points"),
        sum(when(col("t6").isNotNull, 1L).otherwise(0L)).as("n_in_topr"),
        max(col("d6")).as("max_delta6"),
        r6(sum(col("d6")).cast("double") /
          (count(lit(1)) * lit(1.0e6))).as("mean_abs_delta"))
      .orderBy(col("label"))
  }

  /** The truncation-rank knob as an ORACLE-VERIFIED curve (the
    * unigram_prune_curve discipline; `graft.Measure sweep shap` is the wide dev
    * sweep): [[shapleyTruncFidelity]] rows at each rank, stacked with
    * the rank as a column — per (R, label), top-R coverage and the
    * max/mean |exact − truncated| envelope, so the R a deployment
    * picks is a regression-gated number, not prose. Max error decays
    * ~1/R (the harmonic tail bound); measured at 10× the MEAN error
    * also drops ~6× for fixed R (SCALING.md round-14).
    */
  def shapleyRCurve(embeddings: DataFrame,
                    rs: Seq[Int] = Seq(16, 64)): DataFrame = {
    // one plan, one exact subtree instance per rank — Catalyst's
    // ReuseExchange dedups the identical exact fan-outs inside the
    // union (measured at 10×: 137.8 MB shuffle either way, and a
    // localCheckpoint here made it SLOWER by splitting the shared
    // pairs exchange across jobs; the oracle shares via its sve CTE)
    val exact = exactE6(embeddings)
    rs.map(r => fidelityAgainst(exact, embeddings, r)
        .select(lit(r).as("r"), col("label"), col("n_points"),
          col("n_in_topr"), col("max_delta6"), col("mean_abs_delta")))
      .reduce(_.unionByName(_))
      .orderBy(col("r"), col("label"))
  }

  /** Per-label valuation audit: member count, harmful count (negative
    * PINNED value — the user-facing sign), total/mean value — the "is
    * one label slice poisoning the panel" roll-up. Totals aggregate
    * the exact 1e-12 integers (order-free) and divide ONCE at the
    * end; summing the pinned per-point doubles instead would reorder
    * a float sum across partitions.
    */
  def shapleyLabelAudit(embeddings: DataFrame): DataFrame =
    exactS12(embeddings)
      .withColumn("shapley", r6(col("s12sum").cast("double") /
        (col("n_tests") * lit(1.0e12))))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_points"),
        sum(when(col("shapley") < 0, 1L).otherwise(0L)).as("n_negative"),
        sum(col("s12sum")).as("t12"), max(col("n_tests")).as("nt"))
      .select(col("label"), col("n_points"), col("n_negative"),
        r6(col("t12").cast("double") / (col("nt") * lit(1.0e12)))
          .as("total_value"),
        r6(col("t12").cast("double") /
          (col("n_points") * col("nt") * lit(1.0e12))).as("mean_value"))
      .orderBy(col("label"))
}
