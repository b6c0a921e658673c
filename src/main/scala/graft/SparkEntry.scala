package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Symbols
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query here is a pure function (SparkSession, sfDir) => DataFrame
  * over the harness tables, paired (where ANSI-SQL-expressible) with a
  * DuckDB oracle in [[oracleSql]]. Column names and row order match the
  * oracle exactly; every query ends in a deterministic ORDER BY on a key
  * that is unique within the result.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    goldBars(spark, "/root/testdata/sf0.001")

  private def goldBars(s: SparkSession, dir: String): DataFrame =
    Gold.bars(Trades.fromEvents(Tables.events(s, dir)))
      .orderBy(col("symbol"), col("bar_start"))

  /** Shared membership-ledger fixture for the index-as-of queries:
    * adds land in batches 0-3 by salted hash; the ret_ 10% takedown
    * set lands as batch-4 tombstones (op='del').
    */
  private def docLedger(docs: DataFrame): DataFrame = {
    val adds = docs.select(col("doc_id"),
      pmod(graft.functions.TextFunctions.hash60(
        concat(lit("b_"), col("doc_id"))), lit(4)).cast("int").as("batch_id"),
      lit("add").as("op"))
    val isRet = pmod(graft.functions.TextFunctions.hash60(
      concat(lit("ret_"), col("doc_id"))), lit(100)) >= 90
    adds.unionByName(
      Lifecycle.delBatch(docs.filter(isRet).select(col("doc_id")), 4))
  }

  /** The ER family's persisted scored match index: built ONCE per
    * (JVM, sfDir) — blocking + u-estimation + Fellegi–Sunter scoring
    * — written to a temp parquet dir and re-read by every consumer
    * query (er_eval / er_entities / er_retire), mirroring the
    * production contract where the index lives on disk and downstream
    * jobs serve from it. Contents are fully deterministic, so the
    * read-back is hash-identical to an inline rebuild.
    */
  private val erIdxPaths = scala.collection.mutable.Map[String, String]()
  locally { // one JVM-exit sweep for every staged index dir
    sys.addShutdownHook {
      def rm(p: java.io.File): Unit = {
        Option(p.listFiles).foreach(_.foreach(rm)); p.delete(); ()
      }
      erIdxPaths.synchronized {
        erIdxPaths.values.foreach(p => rm(new java.io.File(p)))
      }
    }
    ()
  }
  private def erMatchIndex(s: SparkSession, dir: String): DataFrame = {
    val path = erIdxPaths.synchronized {
      erIdxPaths.getOrElseUpdate(dir, {
        val c = Tables.customer(s, dir)
        val p = java.nio.file.Files
          .createTempDirectory("graft_er_match_index").toString
        EntityResolution.matchScores(
            EntityResolution.sourceA(c), EntityResolution.sourceB(c),
            cap = EntityResolution.MasterCap, finerKeys = true)
          .write.mode("overwrite").parquet(p)
        p
      })
    }
    s.read.parquet(path)
  }

  /** Six exchange-style pair symbols derived deterministically from
    * user_id — exercises every branch of Symbols (slash, dash, suffix,
    * alias). Shared by the query and (as a CASE chain) the oracle.
    */
  private val testSymbols =
    Seq("XBT/USDT", "ETH-USD", "SOLUSDT", "XDGEUR", "ADA/BTC", "BTCUSDC")

  /** Shared MaxSim oracle chain: the hybrid_search BM25 leg (top-20
    * candidates per query doc), 24-token-chunk 16-bucket hashed count
    * vectors, chunk-pair cosines pinned at 1e-6 units, integer
    * max-per-query-chunk and sum-per-pair, ranked per query (mirrors
    * TextAnalysis.maxSimRerank).
    */
  private def maxSimCtes(src: String = "documents",
                         legK: Int = 20): String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $src),
         |corpus AS (SELECT count(*) AS cn, sum(len(toks)) AS tot_len FROM t),
         |qt AS (SELECT DISTINCT doc_id AS query_id, u.t
         |       FROM t, unnest(toks) AS u(t) WHERE doc_id < 10),
         |tf AS (SELECT doc_id, len(toks) AS dl, u.t, count(*) AS tf
         |       FROM t, unnest(toks) AS u(t)
         |       WHERE u.t IN (SELECT DISTINCT t FROM qt)
         |       GROUP BY doc_id, len(toks), u.t),
         |dfq AS (SELECT t, count(*) AS doc_freq FROM tf GROUP BY t),
         |sc AS (SELECT tf.t, tf.doc_id,
         |         CAST(round(ln((CAST(cn AS DOUBLE) - CAST(doc_freq AS DOUBLE) + 0.5e0)
         |             / (CAST(doc_freq AS DOUBLE) + 0.5e0) + 1.0e0)
         |           * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0))
         |           / (CAST(tf AS DOUBLE) + 1.2e0 * ((1.0e0 - 0.75e0) + 0.75e0
         |               * CAST(dl AS DOUBLE) / (CAST(tot_len AS DOUBLE) / CAST(cn AS DOUBLE))))
         |           * 1000000.0, 0) AS BIGINT) AS s6
         |       FROM tf JOIN dfq USING (t), corpus),
         |lexs AS (SELECT qt.query_id, sc.doc_id, sum(s6) AS s6
         |         FROM sc JOIN qt USING (t) WHERE sc.doc_id <> qt.query_id
         |         GROUP BY qt.query_id, sc.doc_id),
         |lex AS (SELECT query_id, doc_id,
         |          row_number() OVER (PARTITION BY query_id ORDER BY s6 DESC, doc_id) AS lex_rank
         |        FROM lexs QUALIFY lex_rank <= $legK),
         |tok AS (SELECT doc_id, g.i AS i, toks[g.i] AS tk
         |        FROM t, unnest(generate_series(1, len(toks))) AS g(i)),
         |cb AS (SELECT doc_id,
         |         CAST((CASE WHEN (i - 1) < 0 THEN -((-(i - 1)) // (24)) ELSE (i - 1) // (24) END) AS INT) AS chunk,
         |         CAST(CAST('0x' || substr(md5('ms_' || tk), 1, 15) AS BIGINT) % 16 AS INT) AS b,
         |         CAST(count(*) AS BIGINT) AS c
         |       FROM tok GROUP BY 1, 2, 3),
         |nr AS (SELECT doc_id, chunk, sqrt(CAST(sum(c * c) AS DOUBLE)) AS nrm
         |       FROM cb GROUP BY doc_id, chunk),
         |dots AS (SELECT l.query_id, l.doc_id, l.lex_rank,
         |           q.chunk AS qchunk, d.chunk AS cchunk,
         |           CAST(sum(q.c * d.c) AS BIGINT) AS dot
         |         FROM lex l
         |         JOIN cb q ON q.doc_id = l.query_id
         |         JOIN cb d ON d.doc_id = l.doc_id AND d.b = q.b
         |         GROUP BY 1, 2, 3, 4, 5),
         |cosv AS (SELECT dots.query_id, dots.doc_id, dots.lex_rank, dots.qchunk,
         |           CAST(round(CAST(dot AS DOUBLE) / (qn.nrm * cn2.nrm)
         |             * 1.0e6, 0) AS BIGINT) AS cos6u
         |         FROM dots
         |         JOIN nr qn ON qn.doc_id = dots.query_id AND qn.chunk = dots.qchunk
         |         JOIN nr cn2 ON cn2.doc_id = dots.doc_id AND cn2.chunk = dots.cchunk),
         |mx AS (SELECT query_id, doc_id, lex_rank, qchunk, max(cos6u) AS mxu
         |       FROM cosv GROUP BY 1, 2, 3, 4),
         |scv AS (SELECT query_id, doc_id, lex_rank, CAST(sum(mxu) AS BIGINT) AS s6u
         |        FROM mx GROUP BY 1, 2, 3),
         |msr AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |          ORDER BY s6u DESC, doc_id) AS rank FROM scv)""".stripMargin

  /** Unigram-LM oracle: candidate-piece counts with multiplicity,
    * the capped inventory (top-48 by count + every single char) with
    * -ln(count/total) pinned at 1e-9 integer units (mirrors
    * TextAnalysis.unigramPieces).
    */
  private val unigramPieceCtes =
    """occ AS (SELECT u.w FROM
      |    (SELECT string_split(text, ' ') AS toks FROM documents) t,
      |    unnest(toks) AS u(w) WHERE u.w <> ''),
      |pc AS (SELECT substr(w, s.s, l.l) AS piece, count(*) AS n_occ
      |       FROM occ,
      |         unnest(generate_series(1, length(w))) AS s(s),
      |         unnest(generate_series(1,
      |           least(4, length(w) - s.s + 1))) AS l(l)
      |       GROUP BY 1),
      |tot AS (SELECT sum(n_occ) AS tot FROM pc),
      |rk AS (SELECT piece, n_occ,
      |         row_number() OVER (ORDER BY n_occ DESC, piece) AS rk
      |       FROM pc),
      |kp AS MATERIALIZED (SELECT piece, n_occ,
      |         CAST(round(-ln(CAST(n_occ AS DOUBLE) / CAST(tot AS DOUBLE))
      |           * 1.0e9, 0) AS BIGINT) AS cost_n
      |       FROM rk, tot WHERE rk <= 48 OR length(piece) = 1)""".stripMargin

  /** Unrolled integer Viterbi over the distinct vocabulary (12 stages,
    * pieces <= 4 chars): stage i holds the min-cost segmentation of
    * each word's first i chars, key = cost*8 + (4 - L) so ties prefer
    * the LONGER piece — mirrors the driver DP in
    * TextAnalysis.unigramSegment value-for-value (all-integer costs).
    */
  /** Parameterized builder: `pfx` names the stage tables (so two
    * unrolls — e.g. under model₀ and the EM-updated model₁ — can
    * coexist in one query), `model` names the (piece, cost_n) CTE the
    * DP prices against.
    */
  private def viterbiCtes(pfx: String, model: String): String = {
    // the unroll is 12 stages: a word LONGER than 12 chars would fall
    // out of every `WHERE wl >= i` silently and vanish from the result
    // (and its tokens from fertility's join) — fail LOUDLY instead so
    // a longer-word corpus surfaces as an oracle error, not a
    // confusing hash mismatch. The Spark-side DP is unbounded.
    val b0 = s"""${pfx}0 AS MATERIALIZED (SELECT DISTINCT w,
               |         CASE WHEN length(w) > 12 THEN CAST(error(
               |             'unigram oracle: 12-stage Viterbi unroll exceeded: ' || w) AS INT)
               |           ELSE length(w) END AS wl,
               |         CAST(0 AS BIGINT) AS c, '' AS seg
               |       FROM occ)""".stripMargin
    val stages = (1 to 12).map { i =>
      val branches = (1 to math.min(4, i)).map { l =>
        s"""SELECT b.w, b.wl, b.c + p.cost_n AS c,
           |        (b.c + p.cost_n) * 8 + ${4 - l} AS k,
           |        CASE WHEN b.seg = '' THEN p.piece
           |             ELSE b.seg || ' ' || p.piece END AS seg
           |      FROM $pfx${i - l} b JOIN $model p
           |        ON p.piece = substr(b.w, ${i - l + 1}, $l)
           |      WHERE b.wl >= $i""".stripMargin
      }.mkString("\n      UNION ALL\n      ")
      s"""$pfx$i AS MATERIALIZED (SELECT w, wl, arg_min(c, k) AS c, arg_min(seg, k) AS seg
         |  FROM (
         |      $branches
         |  ) GROUP BY w, wl)""".stripMargin
    }
    (b0 +: stages).mkString(",\n")
  }

  private val unigramViterbiCtes: String = viterbiCtes("b", "kp")

  /** `res` rows (w, c, seg) = each word's final Viterbi stage. */
  private def viterbiRes(pfx: String): String =
    (1 to 12).map(i => s"SELECT w, c, seg FROM $pfx$i WHERE wl = $i")
      .mkString("\n  UNION ALL ")

  /** The hard-EM recount chain (mirrors TextAnalysis.unigramLmEm):
    * from the model₀ segmentations (`res` over prefix `b`) to the
    * re-estimated model CTE `kp2` — shared by `unigram_lm_em` (which
    * outputs it) and `unigram_em_gain` (which re-segments under it).
    */
  private val unigramEmCtes: String =
    """wf AS (SELECT w, count(*) AS f FROM occ GROUP BY w),
      |res AS (%s),
      |su AS (SELECT r.w, u.p AS piece
      |       FROM res r, unnest(string_split(r.seg, ' ')) AS u(p)),
      |c1 AS (SELECT piece, CAST(sum(f) AS BIGINT) AS n_occ
      |       FROM su JOIN wf USING (w) GROUP BY piece),
      |t1 AS (SELECT sum(n_occ) AS tot FROM c1),
      |kp2 AS MATERIALIZED (SELECT piece, n_occ,
      |         CAST(round(-ln(CAST(n_occ AS DOUBLE) / CAST(tot AS DOUBLE))
      |           * 1.0e9, 0) AS BIGINT) AS cost_n
      |       FROM c1, t1)""".stripMargin.format(viterbiRes("b"))

  /** One EM+prune oracle stage (mirrors TextAnalysis.unigramPruneStage):
    * recount pieces freq-weighted from the `srcPfx` Viterbi unroll,
    * keep top-`cap` by (n_occ DESC, piece) ∪ the recount's singles ∪
    * the charset floor (count 1) from the SEED model `kp` (which holds
    * every corpus char by construction — flooring from the previous
    * stage would lose chars the pure-EM round dropped as unused),
    * max-dedup the model-sized union, re-pin costs at 1e-9 — ends at
    * model CTE `out`.
    */
  private def unigramPruneStageCtes(srcPfx: String,
                                    out: String, cap: Int): String =
    s"""${out}_res AS (${viterbiRes(srcPfx)}),
       |${out}_su AS (SELECT r.w, u.p AS piece
       |       FROM ${out}_res r, unnest(string_split(r.seg, ' ')) AS u(p)),
       |${out}_rc AS (SELECT piece, CAST(sum(f) AS BIGINT) AS n_occ
       |       FROM ${out}_su JOIN wf USING (w) GROUP BY piece),
       |${out}_kept AS (SELECT piece, max(n_occ) AS n_occ FROM (
       |    SELECT piece, n_occ FROM (SELECT piece, n_occ FROM ${out}_rc
       |      ORDER BY n_occ DESC, piece LIMIT $cap)
       |    UNION ALL
       |    SELECT piece, n_occ FROM ${out}_rc WHERE length(piece) = 1
       |    UNION ALL
       |    SELECT piece, CAST(1 AS BIGINT) AS n_occ FROM kp
       |      WHERE length(piece) = 1) GROUP BY piece),
       |${out}_tot AS (SELECT sum(n_occ) AS tot FROM ${out}_kept),
       |$out AS MATERIALIZED (SELECT piece, n_occ,
       |    CAST(round(-ln(CAST(n_occ AS DOUBLE) / CAST(tot AS DOUBLE))
       |      * 1.0e9, 0) AS BIGINT) AS cost_n
       |  FROM ${out}_kept, ${out}_tot)""".stripMargin

  /** The shared prune-lineage oracle chain (mirrors
    * TextAnalysis.unigramPruneLineage at the default vocabK=48 →
    * target=24 in 2 rounds, caps 36 then 24): seed model `kp`, pure-EM
    * model `kp2`, prune models `pm1`/`pm2`, with Viterbi unrolls under
    * prefixes b/d/va (and vb under pm2 for the curve's final stage).
    */
  private val unigramPruneCtes: String =
    s"""$unigramPieceCtes,
       |$unigramViterbiCtes,
       |$unigramEmCtes,
       |${viterbiCtes("d", "kp2")},
       |${unigramPruneStageCtes("d", "pm1", 36)},
       |${viterbiCtes("va", "pm1")},
       |${unigramPruneStageCtes("va", "pm2", 24)}""".stripMargin

  /** One per-stage audit row (mirrors TextAnalysis.unigramStageStats):
    * inventory from the stage's model CTE, corpus budgets from the
    * freq-weighted Viterbi results of its unroll prefix.
    */
  private def unigramStageStatSql(i: Int, resPfx: String,
                                  model: String): String =
    s"""SELECT $i AS stage,
       |  (SELECT CAST(count(*) AS INT) FROM $model) AS inventory,
       |  CAST(sum(f) AS BIGINT) AS n_tokens,
       |  CAST(sum(f * len(string_split(r.seg, ' '))) AS BIGINT)
       |    AS n_subwords,
       |  CAST(sum(f * r.c) AS BIGINT) AS corpus_cost_n
       |FROM (${viterbiRes(resPfx)}) r JOIN wf USING (w)""".stripMargin

  /** Shared span-corruption plan CTEs (mirrors
    * TextAnalysis.spanCorruption) — ends at `r` = the span rows. */
  private val spanPlanCtes =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |           FROM documents),
         |blk AS (SELECT doc_id, toks, len(toks) AS len, g.b AS b,
         |          ${h60("'sc_' || doc_id || '_' || g.b")} AS h
         |        FROM t, unnest(generate_series(0,
         |          (CASE WHEN (len(toks) - 1) < 0 THEN -((-(len(toks) - 1)) // (16)) ELSE (len(toks) - 1) // (16) END))) AS g(b)),
         |pick AS (SELECT doc_id, toks, len, b, h,
         |           CAST((h // 2) % 3 + 3 AS INT) AS len0
         |         FROM blk WHERE h % 2 = 0),
         |sp AS (SELECT doc_id, toks, len, len0,
         |         CAST(b * 16 + ((h // 8) % (16 - len0 + 1)) + 1 AS INT)
         |           AS start_tok
         |       FROM pick),
         |cl AS (SELECT doc_id, toks, start_tok,
         |         CAST(least(len0, len - start_tok + 1) AS INT) AS span_len
         |       FROM sp WHERE start_tok <= len),
         |r AS (SELECT doc_id,
         |        CAST(row_number() OVER (PARTITION BY doc_id
         |          ORDER BY start_tok) AS INT) AS sentinel_id,
         |        start_tok, span_len,
         |        array_to_string(list_slice(toks, start_tok,
         |          start_tok + span_len - 1), ' ') AS span_text
         |      FROM cl)""".stripMargin

  /** The streaming e2e pipelines: the registry names ending `_e2e`.
    * Building one runs real streams, so the timing loops run each once
    * and the constructed-plan sweeps skip them.
    */
  lazy val e2eNames: Set[String] = queries.keySet.filter(_.endsWith("_e2e"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gold_bars_1m" -> ((s, dir) => goldBars(s, dir)),
    "q1_pricing_summary" -> ((s, dir) =>
      Relational.pricingSummary(Tables.lineitem(s, dir))),
    "q3_revenue_topk" -> ((s, dir) =>
      Relational.revenueTopK(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    // the bucketed-layout surface: same results as an unbucketed
    // orders⋈lineitem rollup (bucketing is pure layout — that IS the
    // oracle check); zero fact-side shuffle, asserted in PlanSpec.
    "bucketed_order_revenue" -> ((s, dir) =>
      Relational.bucketedOrderRevenue(s, Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    "region_revenue" -> ((s, dir) =>
      Relational.regionRevenue(Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.nation(s, dir), Tables.region(s, dir))),
    "region_revenue_rollup" -> ((s, dir) =>
      Relational.regionRevenueRollup(Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.nation(s, dir), Tables.region(s, dir))),
    "order_status_pivot" -> ((s, dir) =>
      Relational.orderStatusPivot(Tables.orders(s, dir))),
    "status_priority_cube" -> ((s, dir) =>
      Relational.statusPriorityCube(Tables.orders(s, dir))),
    "q4_returned_orders" -> ((s, dir) =>
      Relational.returnedOrdersByPriority(Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    "q17_small_qty_revenue" -> ((s, dir) =>
      Relational.smallQtyRevenue(Tables.lineitem(s, dir),
        Tables.part(s, dir))),
    "q5_local_supplier" -> ((s, dir) =>
      Relational.localSupplierVolume(Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir),
        Tables.region(s, dir))),
    "q19_disjunctive" -> ((s, dir) =>
      Relational.disjunctiveRevenue(Tables.lineitem(s, dir),
        Tables.part(s, dir))),
    "q6_forecast_revenue" -> ((s, dir) =>
      Relational.forecastRevenue(Tables.lineitem(s, dir))),
    "q7_volume_shipping" -> ((s, dir) =>
      Relational.volumeShipping(Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir))),
    "q8_market_share" -> ((s, dir) =>
      Relational.marketShare(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir),
        Tables.nation(s, dir), Tables.region(s, dir), Tables.part(s, dir))),
    "q13_order_count_dist" -> ((s, dir) =>
      Relational.orderCountDistribution(Tables.customer(s, dir),
        Tables.orders(s, dir))),
    "q15_top_supplier" -> ((s, dir) =>
      Relational.topSupplier(Tables.supplier(s, dir),
        Tables.lineitem(s, dir))),
    // the partsupp-dependent TPC-H shapes run over the DETERMINISTIC
    // derived relation (Relational.derivedPartSupp; oracle mirrors the
    // same CTE — a view over real tables, not synthesized inputs)
    "q2_min_cost_supplier" -> ((s, dir) =>
      Relational.minCostSupplier(Tables.part(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir),
        Tables.region(s, dir))),
    "q9_product_profit" -> ((s, dir) =>
      Relational.productProfit(Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.supplier(s, dir),
        Tables.nation(s, dir), Tables.part(s, dir))),
    "q11_important_stock" -> ((s, dir) =>
      Relational.importantStock(Tables.part(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir))),
    "q16_supplier_count" -> ((s, dir) =>
      Relational.supplierCountByPart(Tables.part(s, dir),
        Tables.supplier(s, dir))),
    "q20_excess_stock" -> ((s, dir) =>
      Relational.excessStockSuppliers(Tables.lineitem(s, dir),
        Tables.part(s, dir), Tables.supplier(s, dir),
        Tables.nation(s, dir))),
    "q10_returned_customers" -> ((s, dir) =>
      Relational.returnedCustomerRevenue(Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir),
        Tables.nation(s, dir))),
    "q12_priority_class" -> ((s, dir) =>
      Relational.priorityClassByStatus(Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    "q14_promo_revenue" -> ((s, dir) =>
      Relational.promoRevenue(Tables.lineitem(s, dir),
        Tables.part(s, dir))),
    "q18_large_orders" -> ((s, dir) =>
      Relational.largeOrders(Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "q21_sole_fail_supplier" -> ((s, dir) =>
      Relational.soleFailingSupplier(Tables.supplier(s, dir),
        Tables.lineitem(s, dir), Tables.orders(s, dir))),
    "q22_idle_rich_customers" -> ((s, dir) =>
      Relational.idleRichCustomers(Tables.customer(s, dir),
        Tables.orders(s, dir))),
    // salted-join skew mitigation, result-parity proven by the oracle's
    // PLAIN join: the salt scatters a hot supplier key over 8 reducers
    // without changing a single output row
    "skew_salted_join" -> ((s, dir) =>
      Skew.saltedJoin(
          Tables.lineitem(s, dir),
          Tables.supplier(s, dir)
            .withColumnRenamed("s_suppkey", "l_suppkey"),
          key = "l_suppkey", scatterCol = "l_orderkey")
        .groupBy(col("s_nationkey"))
        .agg(Relational.revenueAgg.as("revenue"),
          count(lit(1)).as("n_lineitems"))
        .orderBy(col("s_nationkey"))),

    // Bronze audit projection (P1/P2): Kafka-shaped frame → raw audit rows.
    "bronze_audit" -> ((s, dir) =>
      Bronze.fromKafkaLike(Bronze.kafkaShapedFromEvents(Tables.events(s, dir)))
        .orderBy(col("offset"))),

    // Silver parse (P3/P4/P5): wire JSON → from_json → typed columns.
    "silver_parse" -> ((s, dir) =>
      Silver.projectToSilver(
        Bronze.fromKafkaLike(Bronze.kafkaWireFromEvents(Tables.events(s, dir))))
        .select("offset", "exchange", "symbol", "side", "order_type",
          "price", "size", "event_time", "ingest_time", "event_date")
        .orderBy(col("offset"))),

    // Reject-channel audit: classify every wire row by first parse
    // defect (dead-letter gate beside the silver hop).
    "silver_reject_audit" -> ((s, dir) =>
      Silver.rejectAudit(
        Bronze.fromKafkaLike(Bronze.kafkaWireFromEvents(Tables.events(s, dir))))),

    // Exact dedup (A7) + union: duplicate every trade, dedup back down.
    "silver_dedup" -> ((s, dir) => {
      val t = Trades.fromEvents(Tables.events(s, dir))
        .select("symbol", "event_time", "price", "size", "side")
      Silver.dedup(t.union(t))
        .orderBy(col("symbol"), col("event_time"), col("price"),
          col("size"), col("side"))
    }),

    // Symbol normalization (P16): every splitting style + alias mapping.
    "symbol_normalize" -> ((s, dir) => {
      val pick = element_at(
        array(testSymbols.map(lit): _*), (col("user_id") % 6).cast("int") + 1)
      Tables.events(s, dir)
        .select(pick.as("symbol")).distinct()
        .select(col("symbol"),
          Symbols.baseCol(col("symbol")).as("base"),
          Symbols.quoteCol(col("symbol")).as("quote"),
          Symbols.normalizeCol(col("symbol")).as("normalized"))
        .orderBy(col("symbol"))
    }),

    // Full analytics frame (W1-W7, P7-P15): returns, rolling z, gaps,
    // anomalies in one window pass.
    "bar_analytics" -> ((s, dir) =>
      Analytics.enrich(Gold.bars(Trades.fromEvents(Tables.events(s, dir))))
        .orderBy(col("symbol"), col("bar_start"))),

    // Join-stitch variant (J1): same analytics via 3 chained left joins.
    "bar_analytics_joined" -> ((s, dir) =>
      Analytics.enrichViaJoins(Gold.bars(Trades.fromEvents(Tables.events(s, dir))))
        .select("symbol", "bar_start", "prev_close", "ret", "logret",
          "ret_mu", "ret_sd", "z_ret", "vol_mu", "vol_sd", "z_vol",
          "next_open", "gap_pct", "is_return_anom", "is_volume_anom")
        .orderBy(col("symbol"), col("bar_start"))),

    // Rank window family (ntile / percent_rank / cume_dist).
    "bar_rank_profile" -> ((s, dir) =>
      Analytics.rankProfile(Gold.bars(Trades.fromEvents(Tables.events(s, dir))))
        .orderBy(col("symbol"), col("quartile"))),

    // Technical indicators (Bollinger/RSI/EWMA) over 1m bars.
    "bar_indicators" -> ((s, dir) =>
      Analytics.indicators(Gold.bars(Trades.fromEvents(Tables.events(s, dir))))
        .orderBy(col("symbol"), col("bar_start"))),

    // Top-K then re-sort (O1/O2): last 180 bars of one symbol, time order.
    "bars_last_k" -> ((s, dir) =>
      Analytics.lastK(
        Gold.bars(Trades.fromEvents(Tables.events(s, dir)))
          .filter(col("symbol") === "SYM_7"), 180)),

    // As-of join (custom time-series operator): each trade picks up the
    // close/vwap of the latest COMPLETED bar of its symbol.
    "trades_asof_bars" -> ((s, dir) => {
      val trades = Trades.fromEvents(Tables.events(s, dir))
        .select("event_id", "symbol", "event_time", "price")
      val bars = Gold.bars(Trades.fromEvents(Tables.events(s, dir)))
        .select("symbol", "bar_end", "close", "vwap")
      AsOf.join(trades, bars, "symbol", "event_time", "bar_end",
        Seq("close", "vwap")).orderBy(col("event_id"))
    }),

    // Batch interval join (banded range join; the stream-stream interval
    // join's batch twin — see IntervalJoin scaladoc).
    "interval_buy_sells" -> ((s, dir) =>
      IntervalJoin.buySellMatches(Trades.fromEvents(Tables.events(s, dir)))),

    // Sliding-window bars (T2 extension: overlapping windows).
    "gold_bars_5m_sliding" -> ((s, dir) =>
      Gold.slidingBars(Trades.fromEvents(Tables.events(s, dir)))
        .orderBy(col("symbol"), col("bar_start"))),

    // Distribution + temporal profiles.
    "price_quantiles" -> ((s, dir) =>
      Analytics.priceQuantiles(Trades.fromEvents(Tables.events(s, dir)))),
    "price_winsorized" -> ((s, dir) =>
      Analytics.winsorizedStats(Trades.fromEvents(Tables.events(s, dir)))),
    "price_mad_outliers" -> ((s, dir) =>
      Analytics.madOutliers(Trades.fromEvents(Tables.events(s, dir)))),
    // pairwise log-return correlation over a fixed symbol universe —
    // exact decimal sums, textbook formula in doubles at the boundary.
    // hourly bars: minute bars are too sparse for cross-symbol overlap
    // at test SF; the formula is bar-width-independent.
    "symbol_correlation" -> ((s, dir) =>
      Analytics.symbolCorrelation(
        Gold.bars(Trades.fromEvents(Tables.events(s, dir)), "1 hour"),
        (1 to 8).map(i => s"SYM_$i"))),
    // OLS beta of each symbol vs the equal-weight market return.
    "symbol_beta" -> ((s, dir) =>
      Analytics.symbolBeta(
        Gold.bars(Trades.fromEvents(Tables.events(s, dir)), "1 hour"))),
    // lead-lag cross-correlation vs the market at +-2 hourly lags.
    "symbol_leadlag" -> ((s, dir) =>
      Analytics.symbolLeadLag(
        Gold.bars(Trades.fromEvents(Tables.events(s, dir)), "1 hour"))),
    // Kyle's lambda: price-impact slope of bar price change on signed flow.
    "symbol_kyle_lambda" -> ((s, dir) =>
      Analytics.kyleLambda(Trades.fromEvents(Tables.events(s, dir)))),
    // Hurst exponent by R/S analysis over 8/16/32/64-bar chunks.
    "symbol_hurst" -> ((s, dir) =>
      Analytics.hurstExponent(
        Gold.bars(Trades.fromEvents(Tables.events(s, dir)), "1 hour"))),
    // realized-variance signature across 1/5/15/60-minute sampling.
    "vol_signature" -> ((s, dir) =>
      Analytics.volSignature(Trades.fromEvents(Tables.events(s, dir)))),
    // SAX motif discovery: rank-quartile letters, top sliding words.
    "sax_motifs" -> ((s, dir) =>
      Analytics.saxMotifs(
        Gold.bars(Trades.fromEvents(Tables.events(s, dir)), "1 hour"))),
    // Hill tail-index over positive event values per type.
    "tail_index" -> ((s, dir) =>
      Sessions.hillTailIndex(Tables.events(s, dir))),
    // deepest peak-to-trough loss of each symbol's close series.
    "symbol_drawdown" -> ((s, dir) =>
      Analytics.maxDrawdown(
        Gold.bars(Trades.fromEvents(Tables.events(s, dir)), "1 hour"))),
    // four realized-vol estimators (close-to-close, Parkinson,
    // Garman-Klass, Rogers-Satchell) side by side per symbol.
    "symbol_vol_estimators" -> ((s, dir) =>
      Analytics.volEstimators(
        Gold.bars(Trades.fromEvents(Tables.events(s, dir)), "1 hour"))),
    // buy/sell pressure per (symbol, hour) with signed imbalance.
    "flow_imbalance" -> ((s, dir) =>
      Analytics.flowImbalance(Trades.fromEvents(Tables.events(s, dir)))),
    // strict-order conversion funnel over the raw event stream.
    "event_funnel" -> ((s, dir) =>
      Sessions.eventFunnel(Tables.events(s, dir))),
    // top within-session event-type routes (length-3 lead windows).
    "session_paths" -> ((s, dir) =>
      Sessions.sessionPaths(Tables.events(s, dir))),
    // exact rolling-median despike filter over hourly closes.
    "bar_median_despike" -> ((s, dir) =>
      Analytics.medianDespike(
        Gold.bars(Trades.fromEvents(Tables.events(s, dir)), "1 hour"))),
    // two-sided CUSUM control chart per symbol (prefix-extrema closed
    // form of the Page recursion; exact decimals end-to-end).
    "symbol_cusum" -> ((s, dir) =>
      Analytics.cusum(
        Gold.bars(Trades.fromEvents(Tables.events(s, dir)), "1 hour"))),
    // Donchian channel: trailing-20 extrema (current bar excluded) with
    // breakout flags.
    "bar_donchian" -> ((s, dir) =>
      Analytics.donchian(
        Gold.bars(Trades.fromEvents(Tables.events(s, dir)), "1 hour"))),
    // volume-weighted median price (robust fair price) beside vwap.
    "symbol_wmedian" -> ((s, dir) =>
      Analytics.weightedMedianPrice(
        Trades.fromEvents(Tables.events(s, dir)))),
    // Theil-Sen robust trend: median pairwise slope within a 24 h band.
    "theilsen_trend" -> ((s, dir) =>
      Analytics.theilSenTrend(
        Gold.bars(Trades.fromEvents(Tables.events(s, dir)), "1 hour"))),
    // PMI-ranked collocations over adjacent token pairs (min count 5).
    "token_pmi" -> ((s, dir) =>
      TextAnalysis.tokenPmi(Tables.documents(s, dir))),
    // RAKE keyphrases: stopword-split runs scored by word degree/freq.
    "rake_keyphrases" -> ((s, dir) =>
      TextAnalysis.rakeKeyphrases(Tables.documents(s, dir))),
    // association rules over capped per-doc itemsets (support/conf/lift).
    // dfCapFrac 0.9: the synthetic corpus is a ~31-token near-uniform
    // vocabulary (df ~0.8N), so the production default 0.3 would empty
    // every itemset; the spec proves the cap semantics on crafted data.
    "assoc_rules" -> ((s, dir) =>
      TextAnalysis.assocRules(Tables.documents(s, dir), dfCapFrac = 0.9)),
    // per-dimension embedding health audit with collapsed-dim flags.
    "embed_dim_stats" -> ((s, dir) =>
      Similarity.embedDimStats(Tables.embeddings(s, dir))),
    // dominant principal component by fixed-6-step in-plan power
    // iteration: anisotropy loadings + explained-variance share. Runs
    // on a deterministic 25% hash sample — the Gram pass is the honest
    // d²·n cost of exact PCA, and at corpus scale the drift probe is
    // always sampled; the salted sample IS the oracle-pinned contract.
    "embed_pca_power" -> ((s, dir) =>
      Similarity.embedPcaPower(Tables.embeddings(s, dir).filter(
        pmod(graft.functions.TextFunctions.hash60(
          concat(lit("pca_"), col("vec_id"))), lit(100)) < 25))),
    // difficulty-banded content-stable epoch order (curriculum stage).
    "curriculum_order" -> ((s, dir) =>
      TextAnalysis.curriculumOrder(Tables.documents(s, dir))),
    // cohort retention triangle: first-activity cohorts × day offsets.
    "user_retention" -> ((s, dir) =>
      Sessions.cohortRetention(Tables.events(s, dir))),
    // cohort LTV curves: cumulative revenue per signup-week cohort.
    "cohort_ltv" -> ((s, dir) =>
      Sessions.cohortLtv(Tables.events(s, dir))),
    // SCD Type-2 dimension build: per-user tier versions with
    // [valid_from, valid_to) validity and is_current.
    "scd2_build" -> ((s, dir) =>
      Scd.build(Tables.events(s, dir))),
    // point-in-time dimension lookup: purchases join the tier version
    // valid at purchase time; revenue by tier.
    "scd2_revenue_by_tier" -> ((s, dir) =>
      Scd.revenueByTier(Tables.events(s, dir))),
    // Nelson–Aalen time-to-conversion hazard, right-censored at 336 h.
    "conversion_survival" -> ((s, dir) =>
      Sessions.conversionSurvival(Tables.events(s, dir))),
    // semi-structured schema inventory: every key observed in the wire
    // JSON payloads with first/last offset — the drift audit a bronze
    // ingestion runs to catch producer schema changes before from_json
    // silently nulls new fields (PERMISSIVE mode hides them).
    "payload_key_audit" -> ((s, dir) => {
      val wire = Bronze.kafkaWireFromEvents(Tables.events(s, dir))
      wire.select(col("offset"),
          explode(expr("json_object_keys(cast(value as string))")).as("key"))
        .groupBy(col("key"))
        .agg(count(lit(1)).as("n"),
          min(col("offset")).as("first_offset"),
          max(col("offset")).as("last_offset"))
        .orderBy(col("key"))
    }),
    "price_histogram" -> ((s, dir) =>
      Analytics.priceHistogram(Trades.fromEvents(Tables.events(s, dir)))),
    // Cardinality + discrete-percentile profile. percentile_disc returns
    // an ACTUAL data element (SQL-standard rank rule, no interpolation
    // arithmetic), so it hash-matches DuckDB's quantile_disc exactly —
    // no rounding needed. The mergeable-sketch variants of this profile
    // (HLL++ approx_count_distinct, t-digest percentile_approx) are the
    // 100 TB map-side path; their engine-specific sketch outputs can't
    // hash-match any oracle, so they are bound-checked against the exact
    // values in CapsAndLshSpec instead.
    "approx_profile" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Trades.fromEvents(Tables.events(s, dir))
        .groupBy(col("symbol"))
        .agg(
          count_distinct(col("price")).as("price_levels"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY price)")
            .as("p50_disc"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY price)")
            .as("p90_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("symbol"))
    }),
    "time_profile" -> ((s, dir) =>
      Analytics.timeProfile(Trades.fromEvents(Tables.events(s, dir)))),

    // Multi-timeframe resample: 1h bars composed from 1m bars.
    "bars_resampled_1h" -> ((s, dir) =>
      Gold.resample(Gold.bars(Trades.fromEvents(Tables.events(s, dir))))
        .orderBy(col("symbol"), col("bar_start"))),

    // Incremental gold bars: the daily-delta form of the gold tier —
    // 80% of trades folded into persisted mergeable bar STATE, the 20%
    // delta folded in via state merge (never re-reading history trades).
    // Oracle = full recompute over all trades: merge∘state ≡ bars.
    "bars_incremental" -> ((s, dir) => {
      val trades = Trades.fromEvents(Tables.events(s, dir))
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("bar_"), col("event_id"))), lit(100)) < 80
      Gold.finalizeBars(Gold.mergeBarStates(
        Gold.barState(trades.filter(isHist)),
        Gold.barState(trades.filter(!isHist))))
        .orderBy(col("symbol"), col("bar_start"))
    }),

    // Late-data restatement: a 2% salted "late trade" delta folded into
    // the persisted bar state, re-aggregating ONLY the touched bars
    // (broadcast semi/anti join on the delta's key set; untouched bars
    // pass through unaggregated). Oracle = full recompute.
    "bars_restate" -> ((s, dir) => {
      val trades = Trades.fromEvents(Tables.events(s, dir))
      val isOnTime = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("late_"), col("event_id"))), lit(100)) < 98
      Gold.restateBars(
        Gold.barState(trades.filter(isOnTime)), trades.filter(!isOnTime))
        .orderBy(col("symbol"), col("bar_start"))
    }),

    // Gap filling: dense minute grid with forward-filled close.
    "bars_gapfilled" -> ((s, dir) =>
      Analytics.fillGaps(
        Gold.bars(Trades.fromEvents(Tables.events(s, dir)))
          .filter(col("symbol") === "SYM_7"))
        .orderBy(col("bar_start"))),
    // Linear-interpolation imputation beside the forward fill.
    "bars_interpolated" -> ((s, dir) =>
      Analytics.interpolateGaps(
        Gold.bars(Trades.fromEvents(Tables.events(s, dir)))
          .filter(col("symbol") === "SYM_7"))
        .orderBy(col("bar_start"))),

    // Coverage counts (analysis.ipynb N4 tail: null-skipping count(col)
    // as a window warm-up sanity check) — global no-group aggregation.
    // window-function completeness: dense_rank (ties share a rank, no
    // gaps) + first_value/last_value day anchors over the bar frame —
    // the remaining analytic-window family not exercised elsewhere.
    // One (symbol, bar_date) partition sort shared by all three.
    "bar_window_funcs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("symbol"), col("bar_date"))
      Gold.bars(Trades.fromEvents(Tables.events(s, dir)))
        .select(col("symbol"), col("bar_date"), col("bar_start"),
          col("close"), col("volume"))
        .withColumn("vol_rank",
          dense_rank().over(w.orderBy(col("volume").desc)))
        .withColumn("day_first_close",
          first(col("close")).over(w.orderBy(col("bar_start"))))
        .withColumn("day_last_close",
          last(col("close")).over(w.orderBy(col("bar_start"))
            .rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)))
        .orderBy(col("symbol"), col("bar_start"))
    }),

    // the last three analytic window functions not exercised elsewhere:
    // gapped rank, nth_value over the running frame (NULL until the
    // frame holds n rows), lag with offset + default. bar_start is
    // unique per (symbol, bar_date) partition so the default RANGE
    // running frame equals ROWS in both engines.
    "bar_window_extras" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("symbol"), col("bar_date"))
      val wt = w.orderBy(col("bar_start"))
      Gold.bars(Trades.fromEvents(Tables.events(s, dir)))
        .select(col("symbol"), col("bar_date"), col("bar_start"),
          col("close"), col("volume"))
        .withColumn("vol_rank_gapped",
          rank().over(w.orderBy(col("volume").desc)).cast("int"))
        .withColumn("third_close", nth_value(col("close"), 3).over(wt))
        .withColumn("close_lag2", lag(col("close"), 2, -1.0).over(wt))
        .orderBy(col("symbol"), col("bar_start"))
    }),

    // semi-structured access: the events table carries a JSON props
    // column; extract a path, type it, aggregate — the JSON-column
    // pattern of every telemetry pipeline. Map-only extraction fused
    // into the scan; only |event_type| groups shuffle.
    "json_props_profile" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          // exact-decimal sum / count, not bare avg(): double partial
          // sums are order-dependent once |sum| exceeds 2^53 (repo
          // determinism convention, same as q17's avg_qty)
          (round(sum(col("k").cast(org.apache.spark.sql.types.DecimalType(20, 0)))
            .cast("double") / count(col("k")).cast("double")
            * lit(1.0e6), 0) / lit(1.0e6)).as("avg_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type"))),

    "analytics_coverage" -> ((s, dir) =>
      Analytics.enrich(Gold.bars(Trades.fromEvents(Tables.events(s, dir))))
        .agg(
          count(lit(1)).as("n_bars"),
          count(col("z_ret")).as("n_z_ret"),
          count(col("z_vol")).as("n_z_vol"),
          sum(col("is_return_anom").cast("long")).as("n_ret_anom"),
          sum(col("is_volume_anom").cast("long")).as("n_vol_anom"))),

    // Set operations: symbols present in the first vs last half of the
    // observed window (EXCEPT / INTERSECT).
    "symbol_churn" -> ((s, dir) => {
      val t = Trades.fromEvents(Tables.events(s, dir))
      val mid = lit("2024-01-16 00:00:00").cast("timestamp")
      val first = t.filter(col("event_time") < mid).select("symbol").distinct()
      val last = t.filter(col("event_time") >= mid).select("symbol").distinct()
      first.except(last).select(lit("first_only").as("bucket"), col("symbol"))
        .union(last.except(first).select(lit("last_only").as("bucket"), col("symbol")))
        .union(first.intersect(last).select(lit("both").as("bucket"), col("symbol")))
        .orderBy(col("bucket"), col("symbol"))
    }),

    // End-to-end streaming parity: gen → (stream) bronze → (stream)
    // silver → (stream) gold through the real AvailableNow file-stream
    // hops, gold sink read back and oracle-compared (T1-T8, K1-K5, S2
    // as one pipeline instead of per-hop tests).
    "pipeline_gold_e2e" -> ((s, dir) =>
      graft.streaming.Pipeline.goldE2E(s, dir)),

    // The corpus-side twin: delta docs land as files, quality-gated and
    // near-dup-flagged against the persisted history index through real
    // AvailableNow file-stream hops (both stateless), survivors shipped
    // by the sink-side compaction — streaming qualityFilter ∘
    // incrementalApply, oracle-compared as one pipeline.
    "pipeline_corpus_e2e" -> ((s, dir) =>
      graft.streaming.Pipeline.corpusE2E(s, dir)),

    // Streaming late-data restatement: persisted bar_date-partitioned
    // mergeable bar state + a late-trade file stream folded in per
    // micro-batch via foreachBatch + dynamic partition overwrite (only
    // touched dates rewritten); the final state finalized and compared
    // against the full-recompute bars oracle.
    "pipeline_restate_e2e" -> ((s, dir) =>
      graft.streaming.Pipeline.restateE2E(s, dir)),
    // streaming takedown e2e: the persisted signature index + add
    // ledger as nightly state, takedown ids drained through a real
    // AvailableNow hop appending O(delta) DEL tombstones per
    // micro-batch, then the as-of reconstruction — must agree with
    // the batch ledger fold (the merge-on-read twin of index_asof).
    "pipeline_retire_e2e" -> ((s, dir) =>
      graft.streaming.Pipeline.retireE2E(s, dir)),
    // streaming sketch hop: KMV k-min sets + HLL registers folded per
    // micro-batch into persisted mergeable state; the final state's
    // estimates must equal the one-shot batch sketch exactly.
    "sketch_stream_e2e" -> ((s, dir) =>
      graft.streaming.Pipeline.sketchE2E(s, dir)),
    // live-bars update-mode surface: dynamic-overwrite upserts keep
    // in-progress bars queryable; after the drain the sink must equal
    // the batch recompute bar for bar. Hourly upsert granularity (the
    // restate-style read-merge-write) measured FASTER than per-bar
    // dirs at sf0.1 (11.7 vs 16.7 s) — see BASELINE.md.
    "bars_live_e2e" -> ((s, dir) =>
      graft.streaming.Pipeline.liveBarsE2E(s, dir, hourly = true)),

    // Sessionization (gap-based session windows, batch shape).
    "trade_sessions" -> ((s, dir) =>
      Sessions.stats(Trades.fromEvents(Tables.events(s, dir)))
        .orderBy(col("symbol"), col("session_id"))),
    // Same semantics through Spark's native session_window state path.
    "trade_sessions_native" -> ((s, dir) =>
      Sessions.statsNative(Trades.fromEvents(Tables.events(s, dir)))
        .orderBy(col("symbol"), col("session_id"))),

    // ---- training-data pipeline operators (documents/embeddings) ----

    "text_stats" -> ((s, dir) =>
      TextAnalysis.stats(Tables.documents(s, dir)).orderBy(col("doc_id"))),
    // Gopher repetition profile: dominant n-gram identity + char
    // fraction, linear-shuffle variant of repetition_signals.
    "repetition_profile" -> ((s, dir) =>
      TextAnalysis.repetitionProfile(Tables.documents(s, dir))),
    "lang_id" -> ((s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir)).orderBy(col("doc_id"))),
    // evaluation harness for the language family: confusion matrix of
    // the heuristic vs the labeled lang column; diagonal = recall.
    "langid_confusion" -> ((s, dir) =>
      TextAnalysis.langIdConfusion(Tables.documents(s, dir))),
    "doc_fingerprints" -> ((s, dir) =>
      TextAnalysis.fingerprints(Tables.documents(s, dir)).orderBy(col("doc_id"))),
    "top_bigrams" -> ((s, dir) =>
      TextAnalysis.topBigrams(Tables.documents(s, dir))),
    "tfidf_top_terms" -> ((s, dir) =>
      TextAnalysis.tfIdf(Tables.documents(s, dir))
        .orderBy(col("doc_id"), col("rank"))),
    // corpus curation: deterministic sampling, quality gating, language
    // balancing — the select/filter/mix steps of a training-data pipeline.
    "sample_hash_10pct" -> ((s, dir) =>
      TextAnalysis.hashSample(Tables.documents(s, dir))
        .select(col("doc_id")).orderBy(col("doc_id"))),
    "quality_filter" -> ((s, dir) =>
      TextAnalysis.qualityFilter(Tables.documents(s, dir))
        .orderBy(col("doc_id"))),
    // relative per-source gate beside the absolute one above.
    "quality_top_decile" -> ((s, dir) =>
      TextAnalysis.qualityTopDecile(Tables.documents(s, dir))),
    "corpus_balance" -> ((s, dir) =>
      TextAnalysis.balanceByLanguage(Tables.documents(s, dir))
        .orderBy(col("lang_pred"), col("lang_rank"))),
    "quality_signals" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(Tables.documents(s, dir))
        .orderBy(col("doc_id"))),
    // Flesch / Flesch-Kincaid readability per doc (heuristic counters).
    "readability" -> ((s, dir) =>
      TextAnalysis.readability(Tables.documents(s, dir))),
    // CCNet-style perplexity filter: unigram LM trained on the lang='en'
    // slice, every doc scored by avg token log-prob + OOV rate.
    // CCNet-style per-language LM-score terciles with token mass.
    "ccnet_buckets" -> ((s, dir) =>
      TextAnalysis.ccnetBuckets(Tables.documents(s, dir))),
    // Spearman rho between the heuristic and LM quality signals.
    "quality_rank_corr" -> ((s, dir) =>
      TextAnalysis.qualityRankCorr(Tables.documents(s, dir))),
    // per-label farthest-from-centroid embedding outliers.
    "embed_outliers" -> ((s, dir) =>
      Similarity.embedOutliers(Tables.embeddings(s, dir))),
    // per-source header/footer template audit (boilerplate detector).
    "boilerplate_audit" -> ((s, dir) =>
      TextAnalysis.boilerplateAudit(Tables.documents(s, dir))),
    "lm_score" -> ((s, dir) =>
      TextAnalysis.lmScore(Tables.documents(s, dir))),
    // stupid-backoff bigram upgrade of lm_score.
    "lm_score_bigram" -> ((s, dir) =>
      TextAnalysis.lmScoreBigram(Tables.documents(s, dir))),
    // LM scoring served off the persisted postings index: the 20% delta
    // scored under the FROZEN history LM (the same index table BM25
    // queries — one index, two consumers).
    "lm_score_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      TextAnalysis.lmScoreIndexed(
        TextAnalysis.bm25Index(
          docs.filter(isHist && col("lang") === "en")),
        docs.filter(!isHist))
    }),
    // LM retirement: the ret_ 10% takedown dropped from the postings
    // index by the generic per-row retire, surviving docs re-scored —
    // full-recompute-minus-retired parity like every retire query.
    "lm_retire" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isRet = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ret_"), col("doc_id"))), lit(100)) >= 90
      TextAnalysis.lmScoreIndexed(
        Dedup.retireRows(
          TextAnalysis.bm25Index(docs.filter(col("lang") === "en")),
          docs.filter(isRet).select(col("doc_id"))),
        docs.filter(!isRet))
    }),
    // perplexity drift: history self-score vs delta score under the
    // frozen history LM — the retrain trigger for the quality gate.
    "lm_ppl_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      val hist = docs.filter(isHist)
      TextAnalysis.lmDrift(
        TextAnalysis.bm25Index(hist.filter(col("lang") === "en")),
        hist, docs.filter(!isHist))
    }),
    // context-length chunking: overlapping token windows per doc.
    "doc_chunks" -> ((s, dir) =>
      TextAnalysis.chunkDocs(Tables.documents(s, dir))),
    // content-defined chunking: gear-hash cut points, insertion-robust.
    "cdc_chunks" -> ((s, dir) =>
      TextAnalysis.cdcChunks(Tables.documents(s, dir))),
    // cross-document boilerplate via duplicated CDC chunks.
    "cdc_dup_chunks" -> ((s, dir) =>
      TextAnalysis.cdcDupChunks(Tables.documents(s, dir))),
    // incremental CDC: delta chunks checked against the history chunk
    // index (same salted 80/20 split as dedup_incremental).
    "cdc_dup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      TextAnalysis.incrementalCdcDups(
        TextAnalysis.cdcChunkIndex(docs.filter(isHist)),
        docs.filter(!isHist))
    }),
    // BM25 lexical retrieval: top-k docs for a fixed query-term set.
    "bm25_topk" -> ((s, dir) =>
      TextAnalysis.bm25TopK(Tables.documents(s, dir))),
    // pseudo-relevance feedback: seed top-10 docs donate integer-ranked
    // expansion terms, corpus re-ranked with the expanded query.
    "bm25_prf" -> ((s, dir) =>
      TextAnalysis.bm25Prf(Tables.documents(s, dir))),
    // hybrid retrieval: reciprocal-rank fusion of the query-by-document
    // BM25 leg and the exact dense leg (vec_id ≡ doc_id) — ranks only,
    // no cross-leg score calibration.
    "hybrid_search" -> ((s, dir) =>
      TextAnalysis.hybridSearch(
        Tables.documents(s, dir), Tables.embeddings(s, dir))),
    // ColBERT-style late interaction: BM25 top-20 candidates reranked
    // by MaxSim over per-chunk hashed multi-vectors — only candidate
    // pairs pay the chunk-pair cost (retrieve-then-rerank).
    "maxsim_topk" -> ((s, dir) =>
      TextAnalysis.maxSimRerank(Tables.documents(s, dir))),
    // nDCG/MRR of the MaxSim rerank against BM25-graded truth: the
    // per-query measure of how much late interaction reorders the
    // lexical candidates.
    "maxsim_eval" -> ((s, dir) =>
      TextAnalysis.maxSimEval(Tables.documents(s, dir))),
    // multi-vector index takedown: the per-doc chunk-vector rows drop
    // by ONE provenance anti join, the rerank serves off the retired
    // index and surviving queries/corpus stats — same full-recompute-
    // minus-retired parity as every other index family's retire.
    // multi-vector index refresh: the persisted history chunk-vector
    // rows plus an idempotent anti-joined delta append; the rerank
    // (narrower leg: top-15 candidates, top-8 served) off the
    // refreshed index must equal the full rebuild.
    "maxsim_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      val hist = TextAnalysis.maxSimChunkVectors(docs.filter(isHist))
      val delta = TextAnalysis.maxSimChunkVectors(
        docs.filter(!isHist).join(hist.select(col("doc_id")).distinct(),
          Seq("doc_id"), "left_anti"))
      TextAnalysis.maxSimRerank(docs, legK = 15, k = 8,
        index = Some(hist.unionByName(delta)))
    }),
    // unigram-LM (SentencePiece-family) tokenizer: candidate-substring
    // counts -> capped inventory (top-48 + every single char) with
    // nano-pinned -ln(p) costs; the third subword algorithm beside
    // greedy-vocab and BPE.
    "unigram_lm_learn" -> ((s, dir) =>
      TextAnalysis.unigramPieces(Tables.documents(s, dir))),
    // per-word integer Viterbi under that model — the DP runs
    // DISTRIBUTED as a compiled expression against the broadcast
    // vocabulary-sized model (ties prefer the longer piece via the
    // packed cost*8+(4-L) key); the word table never leaves the cluster.
    "unigram_segment" -> ((s, dir) =>
      TextAnalysis.unigramSegment(Tables.documents(s, dir))),
    // corpus-scale unigram-model application: ONE map-only compiled
    // pass folding the per-word DP into per-doc subword budget +
    // fertility (the serving shape: tiny model, distributed apply).
    "unigram_fertility" -> ((s, dir) =>
      TextAnalysis.unigramFertility(Tables.documents(s, dir))),
    // one hard-EM round on the unigram model: Viterbi-segment under
    // model0, recount pieces weighted by word frequency, re-pin costs
    // — the SentencePiece trainer step, unused candidates pruned.
    "unigram_lm_em" -> ((s, dir) =>
      TextAnalysis.unigramLmEm(Tables.documents(s, dir))),
    // EM gain audit: corpus cost / subword budget / fertility under
    // model0 vs the EM model — the accept-the-new-tokenizer check
    // (cost non-increasing, inventory pruned), one row per stage.
    "unigram_em_gain" -> ((s, dir) =>
      TextAnalysis.unigramEmGain(Tables.documents(s, dir))),
    // Kudo's trainer loop to a target inventory: the pure-EM accept
    // round, then 2 EM+prune rounds (caps 36 → 24) — the final pruned
    // model a tokenizer ships (single-char coverage floor preserved)
    "unigram_lm_prune" -> ((s, dir) =>
      TextAnalysis.unigramPrune(Tables.documents(s, dir))),
    // the em_gain audit EXTENDED through the prune rounds: one row per
    // lineage stage (seed, EM, prune@36, prune@24) — inventory shrink
    // vs corpus-cost/fertility price, n_tokens constant = coverage
    "unigram_prune_curve" -> ((s, dir) =>
      TextAnalysis.unigramPruneCurve(Tables.documents(s, dir))),
    // margin-based bitext mining (Artetxe & Schwenk): LSH-bucketed
    // src×tgt language candidates, ratio margin over per-side k-NN
    // means, rank-1 + margin>1 mined pairs — the parallel-corpus op.
    "bitext_mine" -> ((s, dir) =>
      Similarity.bitextMine(Tables.documents(s, dir),
        Tables.embeddings(s, dir))),
    // bitext index takedown: the persisted banded-vector rows drop by
    // ONE provenance anti join and the miner serves off the retired
    // index — retired docs vanish from candidates AND from every
    // neighborhood mean (margins re-normalize), full-recompute-minus-
    // retired parity like every other index family's retire.
    "bitext_retire" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val isRet = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ret_"), col("doc_id"))), lit(100)) >= 90
      // pin the retired index here: bitextMine no longer re-pins
      // caller-supplied indexes, and this one feeds both capped sides
      val retired = Dedup.retireRows(
        Similarity.bitextBands(docs, emb),
        docs.filter(isRet).select(col("doc_id")), idCol = "vec_id")
        .localCheckpoint(false)
      Similarity.bitextMine(docs, emb, bandIndex = Some(retired))
    }),
    // bitext index refresh: history band rows + an idempotent
    // anti-joined delta append (per-doc provenance — a doc's band rows
    // depend on nothing else), then the miner serves off the refreshed
    // index; must equal the full rebuild exactly.
    "bitext_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      // hist is referenced by the delta's already-indexed anti join AND
      // the serving union — pin it so the 16-hyperplane build runs once
      val hist = Similarity.bitextBands(docs.filter(isHist), emb)
        .localCheckpoint(false)
      // pin the delta leg too: bitextMine no longer re-pins caller
      // indexes (the old re-pin stored hist's rows twice), and the
      // hist∪delta union feeds both capped sides — two pinned legs
      // make each side's reference a cheap RDD re-scan
      val delta = Similarity.bitextBands(
        docs.filter(!isHist).join(hist.select(col("vec_id")).distinct(),
          col("doc_id") === col("vec_id"), "left_anti"), emb)
        .localCheckpoint(false)
      Similarity.bitextMine(docs, emb,
        bandIndex = Some(hist.unionByName(delta)))
    }),
    // bitext recall audit: LSH-mined pairs vs the brute-force bipartite
    // margin ranking — recall@1 + mined-pair Jaccard as data, the knob
    // audit that says when the corpus has outgrown the band geometry
    // (lsh_recall_audit's role for this family).
    "bitext_recall_audit" -> ((s, dir) =>
      Similarity.bitextRecallAudit(Tables.documents(s, dir),
        Tables.embeddings(s, dir))),
    // ---- entity resolution (record linkage) family: source A =
    // customer verbatim, source B = deterministic corrupted
    // re-observation (known true links) — block, Fellegi–Sunter
    // score, evaluate the operating curve, close into entities.
    // The scored-pair build (blocking + u-estimation + scoring) runs
    // ONCE into the persisted match index (er_match_index below);
    // eval/entities/retire are consumers of that parquet, exactly as
    // a production deployment serves them — they never re-pay the
    // build (round-13 cost: 4× per bench run).
    "er_match_index" -> ((s, dir) =>
      erMatchIndex(s, dir).orderBy(col("a_id"), col("b_id"))),
    "er_candidates" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      EntityResolution.candidates(
          EntityResolution.sourceA(c), EntityResolution.sourceB(c))
        .orderBy(col("a_id"), col("b_id"))
    }),
    "er_match" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      EntityResolution.matchScores(
          EntityResolution.sourceA(c), EntityResolution.sourceB(c))
        .orderBy(col("a_id"), col("b_id"))
    }),
    "er_eval" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      EntityResolution.erEvalFromIndex(erMatchIndex(s, dir),
        EntityResolution.sourceB(c))
    }),
    // the finer-keys remedy measured as a query: third
    // (nation, name-digit-bucket) blocking pass at cap 64 — the
    // operating curve the 2-pass key set only reaches at cap 256.
    "er_eval_finer" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      EntityResolution.erEval(EntityResolution.sourceA(c),
        EntityResolution.sourceB(c), cap = 64, finerKeys = true)
    }),
    "er_entities" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      EntityResolution.entitiesFromIndex(erMatchIndex(s, dir),
        EntityResolution.sourceA(c), EntityResolution.sourceB(c))
    }),
    // incremental twin: delta B records blocked against the persisted
    // master index, scored with u probabilities FROZEN on the history.
    "er_incremental" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val a = EntityResolution.sourceA(c)
      val b = EntityResolution.sourceB(c)
      val splitH = graft.functions.TextFunctions.hash60(
        concat(lit("er_inc_"), col("rec_id").cast("string"))) % 100
      EntityResolution.incrementalMatches(a,
          b.filter(splitH < 80), b.filter(splitH >= 80))
        .orderBy(col("a_id"), col("b_id"))
    }),
    // takedown twin: retired master records anti-joined out of the
    // frozen match index, entity graph re-closed over survivors.
    "er_retire" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val a = EntityResolution.sourceA(c)
      val retired = a.filter(graft.functions.TextFunctions.hash60(
          concat(lit("er_ret_"), col("rec_id").cast("string"))) % 10 === 3)
        .select(col("rec_id"))
      EntityResolution.entitiesAfterRetireFromIndex(erMatchIndex(s, dir),
        a, EntityResolution.sourceB(c), retired)
    }),
    // 1-row audit of the data-derived chance-agreement parameters.
    "er_u_audit" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      EntityResolution.uAudit(
        EntityResolution.sourceA(c), EntityResolution.sourceB(c))
    }),
    // ---- data valuation: exact KNN-Shapley (closed form, no Monte
    // Carlo) over the embedding corpus vs a held-out test panel, its
    // truncated two-stage top-R scale twin, and the per-label audit.
    "shapley_knn" -> ((s, dir) =>
      Valuation.shapleyKnn(Tables.embeddings(s, dir))),
    "shapley_knn_trunc" -> ((s, dir) =>
      Valuation.shapleyKnnTruncated(Tables.embeddings(s, dir))),
    "shapley_label_audit" -> ((s, dir) =>
      Valuation.shapleyLabelAudit(Tables.embeddings(s, dir))),
    // truncation-fidelity audit: TKNN-vs-exact value error per label,
    // in exact 1e-6 integer units (the lsh_recall_audit discipline).
    "shapley_trunc_fidelity" -> ((s, dir) =>
      Valuation.shapleyTruncFidelity(Tables.embeddings(s, dir))),
    // the truncation-rank knob as an oracle-verified curve (`Measure
    // sweep shap` is the wide dev sweep): fidelity rows at R = 16 and 64.
    "shapley_r_curve" -> ((s, dir) =>
      Valuation.shapleyRCurve(Tables.embeddings(s, dir))),
    // incremental twin: delta train points merged with the persisted
    // per-test top-R index — full-rebuild parity at delta cost.
    "shapley_incremental" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val isPanel = pmod(col("vec_id"), lit(Valuation.TestMod))
        .===(Valuation.TestRes) &&
        col("vec_id") < lit(Valuation.TestMod.toLong * Valuation.MaxPanel)
      val isHist = graft.functions.TextFunctions.hash60(
        concat(lit("shap_inc_"), col("vec_id").cast("string"))) % 100 < 80
      Valuation.shapleyIncremental(
        Valuation.topRIndex(emb.filter(isPanel || isHist)),
        emb.filter(isPanel || !isHist))
    }),
    // reproducible per-epoch global shuffle + same-source adjacency
    // audit — the trainer-side data-ordering op (position is a pure
    // function of (epoch, doc), resumable by construction).
    "epoch_shuffle_audit" -> ((s, dir) =>
      TextAnalysis.epochShuffleAudit(Tables.documents(s, dir))),
    // T5-style span-corruption plan: deterministic blocked mask spans
    // (hash-decided presence/length/offset per 16-token block, zero
    // floats) emitted as the rows a denoising packing job consumes.
    "span_corruption" -> ((s, dir) =>
      TextAnalysis.spanCorruption(Tables.documents(s, dir))),
    // the denoising PAIRS from the span plan: input with sentinel
    // replacements, target = sentinel-prefixed masked spans in order.
    "span_corruption_pack" -> ((s, dir) =>
      TextAnalysis.spanCorruptionPack(Tables.documents(s, dir))),
    // soft dedup: reweighting instead of removal — every near-dup
    // cluster member keeps weight 1/cluster_size (exact 1e-6-unit
    // integer division), eff_tokens is the weighted token budget.
    "dedup_soft_weights" -> ((s, dir) =>
      Dedup.softDedupWeights(Tables.documents(s, dir))),
    "maxsim_retire" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isRet = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ret_"), col("doc_id"))), lit(100)) >= 90
      val retired = Dedup.retireRows(
        TextAnalysis.maxSimChunkVectors(docs),
        docs.filter(isRet).select(col("doc_id")))
      TextAnalysis.maxSimRerank(docs.filter(!isRet),
        index = Some(retired))
    }),
    // passage-level BM25, MaxP doc scoring: chunk geometry sized so the
    // test corpus' ~50-token docs actually split into multiple passages.
    "bm25_passages" -> ((s, dir) =>
      TextAnalysis.bm25Passages(Tables.documents(s, dir),
        chunkTokens = 32, stride = 24)),
    // incremental retrieval: BM25 served from the persisted postings
    // index, refreshed with the delta batch (same salted 80/20 split as
    // dedup_incremental) — equals a full-corpus recompute exactly, but
    // history text is never re-tokenized. Second query-term set.
    "bm25_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      TextAnalysis.bm25QueryIndex(
        TextAnalysis.refreshBm25Index(
          TextAnalysis.bm25Index(docs.filter(isHist)), docs.filter(!isHist)),
        Seq("stream", "merge", "batch"))
    }),
    // passage retrieval served from the PERSISTED chunk-level postings
    // index (refreshed with the salted 20% delta): corpus stats off
    // the index, MaxP on top — the corpus is chunked exactly once, at
    // index build. Second query-term set.
    "bm25_passages_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      TextAnalysis.bm25QueryPassageIndex(
        TextAnalysis.refreshBm25PassageIndex(
          TextAnalysis.bm25PassageIndex(docs.filter(isHist), 32, 24),
          docs.filter(!isHist), 32, 24),
        Seq("stream", "merge", "batch"))
    }),
    // passage-index retire: chunk postings are doc-provenanced, so the
    // takedown is the generic anti join; MaxP then serves survivors.
    "bm25_passages_retire" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isRet = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ret_"), col("doc_id"))), lit(100)) >= 90
      TextAnalysis.bm25QueryPassageIndex(
        Dedup.retireRows(TextAnalysis.bm25PassageIndex(docs, 32, 24),
          docs.filter(isRet).select(col("doc_id"))))
    }),
    // passage-level dedup over the chunk stream.
    "dedup_chunks" -> ((s, dir) =>
      TextAnalysis.chunkDupes(Tables.documents(s, dir))),
    // exact-substring dedup: maximal duplicated k-token spans (any offset).
    "dedup_spans" -> ((s, dir) =>
      TextAnalysis.duplicatedSpans(Tables.documents(s, dir))),
    "dedup_span_stats" -> ((s, dir) =>
      TextAnalysis.spanStats(Tables.documents(s, dir))),
    "dedup_span_scrub" -> ((s, dir) =>
      TextAnalysis.spanScrub(Tables.documents(s, dir))),
    // incremental spans: delta checked against the history hash index
    // (same salted 80/20 split as dedup_incremental).
    "dedup_spans_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      TextAnalysis.incrementalSpans(
        TextAnalysis.spanShingleIndex(docs.filter(isHist)),
        docs.filter(!isHist))
    }),
    // per-doc novelty of the same delta vs the same history index:
    // fraction of k-token windows not in the corpus (data-selection
    // priority signal).
    "novelty_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      TextAnalysis.noveltySpanScores(
        TextAnalysis.spanShingleIndex(docs.filter(isHist)),
        docs.filter(!isHist))
    }),
    // train/val/test distribution-parity audit (decontaminate's split).
    "split_audit" -> ((s, dir) =>
      TextAnalysis.splitAudit(Tables.documents(s, dir))),
    "quality_drift" -> ((s, dir) =>
      TextAnalysis.qualityDrift(Tables.documents(s, dir))),
    "decontaminate" -> ((s, dir) =>
      TextAnalysis.decontaminate(Tables.documents(s, dir))),
    // fuzzy decontamination: TRAIN docs that MinHash-near-match any TEST
    // doc (same salted split as decontaminate) — catches the paraphrased
    // contamination the exact 8-gram check misses. Pure composition:
    // test signatures ARE the history index of the incremental check.
    "decontaminate_fuzzy" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isTest = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("split_"), col("doc_id"))), lit(100)) < 10
      Dedup.incrementalNearDups(
        Dedup.minhashSignatures(docs.filter(isTest)), docs.filter(!isTest))
        .select(col("hist_doc").as("test_doc"),
          col("delta_doc").as("doc_id"),
          col("n_matching"), col("est_jaccard"))
        .orderBy(col("test_doc"), col("doc_id"))
    }),
    "balanced_sample" -> ((s, dir) =>
      TextAnalysis.balancedSample(Tables.documents(s, dir))),
    "corpus_curate" -> ((s, dir) =>
      TextAnalysis.curate(Tables.documents(s, dir))),
    // per-domain (host-keyed; `source` stands in for the URL host)
    // profile: doc/token shares, exact- and near-dup participation
    // rates, mean quality — the C4/RefinedWeb domain signal table.
    "domain_profile" -> ((s, dir) =>
      TextAnalysis.domainProfile(Tables.documents(s, dir))),
    // domain_profile's nightly-delta twin (inc_ salt, 80/20): additive
    // stats + fingerprint provenance fold in; near-dup participation
    // refreshed over the delta's blast radius via the persisted
    // posting index — history text never rescanned. Oracle = the full
    // rebuild, verbatim.
    "domain_profile_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      val hist = docs.filter(isHist)
      TextAnalysis.domainProfileIncremental(
        TextAnalysis.domainAdditiveStats(hist),
        TextAnalysis.fpDomainIndex(hist),
        Dedup.shingled(hist),
        TextAnalysis.ndParticipants(hist),
        hist.select(col("doc_id"), col("source")),
        docs.filter(!isHist))
    }),
    // the curate cascade behind a domain deny/allow gate: domains
    // admitted on integer quality/near-dup thresholds over the raw
    // corpus, minus the explicit denylist (src19 stands in for a
    // listed host), then the same 4-stage chain over the admitted
    // slice.
    "corpus_curate_gated" -> ((s, dir) =>
      TextAnalysis.curateGated(Tables.documents(s, dir),
        denyDomains = Seq("src19"))),
    // per-doc audit ledger for the same cascade: every stage's verdict
    // + the first dropping stage, one row per INPUT doc (shipped set
    // == corpus_curate's output).
    "curation_ledger" -> ((s, dir) =>
      TextAnalysis.curationLedger(Tables.documents(s, dir))),
    "curation_funnel" -> ((s, dir) =>
      TextAnalysis.curationFunnel(Tables.documents(s, dir))),
    // reproducibility contract: per-shard counts + order-independent
    // bit_xor content fingerprint of the shipped dataset.
    "ship_manifest" -> ((s, dir) =>
      TextAnalysis.shipManifest(Tables.documents(s, dir))),
    // PII redaction: emails / IPv4 / long digit runs, counts + md5.
    "scrub_pii" -> ((s, dir) =>
      TextAnalysis.scrubPii(Tables.documents(s, dir)).orderBy(col("doc_id"))),
    "scrub_denylist" -> ((s, dir) =>
      TextAnalysis.scrubDenylist(Tables.documents(s, dir))
        .orderBy(col("doc_id"))),
    // the phrase-capable form at a conflict-rich term list: multi-word
    // phrases, shared prefixes ("sort agg"/"sort", "merge slow join"/
    // "merge slow") — leftmost-longest, oracle = the longest-first
    // alternation regex (the trie is what runs; the regex is the
    // oracle-sized mirror).
    "scrub_denylist_phrases" -> ((s, dir) =>
      TextAnalysis.scrubDenylist(Tables.documents(s, dir), Seq(
        "merge slow join", "batch batch", "merge slow", "table scan",
        "sort agg", "stream", "vector", "sort"))
        .orderBy(col("doc_id"))),
    "doc_shards" -> ((s, dir) =>
      TextAnalysis.docShards(Tables.documents(s, dir))),
    "mixture_sample" -> ((s, dir) =>
      TextAnalysis.mixtureSample(Tables.documents(s, dir))),
    // α-sampling: keep rates computed in-plan from source sizes.
    // DoReMi-style loss-driven mixture tilt: per-source weight =
    // token share exponentially tilted by excess LM loss (one-shot
    // closed form under the fixed reference model).
    "mixture_reweight" -> ((s, dir) =>
      TextAnalysis.mixtureReweight(Tables.documents(s, dir))),
    "mixture_temperature" -> ((s, dir) =>
      TextAnalysis.mixtureTemperature(Tables.documents(s, dir))),
    // BPE merge learning: 8 merges trained on the word-type table
    // (one corpus-scale agg; iterations are vocabulary-scale).
    "bpe_learn" -> ((s, dir) =>
      TextAnalysis.bpeLearn(Tables.documents(s, dir))),
    // per-doc subword budgets under the LEARNED merges: segmented
    // vocab broadcast-joined to the corpus token stream.
    "bpe_segment" -> ((s, dir) =>
      TextAnalysis.bpeSegment(Tables.documents(s, dir))),
    // WordPiece merge learning (BERT's trainer): likelihood-scored
    // merges freq(ab)/(count(a)*count(b)) at the ## convention — the
    // fourth subword algorithm, rare-but-correlated where BPE is
    // frequency-greedy.
    "wordpiece_learn" -> ((s, dir) =>
      TextAnalysis.wordpieceLearn(Tables.documents(s, dir))),
    // per-doc subword budgets under the learned WordPiece merges.
    "wordpiece_segment" -> ((s, dir) =>
      TextAnalysis.wordpieceSegment(Tables.documents(s, dir))),
    // the WordPiece training-budget row (the token_budget_stats
    // serving surface for the fourth tokenizer): per-doc word count
    // (empty-token convention), piece count, exact fertility, and
    // 512-piece training sequences billed.
    "wordpiece_budget_stats" -> ((s, dir) =>
      TextAnalysis.wordpieceBudgetStats(Tables.documents(s, dir))),
    // tokenizer-sizing curve: top-k tokens with cumulative corpus share.
    "vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, dir))),
    "pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(Tables.documents(s, dir))),
    // vocab-constrained greedy subword tokenization (compiled walk):
    // corpus piece-frequency table incl. OOV fallback characters.
    "tokenize_vocab" -> ((s, dir) =>
      TextAnalysis.tokenizeVocab(Tables.documents(s, dir))),
    // per-doc subword budget: fertility + OOV rate under the vocab —
    // the counts a training pipeline actually bills by.
    "token_budget_stats" -> ((s, dir) =>
      TextAnalysis.tokenBudgetStats(Tables.documents(s, dir))),
    // deterministic epoch-order shuffle: content-stable seeded
    // permutation, resumable across partitionings and engines.
    "epoch_order" -> ((s, dir) =>
      TextAnalysis.epochOrder(Tables.documents(s, dir))),
    // sequence packing billed in SUBWORD tokens (the compiled budget
    // walk) instead of whitespace tokens.
    "pack_sequences_subword" -> ((s, dir) =>
      TextAnalysis.packSequencesSubword(Tables.documents(s, dir))),
    // cross-modal audit: text near-dup pairs annotated with their
    // embedding cosine (doc_id and vec_id share the id space).
    "dedup_cross_modal" -> ((s, dir) =>
      Similarity.crossModalPairs(Tables.documents(s, dir),
        Tables.embeddings(s, dir))),

    "dedup_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir))),
    "minhash_signatures" -> ((s, dir) =>
      Dedup.minhashSignatures(Tables.documents(s, dir)).orderBy(col("doc_id"))),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir))),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir))),
    // AllPairs/PPJoin prefix-filtered self-join: exact Jaccard >= tau
    // with no df cap and no LSH false negatives — candidates come from
    // rare-first prefixes only.
    "simjoin_prefix" -> ((s, dir) =>
      Dedup.prefixSimJoin(Tables.documents(s, dir))),
    // asymmetric containment |A∩B|/min: the quote/excerpt detector
    // Jaccard misses when sizes differ; emits both measures.
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), threshold = 0.6)),
    // LSH evaluation harness: measured band-candidate recall vs exact
    // truth per 0.1-Jaccard band, beside the 1-(1-J^4)^4 S-curve.
    "lsh_recall_audit" -> ((s, dir) =>
      Dedup.lshRecallAudit(Tables.documents(s, dir))),
    // Zipf-law OLS fit of the token frequency curve per language —
    // the distributional sanity check for a corpus slice.
    "zipf_fit" -> ((s, dir) =>
      TextAnalysis.zipfFit(Tables.documents(s, dir))),
    // Heaps'-law vocabulary-growth fit: cumulative types vs tokens.
    "heaps_fit" -> ((s, dir) =>
      TextAnalysis.heapsFit(Tables.documents(s, dir))),
    // exact-quota stratified train/val/test assignment per stratum.
    "stratified_split" -> ((s, dir) =>
      TextAnalysis.stratifiedSplit(Tables.documents(s, dir))),
    // greedy quality-per-token knapsack under a 30% token budget.
    "budget_select" -> ((s, dir) =>
      TextAnalysis.budgetSelect(Tables.documents(s, dir))),
    // DSIR importance-resampling selection: raw docs ranked by hashed
    // n-gram likelihood ratio vs the curated src0-src3 target slice.
    "dsir_select" -> ((s, dir) =>
      TextAnalysis.dsirSelect(Tables.documents(s, dir),
        Seq("src0", "src1", "src2", "src3"))),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(Tables.documents(s, dir)).orderBy(col("doc_id"))),
    "dedup_simhash_hamming" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(Tables.documents(s, dir))),
    "dedup_edit_distance" -> ((s, dir) =>
      Dedup.editDistancePairs(Tables.documents(s, dir))),
    "dedup_clusters" -> ((s, dir) =>
      Dedup.clusters(Dedup.ngramJaccardPairs(Tables.documents(s, dir)))
        .orderBy(col("doc_id"))),
    // near-dup-aware train/test split: each near-dup cluster lands
    // whole on one side (group-keyed salted hash), closing the
    // within-corpus eval-contamination channel a per-doc split leaks.
    "cluster_safe_split" -> ((s, dir) =>
      Dedup.clusterSafeSplit(Tables.documents(s, dir))),
    // 1-row audit: near-dup pairs straddling the fold boundary under
    // the naive per-doc hash vs the cluster-safe assignment.
    "split_leak_audit" -> ((s, dir) =>
      Dedup.splitLeakAudit(Tables.documents(s, dir))),
    // eval-integrity under corpus growth: the delta folds into the
    // persisted split via incremental clusters; merges promote groups
    // into train, never into test (trained docs can never re-enter
    // eval), new-only groups hash.
    "cluster_safe_split_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      val hist = docs.filter(isHist)
      // ONE hist pair/CC build feeds both the persisted assignment
      // and yesterday's split (clusters() checkpoints internally, so
      // the shared frame materializes once)
      val histAssign = Dedup.clusters(Dedup.ngramJaccardPairs(hist))
      Dedup.clusterSafeSplitIncremental(
        Dedup.shingled(hist), histAssign,
        Dedup.clusterSafeSplitFromAssign(hist, histAssign),
        docs.filter(!isHist))
    }),
    // incremental exact dedup: delta fingerprints vs the persisted
    // (fp, rep) index — the byte-identical twin of dedup_incremental.
    "dedup_exact_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      Dedup.exactIncremental(
        Dedup.exact(docs.filter(isHist)), docs.filter(!isHist))
    }),
    // incremental simhash: delta simhashes vs the persisted simhash
    // index through the generic Hamming band join.
    "dedup_simhash_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      Dedup.simhashIncremental(
        Dedup.simhash(docs.filter(isHist)), docs.filter(!isHist))
    }),
    // incremental cluster maintenance: the 20% salted "delta" folded
    // into the persisted posting index + cluster assignment of the
    // other 80% — merges, attachments, and new clusters without ever
    // re-shingling history (parity with the full rerun and the
    // persisted-parquet path are IncrementalDedupSpec).
    "dedup_clusters_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      val hist = docs.filter(isHist)
      Dedup.incrementalClusters(
        Dedup.shingled(hist),
        Dedup.clusters(Dedup.ngramJaccardPairs(hist)),
        docs.filter(!isHist))
    }),
    "dedup_cap_stats" -> ((s, dir) =>
      Dedup.capStats(Tables.documents(s, dir))),
    // provenance audit: rare-shingle overlap between source feeds.
    "source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlap(Tables.documents(s, dir))),
    // the REMOVAL step: near-dup clusters -> keep only each cluster's
    // representative (plus every unclustered doc) — what a training-data
    // pipeline actually ships downstream.
    "dedup_keep_reps" -> ((s, dir) =>
      Dedup.keepRepresentatives(Tables.documents(s, dir))
        .select(col("doc_id")).orderBy(col("doc_id"))),
    // incremental dedup: the daily-pipeline shape — a salted-hash 20%
    // "new batch" checked against the signature index of the other 80%
    // (standing in for the persisted index table; the persisted-parquet
    // path with its one-scan-each plan is IncrementalDedupSpec).
    "dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      Dedup.incrementalNearDups(
        Dedup.minhashSignatures(docs.filter(isHist)), docs.filter(!isHist))
    }),
    // the SHIP step of the daily job: delta docs that survive the
    // incremental check (the flagged set anti-joined away).
    "dedup_incremental_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      Dedup.incrementalApply(
        Dedup.minhashSignatures(docs.filter(isHist)), docs.filter(!isHist))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    // passage dedup -> document clusters: docs sharing duplicated
    // chunks, resolved transitively by the pointer-jumping CC.
    "dedup_chunk_clusters" -> ((s, dir) =>
      TextAnalysis.chunkClusters(Tables.documents(s, dir))),

    // ---- index lifecycle: RETIREMENT (takedowns / opt-outs) ----
    // A salted 10% "takedown list" (h60('ret_'||doc_id) % 100 >= 90)
    // retired from indexes built on the full corpus; every query's
    // contract is full-recompute-minus-retired parity, so each oracle
    // is simply its family's full-corpus SQL with the retired docs
    // filtered out — the strongest possible check that deletion
    // propagates exactly.
    // signature index: per-doc rows, retire = provenance anti join.
    "dedup_index_retire" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isRet = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ret_"), col("doc_id"))), lit(100)) >= 90
      Dedup.retireRows(Dedup.minhashSignatures(docs),
          docs.filter(isRet).select(col("doc_id")))
        .orderBy(col("doc_id"))
    }),
    // fingerprint table retire + representative RE-ELECTION: groups
    // whose rep was taken down elect the smallest survivor.
    "exact_retire" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isRet = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ret_"), col("doc_id"))), lit(100)) >= 90
      Dedup.retireExact(Dedup.fingerprints(docs),
        docs.filter(isRet).select(col("doc_id")))
    }),
    // cluster assignment retire: rep re-election, bridge splits, and
    // cap transitions resolved over the blast radius only.
    "clusters_retire" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isRet = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ret_"), col("doc_id"))), lit(100)) >= 90
      Dedup.retireClusters(Dedup.shingled(docs),
        Dedup.clusters(Dedup.ngramJaccardPairs(docs)),
        docs.filter(isRet).select(col("doc_id")))
    }),
    // BM25 postings+norms retire, then top-k served off the retired
    // index — corpus stats (N, avgdl, df) all shift with the deletion.
    "bm25_retire" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isRet = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ret_"), col("doc_id"))), lit(100)) >= 90
      TextAnalysis.bm25QueryIndex(
        Dedup.retireRows(TextAnalysis.bm25Index(docs),
          docs.filter(isRet).select(col("doc_id"))),
        Seq("stream", "merge", "batch"))
    }),
    // span-index retire: the PROVENANCED (h, doc_id) index dropped to
    // surviving docs, membership re-derived, then the daily delta
    // check runs against it — spans that only history's retired docs
    // contained no longer flag.
    "spans_retire" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      val isRet = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ret_"), col("doc_id"))), lit(100)) >= 90
      val hist = docs.filter(isHist)
      TextAnalysis.incrementalSpans(
        TextAnalysis.spanIndexMembership(
          Dedup.retireRows(TextAnalysis.spanShingleIndexProv(hist),
            hist.filter(isRet).select(col("doc_id")))),
        docs.filter(!isHist))
    }),
    // merge-on-read half of the lifecycle: takedowns as tombstone
    // appends, the signature index reconstructed AS OF batch 2 (adds
    // land in batches 0-3 by salted hash, the ret_ takedown lands as
    // batch-4 dels) — payload never rewritten on the takedown path.
    "index_asof" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Lifecycle.indexAsOf(Dedup.minhashSignatures(docs),
          docLedger(docs), asOfBatch = 2)
        .orderBy(col("doc_id"))
    }),
    // active-membership time series over the same ledger: growth over
    // the add batches, then the batch-4 takedown dip.
    "index_asof_audit" -> ((s, dir) =>
      Lifecycle.membershipAudit(docLedger(Tables.documents(s, dir)),
        maxBatch = 4)),
    // snapshot diff off the persisted fingerprint tables: added /
    // removed / changed docs between two simulated corpus versions
    // (salted 90% memberships; 5% of shared docs get revised text).
    "snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def member(tag: String) = pmod(graft.functions.TextFunctions.hash60(
        concat(lit(tag), col("doc_id"))), lit(100)) < 90
      val changed = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("chg_"), col("doc_id"))), lit(100)) < 5
      val v2 = docs.filter(member("v2_")).withColumn("text",
        when(changed, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")))
      Lifecycle.snapshotDiff(
        Dedup.fingerprints(docs.filter(member("v1_"))),
        Dedup.fingerprints(v2))
    }),
    // compaction audit: how much of the signature index is settled
    // non-rep duplicates (= safe to drop at the next rewrite).
    "index_compact_stats" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.compactionStats(Dedup.minhashSignatures(docs),
        Dedup.clusters(Dedup.ngramJaccardPairs(docs)))
    }),
    // CDC-index retire: the provenanced (chunk_md5, doc_id) index
    // dropped to surviving history docs, then the daily delta check —
    // passages only retired docs carried stop flagging.
    "cdc_retire" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      val isRet = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ret_"), col("doc_id"))), lit(100)) >= 90
      val hist = docs.filter(isHist)
      TextAnalysis.incrementalCdcDups(
        TextAnalysis.cdcIndexMembership(
          Dedup.retireRows(TextAnalysis.cdcChunkIndexProv(hist),
            hist.filter(isRet).select(col("doc_id")))),
        docs.filter(!isHist))
    }),
    // pre-flight takedown audit: per-index deletion counts incl. the
    // clusters needing rep re-election — run BEFORE the rewrite.
    "retire_audit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isRet = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ret_"), col("doc_id"))), lit(100)) >= 90
      // signatures and BM25 postings are PER-DOC structures, so only
      // the retired slice needs building for their affected-row counts
      // (the audit semi-joins on retired ids anyway — identical counts,
      // ~10x less tokenize/minhash work). The span/CDC provenance and
      // the cluster assignment genuinely need the full corpus: "hash
      // lost" / rep re-election are survivor-dependent questions.
      Dedup.retireAudit(docs.filter(isRet).select(col("doc_id")),
        Dedup.minhashSignatures(docs.filter(isRet)),
        TextAnalysis.spanShingleIndexProv(docs),
        TextAnalysis.cdcChunkIndexProv(docs),
        TextAnalysis.bm25Index(docs.filter(isRet)),
        Dedup.clusters(Dedup.ngramJaccardPairs(docs)))
    }),
    // simhash-index retire: the Hamming family's takedown — per-doc
    // rows, so the anti join is exact parity; the pigeonhole band
    // check then runs against survivors only.
    "simhash_retire" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      val isRet = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ret_"), col("doc_id"))), lit(100)) >= 90
      val hist = docs.filter(isHist)
      Dedup.simhashIncremental(
        Dedup.retireRows(Dedup.simhash(hist),
          hist.filter(isRet).select(col("doc_id"))),
        docs.filter(!isHist))
    }),
    // media pHash-index retire: same generic anti join over media_id.
    "media_retire" -> ((s, dir) => {
      val m = Multimodal.mediaFromDocuments(Tables.documents(s, dir))
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("minc_"), col("media_id"))), lit(100)) < 80
      val isRet = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ret_"), col("media_id"))), lit(100)) >= 90
      val hist = m.filter(isHist)
      Multimodal.incrementalNearDups(s,
        Dedup.retireRows(Multimodal.phash(s, hist),
          hist.filter(isRet).select(col("media_id")), "media_id"),
        m.filter(!isHist))
    }),
    // the lifecycle SHIP step: day-2 delta checked against the
    // RETIRED day-1 signature index — survivors of the takedown-aware
    // check (a delta doc duplicating only retired content now ships).
    "dedup_retire_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      val isRet = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ret_"), col("doc_id"))), lit(100)) >= 90
      val hist = docs.filter(isHist)
      Dedup.incrementalApply(
        Dedup.retireRows(Dedup.minhashSignatures(hist),
          hist.filter(isRet).select(col("doc_id"))),
        docs.filter(!isHist))
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),
    // novelty against the RETIRED span index: takedowns make their
    // content novel again — the data-selection signal tracks deletion.
    "novelty_retire" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("inc_"), col("doc_id"))), lit(100)) < 80
      val isRet = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ret_"), col("doc_id"))), lit(100)) >= 90
      val hist = docs.filter(isHist)
      TextAnalysis.noveltySpanScores(
        TextAnalysis.spanIndexMembership(
          Dedup.retireRows(TextAnalysis.spanShingleIndexProv(hist),
            hist.filter(isRet).select(col("doc_id")))),
        docs.filter(!isHist))
    }),
    // the RETRAIN that ivf_drift_audit triggers: after a takedown, the
    // quantizer re-trains on the surviving corpus (fresh k-means; init
    // = the survivors among vec_id < 8, so a retired seed shrinks k —
    // deterministic, oracle-mirrored) and every survivor re-assigns:
    // the full lifecycle build -> drift-audit -> retire -> retrain.
    "ann_retrain" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val isRet = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ret_"), col("vec_id"))), lit(100)) >= 90
      val surv = Similarity.normed(emb.filter(!isRet))
      val cents = Similarity.kmeansCentroids(surv)
      Similarity.annQueryIvf(cents, Similarity.assignCells(surv, cents))
    }),
    // IVF retire: quantizer frozen (trained before the takedown),
    // inverted lists minus retired vectors, top-k served off the
    // retired index — full-recompute-minus-retired parity including
    // query selection.
    "ann_retire" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val nn = Similarity.normed(emb)
      val cents = Similarity.kmeansCentroids(nn)
      val isRet = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ret_"), col("vec_id"))), lit(100)) >= 90
      Similarity.annQueryIvf(cents,
        Dedup.retireRows(Similarity.assignCells(nn, cents),
          emb.filter(isRet).select(col("vec_id")), "vec_id"))
    }),

    "ann_topk" -> ((s, dir) =>
      Similarity.annBruteForce(Tables.embeddings(s, dir))),
    // k-center greedy coreset (Gonzalez/Sener-Savarese farthest-point
    // selection): 8 centers with the k-center radius at each pick —
    // per round ONE map-only least-fold over the corpus state + a
    // 1-row argmax; distances on the 1e-6 integer grid.
    "coreset_kcenter" -> ((s, dir) =>
      Coreset.kcenter(Tables.embeddings(s, dir))),
    // coverage audit: every point assigned to its nearest selected
    // center (broadcast-K fan-out), per-center count + max/mean radius.
    "coreset_assign" -> ((s, dir) =>
      Coreset.assign(Tables.embeddings(s, dir))),
    // append-only lifecycle: the persisted (centers, dmin6) state
    // absorbs a delta with one broadcast-K pass and the greedy
    // CONTINUES (4 more picks) — history never rescanned against
    // centers it already reflects; phased semantics pinned by the
    // oracle's identical phased chain.
    "coreset_extend" -> ((s, dir) =>
      Coreset.extend(Tables.embeddings(s, dir),
        pmod(graft.functions.TextFunctions.hash60(
          concat(lit("cs_"), col("vec_id").cast("string"))),
          lit(100)) < 80)),
    // graded rank-quality eval of IVF vs exact: nDCG@10, first-hit
    // rank, reciprocal rank — the ordering companion of recall audits.
    "retrieval_eval" -> ((s, dir) =>
      Similarity.retrievalEval(Tables.embeddings(s, dir))),
    "embed_top_pairs" -> ((s, dir) =>
      Similarity.topPairs(Tables.embeddings(s, dir))),
    "ann_ivf" -> ((s, dir) =>
      Similarity.annIvf(Tables.embeddings(s, dir))),
    "ann_ivf_kmeans" -> ((s, dir) =>
      Similarity.annIvfKmeans(Tables.embeddings(s, dir))),
    // incremental ANN: coarse quantizer trained on the salted 80%
    // history slice and FROZEN; the 20% delta is assigned to it and
    // appended (history never re-clustered); top-k served off the
    // refreshed index — the retrieval analogue of dedup_incremental.
    "ann_incremental" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ann_"), col("vec_id"))), lit(100)) < 80
      val hist = Similarity.normed(emb.filter(isHist))
      val cents = Similarity.kmeansCentroids(hist)
      Similarity.annQueryIvf(cents,
        Similarity.refreshIvfAssignments(
          cents, Similarity.assignCells(hist, cents), emb))
    }),
    // the retrain trigger over the same frozen quantizer: per cell,
    // inverted-list growth and centroid-fit drift of appended members.
    "ivf_drift_audit" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("ann_"), col("vec_id"))), lit(100)) < 80
      val hist = Similarity.normed(emb.filter(isHist))
      val cents = Similarity.kmeansCentroids(hist)
      val histAssign = Similarity.assignCells(hist, cents)
      Similarity.ivfDriftAudit(cents, histAssign,
        Similarity.refreshIvfAssignments(cents, histAssign, emb))
    }),
    "ann_pq_adc" -> ((s, dir) =>
      Similarity.annPqAdc(Tables.embeddings(s, dir))),
    "ann_pq_rerank" -> ((s, dir) =>
      Similarity.annPqRerank(Tables.embeddings(s, dir))),
    "dedup_embed_cosine" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, dir))),
    "dedup_embed_lsh" -> ((s, dir) =>
      Similarity.cosineNearDupLsh(Tables.embeddings(s, dir))),
    // graph centrality over the LSH near-neighbor graph: PageRank as a
    // density/data-selection signal, exact-decimal iteration sums.
    "knn_pagerank" -> ((s, dir) =>
      Similarity.knnPagerank(Tables.embeddings(s, dir))),
    // SemDeDup: k-means cells bound the pairwise comparisons; per-vector
    // kept/dropped audit (keep each semantic neighborhood's lowest id).
    "dedup_semantic" -> ((s, dir) =>
      Similarity.semanticDedup(Tables.embeddings(s, dir))),
    // contrastive mining: top-k same-label positives + different-label
    // high-cosine impostors per query vector.
    "embed_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir))),
    // k-means compactness audit: per-cell size + mean/worst centroid cos.
    "cluster_profile" -> ((s, dir) =>
      Similarity.clusterProfile(Tables.embeddings(s, dir))),
    // prototype subsample: perCell closest-to-centroid per k-means cell.
    "diversity_sample" -> ((s, dir) =>
      Similarity.diversitySample(Tables.embeddings(s, dir))),
    // the REMOVAL step of semantic dedup applied to the document table
    // (doc_id and vec_id share the id space): the corpus a pipeline
    // ships after SemDeDup.
    "dedup_semantic_docs" -> ((s, dir) =>
      Tables.documents(s, dir).join(
        Similarity.semanticDedup(Tables.embeddings(s, dir))
          .filter(col("kept"))
          .select(col("vec_id").as("doc_id")), Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy(col("doc_id"))),
    "embed_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables.embeddings(s, dir))),

    // ---- multimodal binary columns (media derived from documents) ----

    "media_stats" -> ((s, dir) =>
      Multimodal.mediaStats(
        Multimodal.mediaFromDocuments(Tables.documents(s, dir)))
        .orderBy(col("media_id"))),
    "media_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(
        Multimodal.mediaFromDocuments(Tables.documents(s, dir)))
        .orderBy(col("media_id"), col("frame_idx"))),
    "media_resize" -> ((s, dir) =>
      Multimodal.resizeStub(
        Multimodal.mediaFromDocuments(Tables.documents(s, dir)))
        .orderBy(col("media_id"))),
    "media_decode" -> ((s, dir) =>
      Multimodal.decodeStub(s,
        Multimodal.mediaFromDocuments(Tables.documents(s, dir)))
        .orderBy(col("media_id"))),
    "media_byte_histogram" -> ((s, dir) =>
      Multimodal.byteHistogram(s,
        Multimodal.mediaFromDocuments(Tables.documents(s, dir)))
        .orderBy(col("media_id"), col("bin"))),
    "media_phash" -> ((s, dir) =>
      Multimodal.phash(s,
        Multimodal.mediaFromDocuments(Tables.documents(s, dir)))
        .orderBy(col("media_id"))),
    "media_near_dup" -> ((s, dir) =>
      Multimodal.nearDupPairs(s,
        Multimodal.mediaFromDocuments(Tables.documents(s, dir)))),
    // incremental media dedup: the salted 20% delta phashed and checked
    // against the persisted phash index of the other 80% — history
    // payloads never re-decoded (IncrementalDedupSpec covers the
    // persisted-parquet path and full-recompute parity).
    "media_dup_incremental" -> ((s, dir) => {
      val m = Multimodal.mediaFromDocuments(Tables.documents(s, dir))
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("minc_"), col("media_id"))), lit(100)) < 80
      Multimodal.incrementalNearDups(s,
        Multimodal.phash(s, m.filter(isHist)), m.filter(!isHist))
    }),
    // declarative data-quality gate: the full standard constraint suite
    // (completeness / range / domain / regex RowChecks folded into ONE
    // conditional-agg scan per table, uniqueness via two-stage hash agg,
    // referential integrity via anti-join) as a diffable report table.
    // Benford first-digit conformity per event type: chi-square + MAD
    // with the 0.015 acceptability cut — the fabricated-data detector.
    "dq_benford" -> ((s, dir) =>
      DataQuality.benfordAudit(Tables.events(s, dir))),
    // seasonal traffic watchdog: hourly counts (silent hours = 0) vs
    // the same hour's day<=21 baseline, |z| >= 3 flags.
    "seasonal_anomaly" -> ((s, dir) =>
      DataQuality.seasonalAnomaly(Tables.events(s, dir))),
    // grouped k-fold CV assignment (all of a user's events in one
    // fold) + the data-derived leakage audit.
    "cv_folds" -> ((s, dir) =>
      DataQuality.cvFolds(Tables.events(s, dir))),
    // two-proportion z-test per event type between salted A/B arms.
    "ab_test_z" -> ((s, dir) =>
      DataQuality.abTestZ(Tables.events(s, dir))),
    // leakage-safe out-of-fold target encoding on the cv_folds folds.
    "target_encode_oof" -> ((s, dir) =>
      DataQuality.targetEncodeOof(Tables.events(s, dir))),
    // Cochran-Mantel-Haenszel stratified A/B test over cohort weeks.
    "ab_test_cmh" -> ((s, dir) =>
      DataQuality.abTestCmh(Tables.events(s, dir))),
    // heterogeneous treatment effect: per-activity-segment uplift.
    "uplift_by_segment" -> ((s, dir) =>
      DataQuality.upliftBySegment(Tables.events(s, dir))),
    // additive seasonal decomposition of per-type hourly counts.
    "seasonal_decompose" -> ((s, dir) =>
      DataQuality.seasonalDecompose(Tables.events(s, dir))),
    // exact two-sample KS over event values (parallel-prefix CDF form):
    // purchase-vs-click and purchase-vs-error.
    "ks_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      DataQuality.ksTest(ev, "purchase", "click")
        .unionByName(DataQuality.ksTest(ev, "purchase", "error"))
        .orderBy(col("type_b"))
    }),
    // token-mass Gini per language: corpus concentration audit.
    "corpus_gini" -> ((s, dir) =>
      TextAnalysis.corpusGini(Tables.documents(s, dir))),
    "dq_audit" -> ((s, dir) =>
      DataQuality.audit(
        Map(
          "orders" -> Tables.orders(s, dir),
          "customer" -> Tables.customer(s, dir),
          "lineitem" -> Tables.lineitem(s, dir),
          "nation" -> Tables.nation(s, dir),
          "events" -> Tables.events(s, dir),
          "documents" -> Tables.documents(s, dir),
          "embeddings" -> Tables.embeddings(s, dir)),
        DataQuality.standardChecks)),
    // KMV distinct sketch: bounded-state cardinality whose ESTIMATE is
    // oracle-exact (order statistics of a portable hash — see Sketches).
    "sketch_kmv_distinct" -> ((s, dir) =>
      Sketches.kmvDistinct(Tables.events(s, dir), Seq("event_type"),
        col("user_id"), 64, "kmv_")),
    // the merge law: daily partial sketches unioned + re-capped must
    // equal the direct whole-history sketch, row for row.
    "sketch_kmv_merge" -> ((s, dir) =>
      Sketches.kmvMergeDaily(Tables.events(s, dir), Seq("event_type"),
        to_date(col("ts")), col("user_id"), 32, "kmv_")),
    // HyperLogLog distinct sketch: m=256 integer registers per group,
    // harmonic sum kept EXACT by integer scaling (see Sketches) — the
    // oracle-exact stand-in for approx_count_distinct.
    "sketch_hll_distinct" -> ((s, dir) =>
      Sketches.hllDistinct(Tables.events(s, dir), Seq("event_type"),
        col("user_id"), 8, "hll_")),
    // the HLL merge law: daily register shards re-maxed per (group,
    // idx) must equal the direct whole-history registers, row for row.
    "sketch_hll_merge" -> ((s, dir) =>
      Sketches.hllMergeDaily(Tables.events(s, dir), Seq("event_type"),
        to_date(col("ts")), col("user_id"), 8, "hll_")),
    // Z-order layout audit: how many files a 2-D probe workload must
    // read under ingest-order vs single-dim-sort vs Morton-interleaved
    // layouts — the data-layout lever behind OPTIMIZE ZORDER.
    "layout_zorder" -> ((s, dir) =>
      Layout.skippingAudit(Tables.events(s, dir))),
    // footer-stats aggregate pushdown: count/min/max answered from
    // parquet metadata, no data pages decoded (plan-pinned).
    "scan_pushdown_audit" -> ((s, dir) =>
      Layout.scanPushdownStats(s, dir)),
    // stream-stream interval join oracle-gated end to end: real file
    // streams both sides, multi-micro-batch drain with cross-batch buy
    // state, sink read back and aggregated to the interval_buy_sells
    // shape — the streaming join must equal the banded batch join.
    "pipeline_join_e2e" -> ((s, dir) =>
      graft.streaming.Pipeline.joinE2E(s, dir)),
    // ER delta hop oracle-gated end to end: B-delta file stream
    // joined stream-static against the persisted master blocking
    // index through a real AvailableNow lifecycle, candidates landed
    // in an append sink, scored sink-side with frozen-history u —
    // must hash-match the batch er_incremental oracle.
    "pipeline_er_e2e" -> ((s, dir) =>
      graft.streaming.Pipeline.erE2E(s, dir)),
    // split-family delta hop oracle-gated end to end: delta docs land
    // as a file stream, a real AvailableNow ingest hop shingles them
    // into the delta posting sink, a stream-static hop retrieves
    // co-shingle candidates against the persisted capped history
    // postings, and the sink-side fold into the persisted split
    // (promotion rule: merges move groups into train, never test)
    // must hash-match the batch cluster_safe_split_incremental oracle.
    "pipeline_split_e2e" -> ((s, dir) =>
      graft.streaming.Pipeline.splitE2E(s, dir)),
    // BT preference delta hop oracle-gated end to end: delta events
    // land as a time-ordered file stream and flow through a stateful
    // flatMapGroupsWithState comparison machine seeded with the carry
    // table as INITIAL STATE (per-user O(1) state: the most recent
    // event); landed comparisons fold sink-side into the persisted
    // win counts and the MM re-runs on the vocabulary fold — counts
    // are additive, so the result must hash-match the bt_strengths
    // full-rebuild oracle.
    "pipeline_bt_e2e" -> ((s, dir) =>
      graft.streaming.Pipeline.btE2E(s, dir)),
    // pairwise audience overlap (union/intersection/Jaccard) between
    // event types, estimated from the partial KMV sketches alone —
    // no raw-data rescan per pair.
    "sketch_kmv_overlap" -> ((s, dir) =>
      Sketches.kmvOverlap(Tables.events(s, dir), "event_type",
        col("user_id"), 64, "kmv_")),
    // community detection over the LSH near-neighbor graph:
    // deterministic synchronous mode-label propagation (dense regions,
    // not components — the complement of dedup_clusters' CC).
    "knn_communities" -> ((s, dir) =>
      Similarity.knnCommunities(Tables.embeddings(s, dir))),
    // time-weighted average price beside VWAP: piecewise-constant
    // segments, exact-decimal sums, one window pass + one agg.
    "symbol_twap" -> ((s, dir) =>
      Analytics.twap(Trades.fromEvents(Tables.events(s, dir)))),
    // level-shift changepoint scan: sliding two-window mean comparison
    // over hourly closes — regime changes, not point spikes.
    "symbol_level_shift" -> ((s, dir) =>
      Analytics.levelShift(
        Gold.bars(Trades.fromEvents(Tables.events(s, dir)), "1 hour"))),
    // return autocorrelation at lags 1..5: momentum / mean-reversion /
    // microstructure-noise profile per symbol.
    "symbol_acf" -> ((s, dir) =>
      Analytics.acf(
        Gold.bars(Trades.fromEvents(Tables.events(s, dir)), "1 minute"))),
    // exact DAU / trailing-7-day WAU per calendar day (the expensive
    // nightly form; the sketch twin below serves the same board).
    "user_active_rolling" -> ((s, dir) =>
      Sessions.rollingActiveUsers(Tables.events(s, dir))),
    // trailing-window cardinality served from the per-day KMV sketch
    // table: raw data touched once, every window O(windowDays·k) rows.
    "sketch_kmv_rolling" -> ((s, dir) =>
      Sketches.kmvRolling(Tables.events(s, dir), to_date(col("ts")),
        col("user_id"), 64, "kmv_")),
    // first-order Markov transition matrix of user event journeys.
    "event_transitions" -> ((s, dir) =>
      Sessions.eventTransitions(Tables.events(s, dir))),
    // Bradley–Terry preference strengths (Hunter's MM, 8 pinned
    // rounds) over per-user consecutive-event comparisons — the
    // pairwise-preference rating model RLHF comparison data is
    // scored with.
    "bt_strengths" -> ((s, dir) =>
      Learn.btStrengths(Tables.events(s, dir))),
    // lifecycle twin: the last ~6 days of events fold into the
    // persisted win-count table; each user's last pre-cutoff event
    // rides along as the carry row so the boundary comparison lands in
    // the delta fold. Counts are additive -> equals the full rebuild
    // (the oracle is the bt_strengths chain).
    "bt_incremental" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val cutoff = lit("2024-01-25 00:00:00").cast("timestamp")
      val hist = ev.filter(col("ts") < cutoff)
      Learn.btIncremental(Learn.btWins(hist),
        Learn.btCarry(hist)
          .unionByName(ev.filter(col("ts") >= cutoff)), cutoff)
    }),
    // user takedown over the BT state (ret_ salt, 10%): retired users'
    // win contributions SUBTRACTED from the persisted counts via the
    // per-user provenance table — the event stream is never rescanned;
    // pairs netting to zero drop so wholly-retired-supported items
    // vanish. Oracle = the bt_strengths chain over surviving users.
    "bt_retire" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val retired = ev.select(col("user_id")).distinct()
        .filter(pmod(graft.functions.TextFunctions.hash60(
          concat(lit("ret_"), col("user_id"))), lit(100)) >= 90)
      Learn.btRetire(Learn.btWins(ev), Learn.btWinsByUser(ev), retired)
    }),
    // Goh-Barabasi inter-arrival burstiness + CV per event type.
    "event_burstiness" -> ((s, dir) =>
      Sessions.burstiness(Tables.events(s, dir))),
    // Markov removal-effect attribution over first-order journeys.
    "attribution_markov" -> ((s, dir) =>
      Sessions.attributionMarkov(Tables.events(s, dir))),
    // deterministic in-engine logistic regression (8 GD steps) on the
    // heavy-buyer label (>13 purchases ~ the corpus median; the plain
    // converted label is one-class on this corpus at every SF).
    "logit_fit" -> ((s, dir) =>
      Learn.logitFit(Tables.events(s, dir), heavyK = 13)),
    // closed-form OLS by exact integer normal equations + Cramer.
    "ols_fit" -> ((s, dir) =>
      Learn.olsFit(Tables.lineitem(s, dir))),
    // held-out exact Mann-Whitney AUC / Gini / KS for the logit model.
    "roc_auc" -> ((s, dir) =>
      Learn.rocAuc(Tables.events(s, dir))),
    // multinomial Naive Bayes language classifier: held-out confusion.
    "nb_lang_confusion" -> ((s, dir) =>
      Learn.nbLangConfusion(Tables.documents(s, dir))),
    // in-engine discrete AdaBoost over decision stumps (5 rounds).
    "adaboost_stumps" -> ((s, dir) =>
      Learn.adaboostStumps(Tables.events(s, dir))),
    // deterministic cross-sectional momentum backtest (exact ledger).
    "momentum_backtest" -> ((s, dir) =>
      Backtest.momentum(Trades.fromEvents(Tables.events(s, dir)))),
    // item-item CF: top-5 co-purchase cosine neighbors per part.
    "part_similarity" -> ((s, dir) =>
      Relational.partSimilarity(Tables.lineitem(s, dir))),
    // Matryoshka audit: recall@10 of dim-truncated retrieval vs full.
    "embed_matryoshka" -> ((s, dir) =>
      Similarity.matryoshkaEval(Tables.embeddings(s, dir))),
    // Amihud illiquidity: |daily logret| per dollar volume, per symbol.
    "amihud_illiq" -> ((s, dir) =>
      Analytics.amihudIlliq(Trades.fromEvents(Tables.events(s, dir)))),
    // Wald-Wolfowitz runs test for trade-sign randomness per symbol.
    "runs_test" -> ((s, dir) =>
      Analytics.runsTest(Trades.fromEvents(Tables.events(s, dir)))),
    // pairs-trading spread monitor: exact-integer hedge ratio + z.
    "pairs_trading" -> ((s, dir) =>
      Backtest.pairsTrading(Trades.fromEvents(Tables.events(s, dir)))),
    // degree assortativity of the kNN near-dup graph (global mixing).
    "knn_assortativity" -> ((s, dir) =>
      Similarity.knnAssortativity(Tables.embeddings(s, dir))),
    // daily HHI of dollar volume across symbols (concentration).
    "volume_hhi" -> ((s, dir) =>
      Analytics.volumeHhi(Trades.fromEvents(Tables.events(s, dir)))),
    // Shannon entropy of each user's event-type mix, quarter-nat bins.
    "user_entropy" -> ((s, dir) =>
      Sessions.userEntropy(Tables.events(s, dir))),
    // TextRank extractive summary: weighted per-doc chunk PageRank.
    "textrank_chunks" -> ((s, dir) =>
      TextAnalysis.textrankChunks(Tables.documents(s, dir))),
    // held-out reliability table: sigma-decile calibration + Brier.
    "calibration_bins" -> ((s, dir) =>
      Learn.calibrationBins(Tables.events(s, dir))),
    // last-touch attribution: purchases credit the latest click/view
    // within 72h (else "direct"); share + mean touch→conv latency.
    "attribution_last_touch" -> ((s, dir) =>
      Sessions.lastTouchAttribution(Tables.events(s, dir))),
    // PSI distribution-drift monitor: first vs second half of the
    // month per event type, Laplace-smoothed equal-width bins.
    "value_drift_psi" -> ((s, dir) =>
      DataQuality.psiDrift(Tables.events(s, dir))),
    // triangle count + local clustering coefficient — the third graph
    // lens beside centrality (pagerank) and partition (communities).
    "knn_triangles" -> ((s, dir) =>
      Similarity.knnTriangles(Tables.embeddings(s, dir))),
    // k-core membership by synchronous peeling: the dense-redundant-
    // region cut (near-dup clusters keep degree; popular nodes don't).
    "knn_kcore" -> ((s, dir) =>
      Similarity.knnKcore(Tables.embeddings(s, dir))),
    // multi-source BFS hop levels from the 5 smallest node ids — the
    // contamination blast-radius traversal over the same LSH graph.
    "knn_bfs" -> ((s, dir) =>
      Similarity.knnBfs(Tables.embeddings(s, dir))),
    // link prediction: common-neighbor + Adamic-Adar scores for the
    // strongest NON-edges — the pairs banded LSH most likely missed.
    "knn_link_predict" -> ((s, dir) =>
      Similarity.knnLinkPredict(Tables.embeddings(s, dir))),
    // edge/node/degree curve of the LSH graph across cosine thresholds
    // — the knob audit the whole knn_* family inherits.
    "lsh_threshold_sweep" -> ((s, dir) =>
      Similarity.lshThresholdSweep(Tables.embeddings(s, dir))),
    // mergeable histogram quantiles graded against the exact discrete
    // percentile — the oracle-able t-digest stand-in.
    "sketch_quantile_hist" -> ((s, dir) =>
      Sketches.quantileHistogram(
        Trades.fromEvents(Tables.events(s, dir)), "symbol", col("price"))),
    // Count-Min frequency sketch: every user's sketch estimate vs its
    // exact event count, with the sketch-side heavy-hitter cut.
    "sketch_cms_topk" -> ((s, dir) =>
      Sketches.cmsTopK(Tables.events(s, dir), col("user_id"))),
    // CMS linearity audit: per-day sketches summed cell-wise == the
    // whole-history sketch; each row's L1 mass == total occurrences.
    "sketch_cms_merge" -> ((s, dir) =>
      Sketches.cmsMergeDaily(Tables.events(s, dir), to_date(col("ts")),
        col("user_id"))),
    // k-anonymity audit over (type, day, value-decade) quasi-identifiers:
    // group-size risk mass per threshold, the pre-ship compliance gate.
    "k_anonymity_audit" -> ((s, dir) =>
      Privacy.kAnonymityAudit(Tables.events(s, dir),
        Seq(col("event_type"), to_date(col("ts")),
          floor(col("value") / 10)))),
    // DP-shaped count release with seeded Laplace(1.0) noise — the
    // mechanism made replayable (committed seed) and oracle-testable.
    "dp_user_counts" -> ((s, dir) =>
      Privacy.dpCountRelease(
        Tables.events(s, dir)
          .select(col("event_type"), to_date(col("ts")).as("day")),
        Seq("event_type", "day"), 1.0, "dp_")),
    // the drift monitor's incremental form: current slice scored
    // against the persisted baseline histogram with FROZEN bin edges —
    // reference data never re-scanned.
    "value_drift_incremental" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val ref = ev.filter(dayofmonth(col("ts")) <= 15)
      DataQuality.psiVsBaseline(
        DataQuality.referenceHistogram(ref),
        ev.filter(dayofmonth(col("ts")) > 15))
    }),
    // the corpus datasheet: volume / mixes / length percentiles /
    // exact-dup rate as one long-format card.
    "corpus_card" -> ((s, dir) =>
      TextAnalysis.corpusCard(Tables.documents(s, dir))),
    // Efraimidis-Spirakis weighted sampling without replacement:
    // one-pass mergeable top-k race keyed by ln(u)/w.
    "weighted_sample" -> ((s, dir) =>
      TextAnalysis.weightedSample(Tables.documents(s, dir))),
    // Bloom membership audit: filter built from the 80% history's
    // content fingerprints, probed by every doc — no false negatives
    // (every history doc must hit), measured FP rate vs theory on the
    // 20%; 63-bit words merged by bit_or.
    "sketch_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val isHist = pmod(graft.functions.TextFunctions.hash60(
        concat(lit("bfs_"), col("doc_id"))), lit(100)) < 80
      Sketches.bloomAudit(docs.filter(isHist), docs, 8192, 5)
    }),
    // point-in-time-correct training-set assembly: STRICT as-of join
    // (feature stamped at the prediction instant is invisible — the
    // leakage guard), forward label, in-row leak audit column. With
    // identical left/right timestamp sets the generic union-trick
    // as-of must reduce exactly to lag(1) — which is the oracle.
    "features_pit" -> ((s, dir) => {
      val bars = Gold.bars(Trades.fromEvents(Tables.events(s, dir)), "1 hour")
      val left = bars.select(col("symbol"), col("bar_start").as("pred_ts"),
        // zero-open guard (ANSI division; same convention as bar_analytics)
        when(col("open") =!= 0,
          round((col("close") / col("open") - 1) * lit(1.0e6), 0) / lit(1.0e6))
          .as("label_ret"))
      val right = bars.select(col("symbol"), col("bar_start").as("feat_ts"),
        col("close"), col("volume"), col("vwap"))
      AsOf.join(left, right, "symbol", "pred_ts", "feat_ts",
          Seq("feat_ts", "close", "volume", "vwap"), strict = true)
        .where(col("asof_close").isNotNull)
        .select(col("symbol"), col("pred_ts"), col("label_ret"),
          col("asof_feat_ts"), col("asof_close"), col("asof_volume"),
          col("asof_vwap"),
          (col("asof_feat_ts") >= col("pred_ts")).as("leaked"))
        .orderBy(col("symbol"), col("pred_ts"))
    }),
  )

  /** Shared oracle CTE: the deterministic events→trades mapping. */
  private val tradesCte = s"WITH trades AS (\n${Trades.sqlCte}\n)"

  /** Oracle CTE body: `trades` → 1-minute OHLCV bars (mirrors Gold.bars;
    * struct-min/max argmin via row_number over (ts, price)). Generic over
    * whatever `trades` CTE precedes it (µs batch trades for the batch
    * queries, ms-truncated wire trades for the e2e pipeline).
    */
  private val barsBodyCte =
    s"""t2 AS (
       |  SELECT *, time_bucket(INTERVAL 1 MINUTE, event_time) AS bs,
       |    row_number() OVER (PARTITION BY symbol, time_bucket(INTERVAL 1 MINUTE, event_time)
       |                       ORDER BY event_time, price) AS rn_a,
       |    row_number() OVER (PARTITION BY symbol, time_bucket(INTERVAL 1 MINUTE, event_time)
       |                       ORDER BY event_time DESC, price DESC) AS rn_d
       |  FROM trades),
       |bars AS (
       |  SELECT symbol, bs AS bar_start, bs + INTERVAL 1 MINUTE AS bar_end,
       |    max(CASE WHEN rn_a = 1 THEN price END) AS open,
       |    max(price) AS high, min(price) AS low,
       |    max(CASE WHEN rn_d = 1 THEN price END) AS close,
       |    CAST(SUM(CAST(size AS DECIMAL(20,6))) AS DOUBLE) AS volume,
       |    CAST(SUM(CAST(price * size AS DECIMAL(28,10))) AS DOUBLE)
       |      / CAST(SUM(CAST(size AS DECIMAL(20,6))) AS DOUBLE) AS vwap,
       |    count(*) AS trades,
       |    CAST(bs AS DATE) AS bar_date
       |  FROM t2 GROUP BY symbol, bs)""".stripMargin

  /** Shared oracle CTE chain: µs batch trades → 1-minute bars. */
  private val barsCte = s"$tradesCte,\n$barsBodyCte"

  /** Shared oracle CTE chain: bars → full analytics frame (mirrors
    * Analytics.enrich — lag/lead, trailing-30-min RANGE stats excluding the
    * current row, guarded z-scores, anomaly flags; every window aggregate
    * rounded to 6 decimals exactly as the engine does).
    */
  private val analyticsCte =
    s"""$barsCte,
       |b2 AS (SELECT *, CAST(floor(epoch(bar_start)) AS BIGINT) AS ts_s FROM bars),
       |b3 AS (SELECT *,
       |  lag(close, 1) OVER (PARTITION BY symbol ORDER BY ts_s) AS prev_close,
       |  lead(open, 1) OVER (PARTITION BY symbol ORDER BY ts_s) AS next_open
       |  FROM b2),
       |b4 AS (SELECT *,
       |  CASE WHEN prev_close IS NOT NULL AND prev_close <> 0 THEN close / prev_close - 1 END AS ret,
       |  CASE WHEN prev_close IS NOT NULL AND prev_close > 0 AND close > 0 THEN round(ln(close / prev_close) * 1.0e6, 0) / 1.0e6 END AS logret
       |  FROM b3),
       |b5 AS (SELECT *,
       |  round((avg(logret) OVER wr) * 1.0e6, 0) / 1.0e6 AS ret_mu,
       |  round((stddev_samp(logret) OVER wr) * 1.0e6, 0) / 1.0e6 AS ret_sd,
       |  round((avg(volume) OVER wr) * 1.0e6, 0) / 1.0e6 AS vol_mu,
       |  round((stddev_samp(volume) OVER wr) * 1.0e6, 0) / 1.0e6 AS vol_sd
       |  FROM b4
       |  WINDOW wr AS (PARTITION BY symbol ORDER BY ts_s RANGE BETWEEN 1800 PRECEDING AND 1 PRECEDING)),
       |b6 AS (SELECT *,
       |  CASE WHEN ret_sd IS NOT NULL AND ret_sd > 1e-12 THEN round((logret - ret_mu) / ret_sd * 1.0e6, 0) / 1.0e6 END AS z_ret,
       |  CASE WHEN vol_sd IS NOT NULL AND vol_sd > 1e-12 THEN round((volume - vol_mu) / vol_sd * 1.0e6, 0) / 1.0e6 END AS z_vol,
       |  CASE WHEN next_open IS NOT NULL AND close <> 0 THEN (next_open - close) / close END AS gap_pct
       |  FROM b5),
       |anom AS (SELECT *,
       |  (z_ret IS NOT NULL AND abs(z_ret) > 3.0) AS is_return_anom,
       |  (z_vol IS NOT NULL AND z_vol > 3.0) AS is_volume_anom
       |  FROM b6)""".stripMargin

  /** DuckDB 60-bit hash matching TextFunctions.hash60. */
  private def h60(s: String) =
    s"CAST('0x' || substr(md5($s), 1, 15) AS BIGINT)"

  /** Truncate-toward-zero integer division pinned against any
    * engine's `//` rounding mode: both branches divide NON-NEGATIVE
    * integers (where floor ≡ truncate in every implementation), so
    * the result is forced even if an oracle environment floors
    * negative quotients. Divisor must be positive. Mirrors Spark's
    * `div` and Scala BigInt `/` exactly. */
  private def tdiv(a: String, b: String) =
    s"(CASE WHEN ($a) < 0 THEN -((-($a)) // ($b)) ELSE ($a) // ($b) END)"

  /** One wide truncating division to stage through [[wdivStages]]:
    * `out` = trunc(num/den), NULL when den <= 0 or the belt trips.
    * `pq`/`pd` are the DECIMAL precisions of the quotient cast and
    * the divisor downcast (floored at 19 — see the s0 note) — size
    * them so 10^pq (resp. 10^pd) comfortably exceeds |num/den|
    * (resp. den) AND pq + max(pd, 19) <= 38. The quotient ALSO rides
    * through a CAST(floor(double) AS BIGINT) seed, so |num/den| must
    * stay below 2^63 (~9.2e18) regardless of pq — pq = 19 call sites
    * (e.g. the CMH e12 division) satisfy this only because their
    * actual quotients are far smaller; an out-of-range quotient
    * aborts the query with a cast error (loud), never a wrong value:
    * the correction products then BIND on engines that reject
    * decimal multiplies wider than 38 instead of clamping (divisors
    * that arrive as SUM-typed DECIMAL(38,0) would otherwise fail
    * there). An out-of-envelope value fails the downcast LOUDLY —
    * never a silent wrong quotient. */
  private case class WDiv(num: String, den: String, out: String,
                          pq: Int, pd: Int)

  /** Exact wide division WITHOUT `HUGEINT`, `//`, or unsafe
    * `round(...,k)` — the version-invariant replacement for the
    * `tdiv(CAST(x AS HUGEINT), d)` oracle shape (round-10 burn-down;
    * every construct used is engine-pinned: IEEE double divide/floor,
    * exact DECIMAL multiply/subtract, CASE).
    *
    * Emits a chain of 7 CTE definitions per call (share one call for
    * divisions that can run in lockstep): sign/abs split, a double
    * floor-division seed `q0`, one exact-residual re-division `q1`
    * (error after it is at most ±2), a CASE fixup to the true floor
    * quotient, and a belt stage that re-multiplies and yields NULL —
    * a loud red row, never a silent off-by-one — unless the final
    * residual lands in [0, den). Validated against exact integer
    * division over 7k+ adversarial cases in tools/wdiv_check.py
    * (keep the two templates in lockstep; end-to-end compare.py
    * gates any drift).
    *
    * The final CTE is named `prefix` and carries every column of
    * `from` plus each division's `out` (BIGINT-valued trunc
    * quotient as plain integer arithmetic, sign applied). */
  private def wdivStages(prefix: String, from: String,
                         divs: Seq[WDiv]): String = {
    val p = prefix
    def cols(f: WDiv => String) = divs.map(f).mkString(",\n    ")
    // the divisor downcast is floored at width 19: DuckDB executes a
    // decimal multiply in int128 only when an operand's declared
    // width exceeds 18 — two narrower operands give a DECIMAL(18,0)
    // result that overflows (loudly) above 1e18, so the q*den
    // correction products must always see one >=19-wide operand.
    // The binder budget is therefore pq + max(pd, 19) <= 38.
    val s0 = cols(d => s"(CASE WHEN (${d.num}) < 0 THEN -(${d.num}) " +
      s"ELSE (${d.num}) END) AS ${d.out}_a,\n    " +
      s"(CASE WHEN (${d.num}) < 0 THEN -1 ELSE 1 END) AS ${d.out}_s," +
      s"\n    CAST((CASE WHEN (${d.den}) > 0 THEN (${d.den}) END) " +
      s"AS DECIMAL(${math.max(d.pd, 19)},0)) AS ${d.out}_d")
    val s1 = cols(d => s"CAST(floor(CAST(${d.out}_a AS DOUBLE) " +
      s"/ CAST(${d.out}_d AS DOUBLE)) AS BIGINT) AS ${d.out}_q0")
    val s2 = cols(d => s"${d.out}_q0 + CAST(floor(CAST(${d.out}_a " +
      s"- CAST(${d.out}_q0 AS DECIMAL(${d.pq},0)) * ${d.out}_d AS DOUBLE) " +
      s"/ CAST(${d.out}_d AS DOUBLE)) AS BIGINT) AS ${d.out}_q1")
    val s3 = cols(d => s"${d.out}_a " +
      s"- CAST(${d.out}_q1 AS DECIMAL(${d.pq},0)) * ${d.out}_d AS ${d.out}_r1")
    val s4 = cols(d => s"${d.out}_q1 + (CASE " +
      s"WHEN ${d.out}_r1 < -(${d.out}_d) THEN -2 " +
      s"WHEN ${d.out}_r1 < 0 THEN -1 " +
      s"WHEN ${d.out}_r1 >= ${d.out}_d + ${d.out}_d THEN 2 " +
      s"WHEN ${d.out}_r1 >= ${d.out}_d THEN 1 ELSE 0 END) AS ${d.out}_qf")
    val s5 = cols(d => s"${d.out}_a " +
      s"- CAST(${d.out}_qf AS DECIMAL(${d.pq},0)) * ${d.out}_d AS ${d.out}_r2")
    val s6 = cols(d => s"(CASE WHEN ${d.out}_r2 >= 0 " +
      s"AND ${d.out}_r2 < ${d.out}_d " +
      s"THEN ${d.out}_s * ${d.out}_qf END) AS ${d.out}")
    s"""${p}_w0 AS (SELECT *,
       |    $s0
       |  FROM $from),
       |${p}_w1 AS (SELECT *, $s1 FROM ${p}_w0),
       |${p}_w2 AS (SELECT *, $s2 FROM ${p}_w1),
       |${p}_w3 AS (SELECT *, $s3 FROM ${p}_w2),
       |${p}_w4 AS (SELECT *, $s4 FROM ${p}_w3),
       |${p}_w5 AS (SELECT *, $s5 FROM ${p}_w4),
       |$p AS (SELECT *, $s6 FROM ${p}_w5)""".stripMargin
  }

  /** Integer micro-units → DOUBLE output value (u / 1e6): exact
    * int64 → one IEEE division, identical in both engines. Output
    * schemas are restricted to ints/doubles/strings/dates/bools —
    * DECIMAL and HUGEINT result columns hash-diverge across oracle
    * environments even when value-equal (the entire round-8
    * driver-red cohort carried them; the 260-green cohort did not). */
  private def microD(u: String) = s"(CAST($u AS DOUBLE) / 1000000.0)"

  /** Version-safe k-decimal rounding of a DOUBLE expression:
    * round(e·10^k, 0)/10^k — both engines then round the SAME IEEE
    * double to an integer (identical for every input, including
    * exact halves), where round(e, k≥1) lets Spark's BigDecimal
    * HALF_UP and an oracle's multiply-based round disagree near any
    * k-decimal half boundary (trap #10; the round-8 red cohort).
    * The Spark twin must use the same ·10^k / 10^k association. */
  private def safeRound(e: String, k: Int): String = {
    val f = s"1.0e$k"
    s"(round(($e) * $f, 0) / $f)"
  }
  private def safe6(e: String) = safeRound(e, 6)

  /** 1e-12-unit weight integer → DECIMAL(15,12) (the logit family). */
  private def logitWDec(u: String) =
    s"CAST(CAST($u AS DECIMAL(20,0))" +
      s" * CAST(0.000000000001 AS DECIMAL(13,12)) AS DECIMAL(15,12))"

  /** σ(w·x) pinned to the 1e-9 grid over exact decimal margins as a
    * nano-unit BIGINT — mirrors Learn.sigmaU (round(σ·1e9, 0), NOT
    * round(σ, 9): the two engines' round algorithms disagree on
    * full-expansion half boundaries); `w` names the weight CTE,
    * features from `f`. Everything downstream stays integer.
    */
  private def logitSguSql(w: String) =
    s"CAST(round((1.0 / (1.0 + exp(-(CAST(" +
      s"CAST(${logitWDec(s"$w.w1u")} * f.x1 AS DECIMAL(30,18))" +
      s" + CAST(${logitWDec(s"$w.w2u")} * f.x2 AS DECIMAL(30,18))" +
      s" + CAST(${logitWDec(s"$w.w0u")} AS DECIMAL(30,18))" +
      s" AS DOUBLE))))) * 1000000000.0, 0) AS BIGINT)"

  /** Shared oracle chain for the logit train/eval family: per-user
    * features with the salted 20% eval-split flag, train/test views,
    * and 8 unrolled GD stages training on `trainSrc` ("feats" = the
    * full corpus, the logit_fit convention; "trainf" = the 80% fold,
    * the eval convention). Mirrors Learn.logitFeatures/trainLogit.
    */
  private def logitChainCte(trainSrc: String): String = {
    // gradient step in pure integers: per-row femto-unit (1e-15)
    // contributions (sgu − y·1e9)·x·1e6 are exact longs (≤ 2e16),
    // summed in DECIMAL(38,0); the update divides sign-pinned (tdiv)
    // so `//` rounding mode can't matter; weights stay BIGINT
    // (1e-12 units). Value-identical to the former scale-15 decimal
    // formulation — (σ−y)·x at scales (9, 6) IS the femto integer.
    // per-step update: wdivStages replaces the former
    // tdiv(CAST(g AS HUGEINT), 2000n) — |g| <= n·1e15 so the
    // quotient is <= 5e11 (pq=13 leaves 20x headroom; 13 + the
    // divisor's width stays far inside the 38-digit product budget).
    val iters = (1 to 8).map { i =>
      s""",
         |s$i AS (SELECT f.y, f.x1u, f.x2u, ${logitSguSql("w")} AS sgu
         |        FROM $trainSrc f, w${i - 1}t w),
         |g$i AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    sum(CAST((sgu - y * 1000000000) * 1000000
         |      AS DECIMAL(38,0))) AS g0,
         |    sum(CAST((sgu - y * 1000000000) * x1u
         |      AS DECIMAL(38,0))) AS g1,
         |    sum(CAST((sgu - y * 1000000000) * x2u
         |      AS DECIMAL(38,0))) AS g2
         |  FROM s$i),
         |x$i AS (SELECT w.w0u, w.w1u, w.w2u, g.n, g.g0, g.g1, g.g2
         |  FROM w${i - 1}t w, g$i g),
         |${wdivStages(s"u$i", s"x$i", Seq(
              WDiv("g0", "2000 * n", "dg0", 13, 17),
              WDiv("g1", "2000 * n", "dg1", 13, 17),
              WDiv("g2", "2000 * n", "dg2", 13, 17)))},
         |w${i}t AS (SELECT
         |    CAST(w0u - dg0 AS BIGINT) AS w0u,
         |    CAST(w1u - dg1 AS BIGINT) AS w1u,
         |    CAST(w2u - dg2 AS BIGINT) AS w2u
         |  FROM u$i)""".stripMargin
    }.mkString
    s"""WITH feats0 AS (SELECT
       |    CAST(round(ln(1.0 + CAST(sum(CASE WHEN event_type <>
       |      'purchase' THEN 1 ELSE 0 END) AS DOUBLE)) * 1.0e6, 0)
       |      / 1.0e6 AS DECIMAL(8,6)) AS x1,
       |    CAST(round(CAST(count(DISTINCT CASE WHEN event_type <>
       |      'purchase' THEN CAST(ts AS DATE) END) AS DOUBLE)
       |      / 30.0 * 1.0e6, 0) / 1.0e6 AS DECIMAL(8,6)) AS x2,
       |    CAST(CASE WHEN sum(CASE WHEN event_type = 'purchase'
       |      THEN 1 ELSE 0 END) > 13 THEN 1 ELSE 0 END AS INT) AS y,
       |    (${h60("'eval_' || user_id")} % 100) >= 80 AS tst
       |  FROM events GROUP BY user_id),
       |feats AS (SELECT *, CAST(x1 * 1000000 AS BIGINT) AS x1u,
       |    CAST(x2 * 1000000 AS BIGINT) AS x2u FROM feats0),
       |trainf AS (SELECT * FROM feats WHERE NOT tst),
       |testf AS (SELECT * FROM feats WHERE tst),
       |w0t AS (SELECT CAST(0 AS BIGINT) AS w0u,
       |          CAST(0 AS BIGINT) AS w1u,
       |          CAST(0 AS BIGINT) AS w2u)$iters""".stripMargin
  }

  /** The subword vocabulary as a DuckDB list literal, sorted longest
    * entry first so `list_filter(...)[1]` IS the greedy longest match
    * (mirrors [[org.apache.spark.sql.graft.VocabTokenize]]'s
    * bucket-longest-first probe order).
    */
  private val vocabSql = org.apache.spark.sql.graft.VocabTokenize.DefaultVocab
    .sortBy(v => (-v.length, v)).map(v => s"'$v'")
    .mkString("[", ", ", "]")

  /** Oracle mirror of [[graft.operators.Relational.derivedPartSupp]]:
    * the deterministic part-supplier relation (4 suppliers per part by
    * modular assignment; integer-cent costs).
    */
  private val psCte =
    """ps AS (SELECT p_partkey AS ps_partkey,
      |  (p_partkey * 7 + k * 13) % (SELECT count(*) FROM supplier)
      |    AS ps_suppkey,
      |  CAST((p_partkey * 13 + k * 29) % 9999 + 1 AS INT) AS ps_availqty,
      |  CAST((p_partkey * 31 + k * 17) % 9000 + 1000 AS BIGINT)
      |    AS ps_supplycost_cents
      |FROM part CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) ks)""".stripMargin

  /** Shared oracle CTEs: tokenized documents + distinct-3-gram shingle
    * index (mirrors TextFunctions.{tokensCol,shinglesCol}).
    */
  private val docsCte =
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
       |sh AS (SELECT DISTINCT doc_id,
       |         ${h60("concat_ws(' ', toks[i], toks[i+1], toks[i+2])")} AS shingle
       |       FROM t, unnest(generate_series(1, len(toks) - 2)) AS g(i))""".stripMargin

  /** The Bradley-Terry oracle chain over an arbitrary event relation
    * (shared verbatim by `bt_strengths` and `bt_incremental` over the
    * full stream — the incremental fold is count-additive, so the
    * full-rebuild chain IS its oracle — and by `bt_retire` over the
    * surviving users' stream: full-rebuild-minus-retired parity). */
  private def btOracleSqlOver(rel: String): String = {
      val base =
        s"""WITH btc AS (SELECT event_type, value,
           |    lead(event_type) OVER (PARTITION BY user_id
           |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nt,
           |    lead(value) OVER (PARTITION BY user_id
           |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS nv
           |  FROM $rel),
           |btw AS MATERIALIZED (SELECT winner, loser, count(*) AS nw FROM (
           |    SELECT CASE WHEN value > nv THEN event_type
           |             WHEN value < nv THEN nt
           |             ELSE least(event_type, nt) END AS winner,
           |           CASE WHEN value > nv THEN nt
           |             WHEN value < nv THEN event_type
           |             ELSE greatest(event_type, nt) END AS loser
           |    FROM btc WHERE nt IS NOT NULL AND nt <> event_type)
           |  GROUP BY winner, loser),
           |btn AS MATERIALIZED (SELECT i, j, CAST(sum(nw) AS BIGINT) AS n FROM (
           |    SELECT winner AS i, loser AS j, nw FROM btw
           |    UNION ALL SELECT loser, winner, nw FROM btw)
           |  GROUP BY i, j),
           |btwt AS MATERIALIZED (SELECT winner AS i, CAST(sum(nw) AS BIGINT) AS wi
           |  FROM btw GROUP BY winner),
           |btw0 AS MATERIALIZED (SELECT DISTINCT i, CAST(1000000000 AS BIGINT) AS w9
           |  FROM btn)""".stripMargin
      val iters = (1 to 8).map { k =>
        val prev = s"btw${k - 1}"
        s"""btd$k AS MATERIALIZED (SELECT btn.i,
           |    sum(CAST(round(btn.n * 1.0e9
           |      / CAST(greatest(wi.w9 + wj.w9, 1) AS DOUBLE)
           |      * 1.0e6, 0) AS BIGINT)) AS d6
           |  FROM btn JOIN $prev wi ON wi.i = btn.i
           |  JOIN $prev wj ON wj.i = btn.j GROUP BY btn.i),
           |btu$k AS (SELECT d.i,
           |    CAST(round(CAST(coalesce(wt.wi, 0) AS DOUBLE) * 1.0e6
           |      / CAST(d6 AS DOUBLE) * 1.0e9, 0) AS BIGINT) AS u9
           |  FROM btd$k d LEFT JOIN btwt wt ON wt.i = d.i),
           |bts$k AS (SELECT sum(u9) AS s FROM btu$k),
           |btw$k AS MATERIALIZED (SELECT i,
           |    CAST(round(u9 * 1.0e9 / CAST(s AS DOUBLE), 0) AS BIGINT)
           |      AS w9
           |  FROM btu$k, bts$k)""".stripMargin
      }.mkString(",\n")
      s"""$base,
         |$iters
         |SELECT w.i AS event_type,
         |  CAST(coalesce(wt.wi, 0) AS BIGINT) AS n_wins,
         |  nc.n_comparisons,
         |  CAST(w.w9 AS DOUBLE) / 1.0e9 AS bt_strength
         |FROM btw8 w
         |JOIN (SELECT i, CAST(sum(n) AS BIGINT) AS n_comparisons
         |      FROM btn GROUP BY i) nc ON nc.i = w.i
         |LEFT JOIN btwt wt ON wt.i = w.i
         |ORDER BY event_type""".stripMargin
    }

  private lazy val btOracleSql: String = btOracleSqlOver("events")

  /** The domain_profile oracle chain — shared verbatim by
    * `domain_profile` and `domain_profile_incremental` (the fold is
    * exact full-rebuild parity, so the rebuild chain IS its oracle). */
  private lazy val domainProfileOracleSql: String =
      s"""$docsCte,
         |$shCappedCte,
         |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |         FROM shc x JOIN shc y
         |           ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
         |${jaccardCte("shc")},
         |p AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.5),
         |nd AS (SELECT DISTINCT doc_id FROM
         |        (SELECT d1 AS doc_id FROM p UNION ALL SELECT d2 FROM p)),
         |pd0 AS (SELECT doc_id, source, text,
         |          string_split(text, ' ') AS toks FROM documents),
         |pd AS (SELECT doc_id, source,
         |         CAST(len(toks) AS BIGINT) AS n_tok,
         |         CAST(round($curateQualitySql * 1.0e6, 0) AS BIGINT) AS q6,
         |         md5(text) AS fp
         |       FROM pd0),
         |fpdf AS (SELECT fp, count(*) AS fp_df FROM pd GROUP BY fp),
         |byd AS (SELECT source, count(*) AS n_docs,
         |          sum(n_tok) AS n_tokens,
         |          sum(CASE WHEN fp_df > 1 THEN 1 ELSE 0 END) AS n_exact_dup,
         |          sum(CASE WHEN nd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |            AS n_neardup,
         |          sum(q6) AS q6_sum
         |        FROM pd JOIN fpdf USING (fp)
         |        LEFT JOIN nd USING (doc_id)
         |        GROUP BY source),
         |tot AS (SELECT sum(n_docs) AS t_docs, sum(n_tokens) AS t_toks
         |        FROM byd)
         |SELECT source, n_docs,
         |  ${safe6("CAST(n_docs AS DOUBLE) / CAST(t_docs AS DOUBLE)")}
         |    AS doc_share,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  ${safe6("CAST(n_tokens AS DOUBLE) / CAST(t_toks AS DOUBLE)")}
         |    AS token_share,
         |  CAST(n_exact_dup AS BIGINT) AS n_exact_dup,
         |  ${safe6("CAST(n_exact_dup AS DOUBLE) / CAST(n_docs AS DOUBLE)")}
         |    AS exact_dup_rate,
         |  CAST(n_neardup AS BIGINT) AS n_neardup,
         |  ${safe6("CAST(n_neardup AS DOUBLE) / CAST(n_docs AS DOUBLE)")}
         |    AS neardup_rate,
         |  ${safe6("CAST(q6_sum AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 1.0e6)")}
         |    AS mean_quality
         |FROM byd, tot ORDER BY source""".stripMargin

  /** The pinned per-doc quality score over a relation exposing `toks`
    * (mirrors TextAnalysis.qualityScoreCol — shared by the quality
    * gate, the curation chain, and the domain profile so the formula
    * cannot diverge between oracles). */
  private val curateQualitySql =
    """round((CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
      |    * (1.0 - CAST(len(list_filter(toks, tk -> list_contains(['the','a','of','and','to','in','is','on','for','with'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
      |    * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
      |    * 1.0e6, 0) / 1.0e6""".stripMargin

  /** The corpus_curate 4-stage chain over an arbitrary document
    * relation `rel` (doc_id, text, source, …) — quality gate, capped
    * near-dup CC keep-representatives, 8-gram decontamination, and the
    * balanced per-source sample. Shared verbatim by `corpus_curate`
    * (rel = documents) and `corpus_curate_gated` (rel = the
    * domain-admitted slice), so the cascade cannot drift between the
    * two. Caller supplies the WITH RECURSIVE prefix.
    */
  private def curateSqlOver(rel: String): String =
    s"""ct AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM $rel),
       |csh AS (SELECT DISTINCT doc_id,
       |          ${h60("concat_ws(' ', toks[i], toks[i+1], toks[i+2])")} AS shingle
       |        FROM ct, unnest(generate_series(1, len(toks) - 2)) AS g(i)),
       |csh8 AS (SELECT DISTINCT doc_id,
       |          ${h60("concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4], toks[i+5], toks[i+6], toks[i+7])")} AS shingle
       |        FROM ct, unnest(generate_series(1, len(toks) - 7)) AS g(i)),
       |q AS (SELECT doc_id FROM ct
       |  WHERE $curateQualitySql >= 0.35),
       |shq AS (SELECT s.doc_id, s.shingle FROM csh s JOIN q ON q.doc_id = s.doc_id),
       |shc2 AS (SELECT doc_id, shingle FROM shq
       |         QUALIFY count(*) OVER (PARTITION BY shingle) <= ${Dedup.MaxShingleDf}),
       |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |         FROM shc2 x JOIN shc2 y
       |           ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
       |${jaccardCte("shc2")},
       |p AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.5),
       |e AS (SELECT d1 AS a, d2 AS b FROM p UNION SELECT d2, d1 FROM p),
       |nodes AS (SELECT DISTINCT a AS id FROM e),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b
       |),
       |cl AS (SELECT id AS doc_id, min(r) AS rep FROM reach GROUP BY id),
       |dropd AS (SELECT doc_id FROM cl WHERE doc_id <> rep),
       |kept AS (SELECT q.doc_id FROM q
       |         WHERE q.doc_id NOT IN (SELECT doc_id FROM dropd)),
       |f AS (SELECT s.doc_id, s.shingle,
       |        (${h60("'split_' || s.doc_id")} % 100) < 10 AS is_test
       |      FROM csh8 s JOIN kept k ON k.doc_id = s.doc_id),
       |pp AS (SELECT shingle,
       |         count(*) FILTER (WHERE is_test) AS nt,
       |         count(*) FILTER (WHERE NOT is_test) AS nr
       |       FROM f GROUP BY shingle
       |       HAVING nt > 0 AND nr > 0 AND nt + nr <= ${Dedup.MaxShingleDf}),
       |flag AS (SELECT DISTINCT r0.doc_id FROM f r0
       |         JOIN pp ON pp.shingle = r0.shingle
       |         WHERE NOT r0.is_test),
       |fin AS (SELECT k.doc_id FROM kept k
       |        WHERE (${h60("'split_' || k.doc_id")} % 100) >= 10
       |          AND k.doc_id NOT IN (SELECT doc_id FROM flag)),
       |rs AS (SELECT d.doc_id, d.source,
       |         CAST(row_number() OVER (PARTITION BY d.source
       |           ORDER BY md5('bs_' || d.doc_id), d.doc_id) AS INT) AS samp_rank
       |       FROM $rel d JOIN fin ON fin.doc_id = d.doc_id)
       |SELECT doc_id, source, samp_rank FROM rs
       |WHERE samp_rank <= 10
       |ORDER BY source, samp_rank""".stripMargin

  /** Entity-resolution oracle CTEs (mirror EntityResolution.{sourceA,
    * sourceB,candidates,uProbabilities,matchScores}): A = customer in
    * integer cents, B = the deterministic corrupted re-observation,
    * two capped blocking passes, data-driven u probabilities, and the
    * 1e-6-pinned Fellegi–Sunter score. m-priors and the dissent
    * priors are interpolated from the Scala constants so both engines
    * parse the EXACT same doubles (1.0−0.9 is not 0.1 in IEEE).
    */
  private object ErOracle {
    import EntityResolution._
    val segList =
      "['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']"
    def cap(side: String, capN: Int = MaxBlockSize) =
      s"""SELECT rec_id, bkey FROM k$side QUALIFY row_number() OVER (
         |  PARTITION BY bkey
         |  ORDER BY ${h60(s"'er_cap${side}_' || rec_id")}, rec_id)
         |  <= $capN""".stripMargin
    def keys(src: String, finer: Boolean = false) = {
      val twoPass =
        s"""SELECT rec_id, 's|' || nat || '|' || seg AS bkey FROM $src
           |UNION ALL
           |SELECT rec_id, 'b|' || nat || '|' ||
           |  CAST(floor((ab_c + 100000) / 50000.0) AS BIGINT) AS bkey
           |FROM $src""".stripMargin
      if (!finer) twoPass
      else twoPass +
        s"""
           |UNION ALL
           |SELECT rec_id, 'n|' || nat || '|' ||
           |  right(regexp_extract(name, '[0-9]+'), 2) AS bkey
           |FROM $src""".stripMargin
    }
    val wName =
      s"""CASE WHEN gamma_name = 2
         |       THEN ln($MNameExact / u_name_exact) / ln(2.0)
         |     WHEN gamma_name = 1
         |       THEN ln($MNameClose / greatest(u_name_close, 1.0e-9)) / ln(2.0)
         |     ELSE ln(${1.0 - MNameExact - MNameClose} /
         |       greatest(1.0 - u_name_exact - u_name_close, 1.0e-9)) / ln(2.0)
         |END""".stripMargin
    val wSeg =
      s"""CASE WHEN seg_agree THEN ln($MSeg / u_seg) / ln(2.0)
         |     ELSE ln(${1.0 - MSeg} / (1.0 - u_seg)) / ln(2.0) END""".stripMargin
    val wAb =
      s"""CASE WHEN ab_agree THEN ln($MAb / u_ab) / ln(2.0)
         |     ELSE ln(${1.0 - MAb} / (1.0 - u_ab)) / ln(2.0) END""".stripMargin

    /** The A/B record sets (era, erb). */
    val base =
      s"""era AS (SELECT CAST(c_custkey AS BIGINT) AS rec_id, c_name AS name,
         |    CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
         |    CAST(round(c_acctbal * 100.0, 0) AS BIGINT) AS ab_c
         |  FROM customer),
         |erb AS (SELECT rec_id + $BIdOffset AS rec_id,
         |    CASE WHEN ${h60("'er_nm_' || rec_id")} % 10 IN (0, 1) THEN
         |           substr(name, 1, CAST(${h60("'er_pos_' || rec_id")}
         |             % length(name) AS INT)) ||
         |           substr(name, CAST(${h60("'er_pos_' || rec_id")}
         |             % length(name) AS INT) + 2, 200)
         |         WHEN ${h60("'er_nm_' || rec_id")} % 10 = 2 THEN upper(name)
         |         WHEN ${h60("'er_nm_' || rec_id")} % 10 = 3 THEN name || ' '
         |         ELSE name END AS name,
         |    CASE WHEN ${h60("'er_nat_' || rec_id")} % 50 = 0
         |         THEN (nat + 1) % 25 ELSE nat END AS nat,
         |    CASE WHEN ${h60("'er_seg_' || rec_id")} % 20 = 0
         |         THEN ($segList)[CAST(${h60("'er_seg2_' || rec_id")} % 5
         |           AS INT) + 1]
         |         ELSE seg END AS seg,
         |    CASE WHEN ${h60("'er_ab_' || rec_id")} % 4 = 0
         |         THEN ab_c + (${h60("'er_ab2_' || rec_id")} % 199) - 99
         |         ELSE ab_c END AS ab_c
         |  FROM era WHERE ${h60("'er_drop_' || rec_id")} % 10 <> 0)""".stripMargin

    /** Blocking + u-estimation + Fellegi-Sunter scoring CTEs.
      * `bu` = the B relation the u probabilities see (frozen history
      * in the incremental twin); `bc` = the B relation blocked and
      * scored (the delta). The plain family passes erb for both.
      */
    def scoring(bu: String, bc: String, finer: Boolean = false,
                capN: Int = MaxBlockSize) =
      s"""kA AS (${keys("era", finer)}),
         |kB AS (${keys(bc, finer)}),
         |kac AS (${cap("A", capN)}),
         |kbc AS (${cap("B", capN)}),
         |ercand AS (SELECT a_id, b_id,
         |    CAST(max(CASE WHEN bkey LIKE 's|%' THEN 1 ELSE 0 END)
         |      AS BOOLEAN) AS via_attr,
         |    CAST(max(CASE WHEN bkey LIKE 'b|%' THEN 1 ELSE 0 END)
         |      AS BOOLEAN) AS via_band
         |  FROM (SELECT x.rec_id AS a_id, y.rec_id AS b_id, x.bkey
         |        FROM kac x JOIN kbc y USING (bkey))
         |  GROUP BY a_id, b_id),
         |erna AS (SELECT count(*) AS n_a FROM era),
         |ernb AS (SELECT count(*) AS n_b FROM $bu),
         |ersegu AS (SELECT sum(ca * cb) AS seg_hits FROM
         |    (SELECT seg AS v, count(*) AS ca FROM era GROUP BY 1) x
         |    JOIN (SELECT seg AS v, count(*) AS cb FROM $bu GROUP BY 1) y
         |      USING (v)),
         |ernameu AS (SELECT coalesce(sum(ca * cb), 0) AS name_hits FROM
         |    (SELECT lower(trim(name)) AS v, count(*) AS ca FROM era
         |     GROUP BY 1) x
         |    JOIN (SELECT lower(trim(name)) AS v, count(*) AS cb FROM $bu
         |          GROUP BY 1) y USING (v)),
         |ersv AS (SELECT greatest(1, CAST(floor(n_b / $UPairsPerA.0)
         |    AS BIGINT)) AS sv FROM ernb),
         |erpa AS (SELECT ${h60("'er_u_' || rec_id")} % (SELECT sv FROM ersv)
         |    AS uk, lower(trim(name)) AS nm_a, ab_c AS ab_a FROM era),
         |erpb AS (SELECT ${h60("'er_u2_' || rec_id")} % (SELECT sv FROM ersv)
         |    AS uk, lower(trim(name)) AS nm_b, ab_c AS ab_b FROM $bu),
         |ersamp AS (SELECT count(*) AS n_pairs,
         |    sum(CASE WHEN nm_a = nm_b THEN 1 ELSE 0 END) AS n_exact,
         |    sum(CASE WHEN nm_a <> nm_b
         |             AND levenshtein(nm_a, nm_b) <= 2 THEN 1 ELSE 0 END)
         |      AS n_close,
         |    sum(CASE WHEN abs(ab_a - ab_b) <= 100 THEN 1 ELSE 0 END) AS n_ab
         |  FROM erpa JOIN erpb USING (uk)),
         |eru AS (SELECT
         |    greatest(name_hits / CAST(n_a * n_b AS DOUBLE), 1.0e-9)
         |      AS u_name_exact,
         |    greatest(n_close / CAST(n_pairs AS DOUBLE), 1.0e-9)
         |      AS u_name_close,
         |    greatest(seg_hits / CAST(n_a * n_b AS DOUBLE), 1.0e-9) AS u_seg,
         |    greatest(n_ab / CAST(n_pairs AS DOUBLE), 1.0e-9) AS u_ab,
         |    n_a, n_b, n_pairs
         |  FROM ersamp, erna, ernb, ersegu, ernameu),
         |erg AS (SELECT c.a_id, c.b_id,
         |    CASE WHEN x.nm_a = y.nm_b THEN 2
         |         WHEN levenshtein(x.nm_a, y.nm_b) <= 2 THEN 1
         |         ELSE 0 END AS gamma_name,
         |    x.seg_a = y.seg_b AS seg_agree,
         |    abs(x.ab_a - y.ab_b) <= 100 AS ab_agree
         |  FROM ercand c
         |  JOIN (SELECT rec_id, lower(trim(name)) AS nm_a, seg AS seg_a,
         |          ab_c AS ab_a FROM era) x ON x.rec_id = c.a_id
         |  JOIN (SELECT rec_id, lower(trim(name)) AS nm_b, seg AS seg_b,
         |          ab_c AS ab_b FROM $bc) y ON y.rec_id = c.b_id),
         |ersc AS (SELECT a_id, b_id, gamma_name, seg_agree, ab_agree,
         |    ${safe6(s"($wName) + ($wSeg) + ($wAb)")} AS score
         |  FROM erg, eru)""".stripMargin
  }

  /** Shared incremental-cluster oracle chain (hist CC `assign`, the
    * delta-lifted second CC, and the updated full assignment as
    * hist_out/new_out) - reused by the incremental clusters oracle
    * and the incremental cluster-safe split.
    */
  private lazy val dedupIncAssignCtes: String =
    s"""${docsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |shh AS (SELECT * FROM sh WHERE ${h60("'inc_' || doc_id")} % 100 < 80),
         |shhc AS (SELECT doc_id, shingle FROM shh
         |         QUALIFY count(*) OVER (PARTITION BY shingle) <= ${Dedup.MaxShingleDf}),
         |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |         FROM shhc x JOIN shhc y
         |           ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
         |${jaccardCte("shhc")},
         |p AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.5),
         |e AS (SELECT d1 AS a, d2 AS b FROM p UNION SELECT d2, d1 FROM p),
         |nodes AS (SELECT DISTINCT a AS id FROM e),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b
         |),
         |assign AS (SELECT id AS doc_id, min(r) AS rep FROM reach GROUP BY id),
         |$shCappedCte,
         |cand2 AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |          FROM shc x JOIN shc y
         |            ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |          WHERE ${h60("'inc_' || x.doc_id")} % 100 >= 80
         |             OR ${h60("'inc_' || y.doc_id")} % 100 >= 80),
         |cnt2 AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
         |inter2 AS (SELECT c.d1, c.d2, count(*) AS i
         |           FROM cand2 c
         |           JOIN shc s1 ON s1.doc_id = c.d1
         |           JOIN shc s2 ON s2.doc_id = c.d2 AND s2.shingle = s1.shingle
         |           GROUP BY c.d1, c.d2),
         |np AS (SELECT i2.d1, i2.d2
         |       FROM inter2 i2
         |       JOIN cnt2 c1 ON c1.doc_id = i2.d1
         |       JOIN cnt2 c2 ON c2.doc_id = i2.d2
         |       WHERE round(CAST(i2.i AS DOUBLE)
         |         / CAST(c1.n + c2.n - i2.i AS DOUBLE) * 1.0e6, 0) / 1.0e6 >= 0.5),
         |lift AS (SELECT coalesce(a1.rep, np.d1) AS e1,
         |                coalesce(a2.rep, np.d2) AS e2
         |         FROM np
         |         LEFT JOIN assign a1 ON a1.doc_id = np.d1
         |         LEFT JOIN assign a2 ON a2.doc_id = np.d2),
         |ce AS (SELECT least(e1, e2) AS a, greatest(e1, e2) AS b
         |       FROM lift WHERE e1 <> e2),
         |ce2 AS (SELECT a, b FROM ce UNION SELECT b, a FROM ce),
         |nodes2 AS (SELECT DISTINCT a AS id FROM ce2),
         |reach2 AS (
         |  SELECT id, id AS r FROM nodes2
         |  UNION
         |  SELECT ce2.a AS id, reach2.r FROM ce2 JOIN reach2 ON reach2.id = ce2.b
         |),
         |newrep AS (SELECT id, min(r) AS nr FROM reach2 GROUP BY id),
         |hist_out AS (SELECT a.doc_id, coalesce(n.nr, a.rep) AS cluster_rep
         |             FROM assign a LEFT JOIN newrep n ON n.id = a.rep),
         |new_out AS (SELECT n.id AS doc_id, n.nr AS cluster_rep FROM newrep n
         |            WHERE n.id NOT IN (SELECT doc_id FROM assign))""".stripMargin

  private val erCte =
    s"""${ErOracle.base},
       |${ErOracle.scoring("erb", "erb")}""".stripMargin

  /** The PRODUCTION key-set chain the persisted index family serves
    * under: finer 3-pass blocking at [[EntityResolution.MasterCap]]
    * (er_match_index / er_eval / er_entities / er_retire). */
  private val erCteMaster =
    s"""${ErOracle.base},
       |${ErOracle.scoring("erb", "erb", finer = true,
          capN = EntityResolution.MasterCap)}""".stripMargin

  /** The finer-keys variant chain: third (nation, name-digit) blocking
    * pass at cap 64 — the remedy-as-data oracle. */
  private val erCteFiner =
    s"""${ErOracle.base},
       |${ErOracle.scoring("erb", "erb", finer = true, capN = 64)}""".stripMargin

  /** The er_eval operating-curve SELECT over any scored chain (shared
    * by the default and finer-keys variants). */
  private def erEvalSqlOver(cte: String): String =
    s"""WITH $cte,
       |ev AS (SELECT ersc.*, (b_id - ${EntityResolution.BIdOffset}
       |         = a_id) AS is_true FROM ersc),
       |th AS (SELECT * FROM (VALUES (0.0), (2.0), (4.0), (6.0), (8.0),
       |        (10.0), (12.0)) t(threshold)),
       |ntrue AS (SELECT count(*) AS n_true_links FROM erb),
       |base AS (SELECT sum(CASE WHEN is_true THEN 1 ELSE 0 END)
       |           AS n_true_blocked FROM ev),
       |pt0 AS (SELECT threshold, count(*) AS n_pred,
       |         CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_tp
       |       FROM ev JOIN th ON ev.score >= th.threshold
       |       GROUP BY threshold),
       |pt AS (SELECT th.threshold,
       |         coalesce(n_pred, 0) AS n_pred,
       |         coalesce(n_tp, 0) AS n_tp
       |       FROM th LEFT JOIN pt0 USING (threshold))
       |SELECT threshold, n_pred, n_tp, n_true_links,
       |  CASE WHEN n_pred > 0
       |    THEN ${safe6("n_tp / CAST(n_pred AS DOUBLE)")} END AS prec,
       |  ${safe6("n_tp / CAST(n_true_links AS DOUBLE)")} AS rec,
       |  ${safe6("(2.0 * n_tp) / CAST(n_pred + n_true_links AS DOUBLE)")}
       |    AS f1,
       |  ${safe6("n_true_blocked / CAST(n_true_links AS DOUBLE)")}
       |    AS blocking_recall
       |FROM pt, ntrue, base ORDER BY threshold""".stripMargin

  /** Incremental-ER oracle: B split 80/20 into history/delta; the u
    * probabilities are FROZEN on the history and only the delta is
    * blocked and scored (delta-local B-side caps — the batch is what
    * the nightly job sees).
    */
  private val erIncCte =
    s"""${ErOracle.base},
       |erbh AS (SELECT * FROM erb
       |         WHERE ${h60("'er_inc_' || rec_id")} % 100 < 80),
       |erbd AS (SELECT * FROM erb
       |         WHERE ${h60("'er_inc_' || rec_id")} % 100 >= 80),
       |${ErOracle.scoring("erbh", "erbd", finer = true,
          capN = EntityResolution.MasterCap)}""".stripMargin

  /** Distinct 8-gram shingle index (mirrors the decontamination ngram;
    * long shingles = shared passages, not shared vocabulary).
    */
  private val sh8Cte =
    s"""sh8 AS (SELECT DISTINCT doc_id,
       |          ${h60("concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4], toks[i+5], toks[i+6], toks[i+7])")} AS shingle
       |        FROM t, unnest(generate_series(1, len(toks) - 7)) AS g(i))""".stripMargin

  /** MinHash signature CTE (mirrors Dedup.minhashSignatures /
    * TextFunctions.hash60Seeded's universal-hash family).
    */
  private val sigCte = {
    // `shingle` in sh is already the base hash60
    val mins = (0 until Dedup.NumHashes)
      .map(i => s"  min(((shingle % 2147483647) * ${2 * i + 1} " +
        s"+ ${7919L * (i + 1)}) % 2147483647) AS h$i")
      .mkString(",\n")
    s"""sig AS (SELECT doc_id,
       |$mins
       |FROM sh GROUP BY doc_id)""".stripMargin
  }

  /** SimHash CTE chain over `t` → `shh(doc_id, simhash)` (mirrors
    * Dedup.simhash).
    */
  private val simhashCte =
    s"""tok AS (SELECT doc_id, ${h60("u.tk")} AS h
       |        FROM t, unnest(toks) AS u(tk)),
       |bits AS (SELECT doc_id, j,
       |           sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
       |         FROM tok, unnest(generate_series(0, 59)) AS g(j)
       |         GROUP BY doc_id, j),
       |shh AS (SELECT doc_id,
       |  CAST(sum(CASE WHEN cnt > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
       |FROM bits GROUP BY doc_id)""".stripMargin

  /** Perceptual-hash CTE chain → `ph(media_id, phash)` (mirrors
    * Multimodal.phash64: 64 integer-exact segment-vs-total mean bits;
    * documents text is ASCII so per-char ascii() == per-byte value, the
    * same assumption every media oracle makes).
    */
  private val phashCte =
    """WITH m AS (SELECT doc_id AS media_id, text, length(text) AS n FROM documents),
      |ch AS (SELECT media_id, g.i - 1 AS pos, ascii(substr(text, g.i, 1)) AS v
      |       FROM m, unnest(generate_series(1, n)) AS g(i)),
      |tot AS (SELECT media_id, sum(v) AS total FROM ch GROUP BY media_id),
      |segs AS (SELECT media_id, n, g.k AS k,
      |           (g.k * n) // 64 AS f, ((g.k + 1) * n) // 64 AS u
      |         FROM m, unnest(generate_series(0, 63)) AS g(k)),
      |ss AS (SELECT s.media_id, s.k, s.f, s.u, s.n,
      |         coalesce(sum(c.v), 0) AS segsum
      |       FROM segs s LEFT JOIN ch c
      |         ON c.media_id = s.media_id AND c.pos >= s.f AND c.pos < s.u
      |       GROUP BY s.media_id, s.k, s.f, s.u, s.n),
      |ph AS (SELECT ss.media_id,
      |         CAST(coalesce(sum(CASE WHEN ss.u > ss.f
      |             AND ss.segsum * ss.n > t.total * (ss.u - ss.f)
      |           THEN CASE WHEN ss.k = 63
      |             THEN CAST(-9223372036854775807 - 1 AS BIGINT)
      |             ELSE (CAST(1 AS BIGINT) << ss.k) END END), 0) AS BIGINT) AS phash
      |       FROM ss JOIN tot t ON t.media_id = ss.media_id
      |       GROUP BY ss.media_id)""".stripMargin

  /** Band-key CTE over `sig` (mirrors Dedup.bandKeys). */
  private val bandsCte =
    """bands AS (SELECT doc_id, b,
      |  md5(CASE b
      |    WHEN 0 THEN concat_ws(',', h0, h1, h2, h3)
      |    WHEN 1 THEN concat_ws(',', h4, h5, h6, h7)
      |    WHEN 2 THEN concat_ws(',', h8, h9, h10, h11)
      |    ELSE concat_ws(',', h12, h13, h14, h15) END) AS bkey
      |  FROM sig, unnest([0, 1, 2, 3]) AS u(b))""".stripMargin

  /** Band-key CTE over an arbitrary signature CTE `src`, KEEPING the
    * h0..h15 columns (mirrors Dedup.signatureBands — the payload-
    * through-LSH shape of the incremental dedup check).
    */
  private def sigBandsCte(name: String, src: String) =
    s"""$name AS (SELECT s_.*, u.b AS b,
       |  md5(CASE u.b
       |    WHEN 0 THEN concat_ws(',', h0, h1, h2, h3)
       |    WHEN 1 THEN concat_ws(',', h4, h5, h6, h7)
       |    WHEN 2 THEN concat_ws(',', h8, h9, h10, h11)
       |    ELSE concat_ws(',', h12, h13, h14, h15) END) AS bkey
       |  FROM $src s_, unnest([0, 1, 2, 3]) AS u(b))""".stripMargin

  /** Shared incremental-dedup CTE chain (mirrors
    * Dedup.incrementalNearDups): 80/20 salted history/delta signature
    * split → band keys (history hot buckets capped to the
    * MaxBucketSize smallest doc_ids) → band join → per-pair signature
    * agreement count. Ends with `cand(hist_doc, delta_doc, n_matching)`
    * — consumed by both the pair query and the apply (ship) query.
    */
  private def incChainCteFor(salt: String, histPct: Int,
                             histExtra: String = "") = {
    val matchSum = (0 until Dedup.NumHashes)
      .map(i => s"(CASE WHEN h.h$i = d.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""$docsCte,
       |$sigCte,
       |hs AS (SELECT * FROM sig WHERE ${h60(s"'$salt' || doc_id")} % 100 < $histPct$histExtra),
       |dsg AS (SELECT * FROM sig WHERE ${h60(s"'$salt' || doc_id")} % 100 >= $histPct),
       |${sigBandsCte("hb0", "hs")},
       |hb AS (SELECT * FROM hb0
       |       QUALIFY row_number() OVER (PARTITION BY b, bkey ORDER BY doc_id) <= ${Dedup.MaxBucketSize}),
       |${sigBandsCte("db", "dsg")},
       |cand AS (SELECT DISTINCT h.doc_id AS hist_doc, d.doc_id AS delta_doc,
       |           CAST($matchSum AS INT) AS n_matching
       |         FROM hb h JOIN db d ON h.b = d.b AND h.bkey = d.bkey)""".stripMargin
  }

  private val incChainCte = incChainCteFor("inc_", 80)

  /** Unrolled k-stage BPE oracle (mirrors TextAnalysis.bpeLearn):
    * stage i counts adjacent symbol pairs over the vocabulary table,
    * picks the (freq DESC, pair ASC) argmax, and applies the merge with
    * the same greedy left-to-right symbol-walk fold the engine uses
    * (list_reduce with single-item-list elements as the fold
    * accumulator; acc[:-2] is DuckDB's inclusive-bound drop-last).
    */
  private def bpeStagesSql(k: Int): String = {
    val head =
      """WITH w0 AS (SELECT u.w AS w, count(*) AS freq
        |  FROM (SELECT string_split(text, ' ') AS toks FROM documents) tt,
        |       unnest(tt.toks) AS u(w)
        |  WHERE u.w <> '' GROUP BY u.w),
        |t1 AS (SELECT w, list_transform(generate_series(1, len(w)),
        |         i -> substr(w, i, 1)) AS syms, freq
        |       FROM w0)""".stripMargin
    val stages = (1 to k).map { i =>
      s""",
         |p$i AS (SELECT s.syms[g.j] || ' ' || s.syms[g.j + 1] AS pair,
         |    sum(s.freq) AS f
         |  FROM t$i s,
         |       unnest(generate_series(1, len(s.syms) - 1)) AS g(j)
         |  GROUP BY 1),
         |b$i AS (SELECT pair, string_split(pair, ' ')[1] AS pa,
         |    string_split(pair, ' ')[2] AS pb, f
         |  FROM p$i ORDER BY f DESC, pair LIMIT 1),
         |t${i + 1} AS (SELECT t.w, list_reduce(list_transform(t.syms, x -> [x]),
         |    (acc, x) -> CASE WHEN acc[-1] = b.pa AND x[1] = b.pb
         |                THEN list_append(acc[:-2], b.pa || b.pb)
         |                ELSE list_concat(acc, x) END) AS syms, t.freq
         |  FROM t$i t, b$i b)""".stripMargin
    }.mkString
    head + stages
  }

  /** WordPiece stage chain (mirrors TextAnalysis.wordpieceTrain): the
    * bpeStagesSql structure at the ## convention with the likelihood
    * score freq(ab)/(count(a)·count(b)) — per stage a symbol-count
    * agg, a pair-count agg, the scored 1-row argmax, and the same
    * left-to-right list_reduce merge walk.
    *
    * PRECONDITION (shared with the pre-existing bpeStagesSql shape):
    * every stage must find a mergeable pair — `t{i+1}` is built as
    * `FROM t$i t, b$i b`, so an empty `b$i` (merges exhausted before
    * stage k: no word has ≥2 symbols left) would empty every
    * subsequent t table, where the Scala trainer's `exhausted` flag
    * keeps the last vocab. Holds on the harness corpus by a wide
    * margin (k = 8 merges vs thousands of multi-symbol word types);
    * a degenerate corpus needs k lowered, not a silent guard.
    */
  private def wordpieceStagesSql(k: Int): String = {
    val head =
      """WITH w0 AS (SELECT u.w AS w, count(*) AS freq
        |  FROM (SELECT string_split(text, ' ') AS toks FROM documents) tt,
        |       unnest(tt.toks) AS u(w)
        |  WHERE u.w <> '' GROUP BY u.w),
        |t1 AS MATERIALIZED (SELECT w, list_transform(generate_series(1, len(w)),
        |         i -> CASE WHEN i = 1 THEN substr(w, i, 1)
        |              ELSE '##' || substr(w, i, 1) END) AS syms, freq
        |       FROM w0)""".stripMargin
    val stages = (1 to k).map { i =>
      s""",
         |c$i AS MATERIALIZED (SELECT u.sym AS sym, sum(s.freq) AS c
         |  FROM t$i s, unnest(s.syms) AS u(sym) GROUP BY 1),
         |p$i AS (SELECT s.syms[g.j] || ' ' || s.syms[g.j + 1] AS pair,
         |    sum(s.freq) AS f
         |  FROM t$i s,
         |       unnest(generate_series(1, len(s.syms) - 1)) AS g(j)
         |  GROUP BY 1),
         |b$i AS (SELECT pp.pair, pp.pa, pp.pb,
         |    pp.pa || (CASE WHEN pp.pb LIKE '##%' THEN substr(pp.pb, 3)
         |              ELSE pp.pb END) AS merged,
         |    pp.f, pp.f / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))
         |      AS score
         |  FROM (SELECT pair, string_split(pair, ' ')[1] AS pa,
         |          string_split(pair, ' ')[2] AS pb, f FROM p$i) pp
         |  JOIN c$i ca ON ca.sym = pp.pa
         |  JOIN c$i cb ON cb.sym = pp.pb
         |  ORDER BY score DESC, pp.pair LIMIT 1),
         |t${i + 1} AS MATERIALIZED (SELECT t.w, list_reduce(list_transform(t.syms, x -> [x]),
         |    (acc, x) -> CASE WHEN acc[-1] = b.pa AND x[1] = b.pb
         |                THEN list_append(acc[:-2], b.merged)
         |                ELSE list_concat(acc, x) END) AS syms, t.freq
         |  FROM t$i t, b$i b)""".stripMargin
    }.mkString
    head + stages
  }

  private def wordpieceOracleSql(k: Int): String = {
    val unions = (1 to k).map(i =>
      s"SELECT $i AS stage, pair, merged, CAST(f AS BIGINT) AS freq, " +
        s"CAST(round(score * 1.0e12, 0) AS BIGINT) AS score12 FROM b$i")
      .mkString("\nUNION ALL\n")
    s"${wordpieceStagesSql(k)}\n" +
      s"SELECT CAST(stage AS INT) AS stage, pair, merged, freq, score12 " +
      s"FROM (\n$unions\n) ORDER BY stage"
  }

  private def wordpieceSegmentOracleSql(k: Int): String =
    s"""${wordpieceStagesSql(k)},
       |seg AS (SELECT w, len(syms) AS n_pieces FROM t${k + 1}),
       |dt AS (SELECT x.doc_id, u.w AS w
       |       FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |             FROM documents) x, unnest(x.toks) AS u(w)
       |       WHERE u.w <> '')
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
       |  round(CAST(sum(n_pieces) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    * 1.0e6, 0) / 1.0e6 AS fertility
       |FROM dt JOIN seg USING (w) GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Per-doc WordPiece training budget (mirrors
    * TextAnalysis.wordpieceBudgetStats): word count with the
    * empty-token convention, piece count off the segmented
    * vocabulary, exact fertility quotient, integer-ceil sequence
    * count at 512 pieces.
    */
  private def wordpieceBudgetOracleSql(k: Int, packTokens: Int): String =
    s"""${wordpieceStagesSql(k)},
       |seg AS (SELECT w, len(syms) AS n_pieces FROM t${k + 1}),
       |dts AS (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM documents),
       |dt AS (SELECT x.doc_id, u.w AS w
       |       FROM dts x, unnest(x.toks) AS u(w) WHERE u.w <> ''),
       |per AS (SELECT doc_id, CAST(sum(n_pieces) AS BIGINT) AS n_subtokens
       |        FROM dt JOIN seg USING (w) GROUP BY doc_id)
       |SELECT d.doc_id, CAST(len(d.toks) AS INT) AS n_words,
       |  coalesce(per.n_subtokens, 0) AS n_subtokens,
       |  CAST(coalesce(per.n_subtokens, 0) AS DOUBLE)
       |    / CAST(len(d.toks) AS DOUBLE) AS fertility,
       |  (coalesce(per.n_subtokens, 0) + ${packTokens - 1})
       |    // $packTokens AS n_seq
       |FROM dts d LEFT JOIN per USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  private def bpeOracleSql(k: Int): String = {
    val unions = (1 to k).map(i =>
      s"SELECT $i AS stage, pair, replace(pair, ' ', '') AS merged, " +
        s"CAST(f AS BIGINT) AS freq FROM b$i").mkString("\nUNION ALL\n")
    s"${bpeStagesSql(k)}\nSELECT CAST(stage AS INT) AS stage, pair, merged, freq " +
      s"FROM (\n$unions\n) ORDER BY stage"
  }

  /** Per-doc subword budgets under the learned merges (mirrors
    * TextAnalysis.bpeSegment): the segmented vocabulary joined back to
    * the corpus token stream.
    */
  private def bpeSegmentOracleSql(k: Int): String =
    s"""${bpeStagesSql(k)},
       |seg AS (SELECT w, len(syms) AS n_pieces FROM t${k + 1}),
       |dt AS (SELECT x.doc_id, u.w AS w
       |       FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |             FROM documents) x, unnest(x.toks) AS u(w)
       |       WHERE u.w <> '')
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
       |  round(CAST(sum(n_pieces) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    * 1.0e6, 0) / 1.0e6 AS fertility
       |FROM dt JOIN seg USING (w) GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Shared per-doc curation-ledger CTE chain (mirrors
    * TextAnalysis.curationLedger — the corpus_curate cascade re-emitted
    * per input doc as CTE `led`); consumed by the curation_ledger and
    * curation_funnel oracles.
    */
  private lazy val curationLedgerCtes =
    s"""${docsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |$sh8Cte,
       |q AS (SELECT doc_id,
       |  round((CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
       |    * (1.0 - CAST(len(list_filter(toks, tk -> list_contains(['the','a','of','and','to','in','is','on','for','with'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
       |    * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
       |    * 1.0e6, 0) / 1.0e6 AS quality_score
       |  FROM t),
       |qp AS (SELECT doc_id FROM q WHERE quality_score >= 0.35),
       |shq AS (SELECT s.doc_id, s.shingle FROM sh s JOIN qp ON qp.doc_id = s.doc_id),
       |shc2 AS (SELECT doc_id, shingle FROM shq
       |         QUALIFY count(*) OVER (PARTITION BY shingle) <= ${Dedup.MaxShingleDf}),
       |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
       |         FROM shc2 x JOIN shc2 y
       |           ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
       |${jaccardCte("shc2")},
       |p AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.5),
       |e AS (SELECT d1 AS a, d2 AS b FROM p UNION SELECT d2, d1 FROM p),
       |nodes AS (SELECT DISTINCT a AS id FROM e),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b
       |),
       |cl AS (SELECT id AS doc_id, min(r) AS rep FROM reach GROUP BY id),
       |dropd AS (SELECT doc_id FROM cl WHERE doc_id <> rep),
       |kept AS (SELECT qp.doc_id FROM qp
       |         WHERE qp.doc_id NOT IN (SELECT doc_id FROM dropd)),
       |f AS (SELECT s.doc_id, s.shingle,
       |        (${h60("'split_' || s.doc_id")} % 100) < 10 AS is_test
       |      FROM sh8 s JOIN kept k ON k.doc_id = s.doc_id),
       |pp AS (SELECT shingle,
       |         count(*) FILTER (WHERE is_test) AS nt,
       |         count(*) FILTER (WHERE NOT is_test) AS nr
       |       FROM f GROUP BY shingle
       |       HAVING nt > 0 AND nr > 0 AND nt + nr <= ${Dedup.MaxShingleDf}),
       |flag AS (SELECT DISTINCT r0.doc_id FROM f r0
       |         JOIN pp ON pp.shingle = r0.shingle
       |         WHERE NOT r0.is_test),
       |fin AS (SELECT k.doc_id FROM kept k
       |        WHERE (${h60("'split_' || k.doc_id")} % 100) >= 10
       |          AND k.doc_id NOT IN (SELECT doc_id FROM flag)),
       |rs AS (SELECT d.doc_id,
       |         CAST(row_number() OVER (PARTITION BY d.source
       |           ORDER BY md5('bs_' || d.doc_id), d.doc_id) AS INT) AS samp_rank
       |       FROM documents d JOIN fin ON fin.doc_id = d.doc_id),
       |led AS (SELECT d.doc_id, d.source, q.quality_score,
       |  q.quality_score >= 0.35 AS quality_pass,
       |  CASE WHEN q.quality_score >= 0.35
       |       THEN d.doc_id IN (SELECT doc_id FROM dropd) END AS near_dup,
       |  (${h60("'split_' || d.doc_id")} % 100) < 10 AS is_test,
       |  CASE WHEN d.doc_id IN (SELECT doc_id FROM kept)
       |        AND (${h60("'split_' || d.doc_id")} % 100) >= 10
       |       THEN d.doc_id IN (SELECT doc_id FROM flag) END AS contaminated,
       |  rs.samp_rank,
       |  CASE WHEN q.quality_score < 0.35 THEN 'quality'
       |       WHEN d.doc_id IN (SELECT doc_id FROM dropd) THEN 'near_dup'
       |       WHEN (${h60("'split_' || d.doc_id")} % 100) < 10 THEN 'test_split'
       |       WHEN d.doc_id IN (SELECT doc_id FROM flag) THEN 'contaminated'
       |       WHEN rs.samp_rank > 10 THEN 'source_cap'
       |       ELSE 'shipped' END AS status
       |FROM documents d JOIN q ON q.doc_id = d.doc_id
       |LEFT JOIN rs ON rs.doc_id = d.doc_id)""".stripMargin

  /** Jaccard-verification CTE chain over candidate pairs `cand(d1,d2)`
    * against the shingle index named `idx` (mirrors Dedup.verifyJaccard;
    * `idx` = the df-capped index for the ngram queries).
    */
  private def jaccardCte(idx: String = "sh") =
    s"""cnt AS (SELECT doc_id, count(*) AS n FROM $idx GROUP BY doc_id),
       |inter AS (SELECT c.d1, c.d2, count(*) AS i
       |          FROM cand c
       |          JOIN $idx s1 ON s1.doc_id = c.d1
       |          JOIN $idx s2 ON s2.doc_id = c.d2 AND s2.shingle = s1.shingle
       |          GROUP BY c.d1, c.d2),
       |jac AS (SELECT d1, d2,
       |          round(CAST(i AS DOUBLE) / CAST(c1.n + c2.n - i AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS jaccard
       |        FROM inter
       |        JOIN cnt c1 ON c1.doc_id = d1
       |        JOIN cnt c2 ON c2.doc_id = d2)""".stripMargin

  /** df-capped shingle index (mirrors the Dedup.MaxShingleDf stop-shingle
    * cap; inactive at the test SFs — max observed df is 25).
    */
  private val shCappedCte =
    s"""shc AS (SELECT doc_id, shingle FROM sh
       |        QUALIFY count(*) OVER (PARTITION BY shingle) <= ${Dedup.MaxShingleDf})""".stripMargin

  /** Shared oracle CTEs: embeddings widened to double + norms (mirrors
    * Similarity.normed).
    */
  private val embCte =
    """WITH e AS (SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT vec_id, label, v,
      |  sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)""".stripMargin

  private def dotSql(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), z -> z[1] * z[2]))"

  /** k-center greedy oracle base: seed = min-vec_id row (payload
    * carried so no stage rescans the corpus for center vectors) +
    * initial 1e-6-integer distance state s1 over `rel` (mirrors
    * Coreset.seeded).
    */
  private def kcBaseSql(rel: String): String =
    s"""seed AS MATERIALIZED (SELECT vec_id, v, nrm FROM $rel
       |  ORDER BY vec_id LIMIT 1),
       |s1 AS MATERIALIZED (SELECT x.vec_id, x.v, x.nrm,
       |    1000000 - CAST(round(${dotSql("x.v", "c.v")}
       |      / (x.nrm * c.nrm) * 1.0e6, 0) AS BIGINT) AS dmin6
       |  FROM $rel x JOIN seed c ON x.vec_id <> c.vec_id)""".stripMargin

  /** Greedy stages i = from..to: pick p_i (1-row argmax — ORDER BY
    * dmin6 DESC, vec_id LIMIT 1, the exact integer tie-break) from
    * state s_i, then state s_{i+1} = least-fold of s_i against the
    * pick (mirrors Coreset.greedy's per-round update), MATERIALIZED
    * per stage (the BT-oracle lesson).
    */
  private def kcStagesSql(from: Int, to: Int): String =
    (from to to).map { i =>
      s"""p$i AS MATERIALIZED (SELECT vec_id, v, nrm, dmin6 FROM s$i
         |  ORDER BY dmin6 DESC, vec_id LIMIT 1),
         |s${i + 1} AS MATERIALIZED (SELECT x.vec_id, x.v, x.nrm,
         |    least(x.dmin6, 1000000 - CAST(round(${dotSql("x.v", "c.v")}
         |      / (x.nrm * c.nrm) * 1.0e6, 0) AS BIGINT)) AS dmin6
         |  FROM s$i x JOIN p$i c ON x.vec_id <> c.vec_id)""".stripMargin
    }.mkString(",\n")

  /** The selected-centers union: seed as rank 1, then each pick in
    * order — rank is positional over the concatenated pick index
    * lists (mirrors Coreset.picksToDf).
    */
  private def kcPicksUnionSql(picks: Seq[Int]): String = {
    val head = "SELECT CAST(1 AS INTEGER) AS rank, " +
      "(SELECT vec_id FROM seed) AS vec_id, " +
      "CAST(NULL AS DOUBLE) AS radius"
    val rest = picks.zipWithIndex.map { case (p, j) =>
      s"UNION ALL SELECT CAST(${j + 2} AS INTEGER), " +
        s"(SELECT vec_id FROM p$p), (SELECT dmin6 FROM p$p) / 1.0e6"
    }
    (head +: rest).mkString("\n")
  }

  private lazy val kcenterSelectSql: String =
    s"""$embCte,
       |${kcBaseSql("n")},
       |${kcStagesSql(1, 7)}
       |SELECT rank, vec_id, radius FROM (
       |${kcPicksUnionSql(1 to 7)}) ORDER BY rank""".stripMargin

  /** KNN-Shapley oracle CTEs (mirror Valuation.{pairs,exactS12}):
    * broadcast-shaped test panel × train fan-out with 1e-6-pinned
    * cosines, then the exact closed-form recursion as 1e-12-integer
    * increments suffix-summed in BIGINTs.
    */
  private val shapPairsCte =
    s"""sq AS (SELECT vec_id AS test_id, label AS test_label, v AS qv,
       |         nrm AS qn FROM n
       |       WHERE vec_id % 50 = 7 AND vec_id < 50000),
       |st AS (SELECT vec_id AS train_id, label AS train_label, v, nrm
       |       FROM n WHERE NOT (vec_id % 50 = 7 AND vec_id < 50000)),
       |sp AS (SELECT q.test_id, t.train_id, t.train_label,
       |         CAST(round((${dotSql("q.qv", "t.v")} / (q.qn * t.nrm))
       |           * 1.0e6, 0) AS BIGINT) AS cos6,
       |         CASE WHEN t.train_label = q.test_label THEN 1 ELSE 0 END
       |           AS a
       |       FROM st t, sq q)""".stripMargin

  private lazy val shapTruncSql: String =
    s"""$embCte,
         |$shapPairsCte,
         |spb AS (SELECT *, CAST(floor((cos6 + 1000000) / 8192.0)
         |          AS BIGINT) AS bkt FROM sp),
         |sl AS (SELECT * FROM spb QUALIFY row_number() OVER (
         |        PARTITION BY test_id, bkt
         |        ORDER BY cos6 DESC, train_id) <= 64),
         |sr2 AS (SELECT * FROM (SELECT *, row_number() OVER (
         |          PARTITION BY test_id ORDER BY cos6 DESC, train_id)
         |          AS rk FROM sl) z WHERE rk <= 64),
         |sr3 AS (SELECT *, coalesce(lead(a) OVER (
         |          PARTITION BY test_id ORDER BY cos6 DESC, train_id), 0)
         |          AS a_nx FROM sr2),
         |sterm AS (SELECT *, CAST(round((CAST((a - a_nx) * least(5, rk)
         |            AS DOUBLE) / CAST(5 * rk AS DOUBLE)) * 1.0e12, 0)
         |            AS BIGINT) AS t12 FROM sr3),
         |ss AS (SELECT *, sum(t12) OVER (PARTITION BY test_id
         |         ORDER BY cos6 ASC, train_id DESC
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |         AS s12 FROM sterm),
         |sagg AS (SELECT train_id, train_label AS label,
         |           count(*) AS n_tests, CAST(sum(s12) AS BIGINT) AS s12sum
         |         FROM ss GROUP BY 1, 2),
         |pnl AS (SELECT count(*) AS n_panel FROM sq)
         |SELECT train_id, label, n_tests,
         |  ${safe6("s12sum / (n_panel * 1.0e12)")} AS shapley
         |FROM sagg, pnl ORDER BY train_id""".stripMargin

  /** Shared fidelity-oracle scaffolding: pairs + exact chain + exact
    * pinned values (sve) + the panel count. */
  private lazy val shapFidPrefix: String =
    s"""$embCte,
       |$shapPairsCte,
       |$shapExactCte,
       |sve AS (SELECT train_id, label,
       |          CAST(round((${safe6("s12sum / (n_tests * 1.0e12)")})
       |            * 1.0e6, 0) AS BIGINT) AS e6
       |        FROM sagg),
       |pnl AS (SELECT count(*) AS n_panel FROM sq)""".stripMargin

  /** One truncated-value chain at rank `r`, CTE names suffixed `sfx`,
    * ending at sj$sfx = per-train exact-vs-truncated deltas (d6). */
  private def shapFidChain(r: Int, sfx: String): String =
    s"""spb$sfx AS (SELECT *, CAST(floor((cos6 + 1000000) / 8192.0)
       |           AS BIGINT) AS bkt FROM sp),
       |sl$sfx AS (SELECT * FROM spb$sfx QUALIFY row_number() OVER (
       |         PARTITION BY test_id, bkt
       |         ORDER BY cos6 DESC, train_id) <= $r),
       |sr2$sfx AS (SELECT * FROM (SELECT *, row_number() OVER (
       |           PARTITION BY test_id ORDER BY cos6 DESC, train_id)
       |           AS rk FROM sl$sfx) z WHERE rk <= $r),
       |sr3$sfx AS (SELECT *, coalesce(lead(a) OVER (
       |           PARTITION BY test_id ORDER BY cos6 DESC, train_id), 0)
       |           AS a_nx FROM sr2$sfx),
       |sterm$sfx AS (SELECT *, CAST(round((CAST((a - a_nx) * least(5, rk)
       |             AS DOUBLE) / CAST(5 * rk AS DOUBLE)) * 1.0e12, 0)
       |             AS BIGINT) AS t12 FROM sr3$sfx),
       |ss$sfx AS (SELECT *, sum(t12) OVER (PARTITION BY test_id
       |          ORDER BY cos6 ASC, train_id DESC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |          AS s12 FROM sterm$sfx),
       |sagg$sfx AS (SELECT train_id, count(*) AS n_tests,
       |            CAST(sum(s12) AS BIGINT) AS s12sum
       |          FROM ss$sfx GROUP BY 1),
       |sv$sfx AS (SELECT train_id,
       |          CAST(round((${safe6("s12sum / (n_panel * 1.0e12)")})
       |            * 1.0e6, 0) AS BIGINT) AS t6
       |        FROM sagg$sfx, pnl),
       |sj$sfx AS (SELECT sve.label, sve.e6, sv$sfx.t6,
       |         abs(sve.e6 - coalesce(sv$sfx.t6, 0)) AS d6
       |       FROM sve LEFT JOIN sv$sfx USING (train_id))""".stripMargin

  private val shapExactCte =
    s"""sr AS (SELECT *, row_number() OVER w AS rk,
       |         count(*) OVER (PARTITION BY test_id) AS n_train,
       |         coalesce(lead(a) OVER w, 0) AS a_nx
       |       FROM sp WINDOW w AS (PARTITION BY test_id
       |         ORDER BY cos6 DESC, train_id)),
       |sterm AS (SELECT *, CAST(CASE WHEN rk < n_train
       |    THEN round((CAST((a - a_nx) * least(5, rk) AS DOUBLE)
       |         / CAST(5 * rk AS DOUBLE)) * 1.0e12, 0)
       |    ELSE round((CAST(a AS DOUBLE) / CAST(n_train AS DOUBLE))
       |         * 1.0e12, 0)
       |  END AS BIGINT) AS t12 FROM sr),
       |ss AS (SELECT *, sum(t12) OVER (PARTITION BY test_id
       |         ORDER BY cos6 ASC, train_id DESC
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |         AS s12 FROM sterm),
       |sagg AS (SELECT train_id, train_label AS label,
       |           count(*) AS n_tests, CAST(sum(s12) AS BIGINT) AS s12sum
       |         FROM ss GROUP BY 1, 2)""".stripMargin

  /** The full bitext-mining oracle (mirrors Similarity.bitextMine)
    * over `docsRel` as the documents relation — shared by the plain
    * miner and the retire composition (which passes the surviving
    * slice; all sides derive from the banded index, so filtering the
    * docs relation retires candidates AND re-normalizes the k-NN
    * neighborhood means, exactly like serving off the anti-joined
    * index).
    */
  /** The shared (e, n, nl) normalized lang-joined vector CTEs. */
  private def bitextCommonCtes(docsRel: String): String =
    s"""e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |n AS (SELECT vec_id, v,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
       |nl AS (SELECT n.vec_id, n.v, n.nrm, d.lang
       |       FROM n JOIN $docsRel d ON d.doc_id = n.vec_id)""".stripMargin

  /** The margin-scoring chain over candidate relation `cand(src_id,
    * tgt_id)` (mirrors Similarity.bitextMarginScore), CTE names
    * prefixed `pfx` so the recall audit can score TWO candidate sets
    * (LSH-retrieved and exhaustive) in one query — ends at `${pfx}mr`
    * (the rank column); mined pairs are `rank = 1 AND m6 > 1000000`.
    */
  private def bitextScoreCtes(cand: String, pfx: String): String =
    s"""${pfx}c6t AS (SELECT * FROM (
       |          SELECT $cand.src_id, $cand.tgt_id,
       |            CAST(round(${dotSql("x.v", "y.v")} / (x.nrm * y.nrm)
       |              * 1.0e6, 0) AS BIGINT) AS c6
       |          FROM $cand JOIN n x ON x.vec_id = $cand.src_id
       |                    JOIN n y ON y.vec_id = $cand.tgt_id)
       |        WHERE c6 > 0),
       |${pfx}kn AS (SELECT *,
       |         row_number() OVER (PARTITION BY src_id
       |           ORDER BY c6 DESC, tgt_id) AS rs,
       |         row_number() OVER (PARTITION BY tgt_id
       |           ORDER BY c6 DESC, src_id) AS rt
       |       FROM ${pfx}c6t),
       |${pfx}sa AS (SELECT src_id, CAST(sum(c6) AS BIGINT) AS s_sum6,
       |         count(*) AS s_cnt FROM ${pfx}kn WHERE rs <= 4
       |       GROUP BY src_id),
       |${pfx}ta AS (SELECT tgt_id, CAST(sum(c6) AS BIGINT) AS t_sum6,
       |         count(*) AS t_cnt FROM ${pfx}kn WHERE rt <= 4
       |       GROUP BY tgt_id),
       |${pfx}mg AS (SELECT c.src_id, c.tgt_id, c.c6,
       |         CAST(round(2.0 * c.c6 * sa.s_cnt * ta.t_cnt
       |           / (sa.s_sum6 * ta.t_cnt + ta.t_sum6 * sa.s_cnt)
       |           * 1.0e6, 0) AS BIGINT) AS m6
       |       FROM ${pfx}c6t c JOIN ${pfx}sa sa USING (src_id)
       |                        JOIN ${pfx}ta ta USING (tgt_id)),
       |${pfx}mr AS (SELECT *, row_number() OVER (PARTITION BY src_id
       |         ORDER BY m6 DESC, tgt_id) AS rank FROM ${pfx}mg)"""
      .stripMargin

  /** The LSH retrieval chain (mirrors Similarity.bitextCandidates over
    * a bitextBands index): hyperplane bits → band keys → per-side
    * rank-capped bucket membership → bipartite candidates as `cand`.
    * `srcExtra` injects a source-side membership restriction (the
    * recall audit's sampled sub-corpus) BEFORE the rank cap — exactly
    * what mining a restricted docs frame does.
    */
  private def bitextLshCandCtes(srcExtra: String = ""): String =
    s"""hp AS (SELECT gb.b, gj.j,
       |         CASE WHEN CAST('0x' || substr(md5('hp' || gb.b || '_' || gj.j), 1, 15) AS BIGINT) % 2 = 0
       |              THEN 1.0 ELSE -1.0 END AS r
       |       FROM generate_series(0, 63) gb(b), generate_series(0, 63) gj(j)),
       |hpl AS (SELECT b, list(r ORDER BY j) AS hv FROM hp GROUP BY b),
       |bits AS (SELECT nl.vec_id, hpl.b,
       |           CASE WHEN list_sum(list_transform(list_zip(nl.v, hpl.hv), z -> z[1] * z[2])) >= 0
       |                THEN '1' ELSE '0' END AS bit
       |         FROM nl, hpl),
       |bandk AS (SELECT vec_id, b // 4 AS band,
       |            string_agg(bit, '' ORDER BY b) AS bkey
       |          FROM bits GROUP BY vec_id, b // 4),
       |srcb AS (SELECT band, bkey, vec_id AS src_id FROM (
       |           SELECT bk.band, bk.bkey, bk.vec_id,
       |             row_number() OVER (PARTITION BY bk.band, bk.bkey
       |               ORDER BY bk.vec_id) AS rk
       |           FROM bandk bk JOIN nl ON nl.vec_id = bk.vec_id
       |           WHERE nl.lang = 'en'$srcExtra)
       |         WHERE rk <= ${graft.operators.Dedup.MaxBucketSize}),
       |tgtb AS (SELECT band, bkey, vec_id AS tgt_id FROM (
       |           SELECT bk.band, bk.bkey, bk.vec_id,
       |             row_number() OVER (PARTITION BY bk.band, bk.bkey
       |               ORDER BY bk.vec_id) AS rk
       |           FROM bandk bk JOIN nl ON nl.vec_id = bk.vec_id
       |           WHERE nl.lang = 'es')
       |         WHERE rk <= ${graft.operators.Dedup.MaxBucketSize}),
       |cand AS (SELECT DISTINCT src_id, tgt_id
       |         FROM srcb JOIN tgtb USING (band, bkey))""".stripMargin

  private def bitextMineSql(docsRel: String): String =
    s"""WITH ${bitextCommonCtes(docsRel)},
       |${bitextLshCandCtes()},
       |${bitextScoreCtes("cand", "")}
       |SELECT src_id AS src_doc, tgt_id AS tgt_doc,
       |  CAST(c6 AS DOUBLE) / 1000000.0 AS cosine,
       |  CAST(m6 AS DOUBLE) / 1000000.0 AS margin
       |FROM mr WHERE rank = 1 AND m6 > 1000000
       |ORDER BY src_doc""".stripMargin

  /** The bitext recall-audit oracle (mirrors
    * Similarity.bitextRecallAudit): the SAME common vectors feed BOTH
    * the LSH chain (scored under prefix "") and the exhaustive
    * bipartite cross (prefix "b"); mined-pair sets compared as one
    * summary row.
    */
  private def bitextRecallAuditSql(docsRel: String): String =
    s"""WITH ${bitextCommonCtes(docsRel)},
       |${bitextLshCandCtes(
            s" AND ${h60("'btxsmp_' || bk.vec_id")} % 100 < 25")},
       |${bitextScoreCtes("cand", "")},
       |bcand AS (SELECT s.vec_id AS src_id, t.vec_id AS tgt_id
       |          FROM nl s, nl t
       |          WHERE s.lang = 'en' AND t.lang = 'es'
       |            AND ${h60("'btxsmp_' || s.vec_id")} % 100 < 25),
       |${bitextScoreCtes("bcand", "b")},
       |lshp AS (SELECT src_id, tgt_id FROM mr
       |         WHERE rank = 1 AND m6 > 1000000),
       |trup AS (SELECT src_id, tgt_id FROM bmr
       |         WHERE rank = 1 AND m6 > 1000000)
       |SELECT nt.n AS n_truth, nl2.n AS n_lsh, nh.n AS n_hit,
       |  round(CAST(nh.n AS DOUBLE) / CAST(nt.n AS DOUBLE)
       |    * 1.0e6, 0) / 1.0e6 AS recall_at1,
       |  round(CAST(nh.n AS DOUBLE)
       |    / CAST(nt.n + nl2.n - nh.n AS DOUBLE)
       |    * 1.0e6, 0) / 1.0e6 AS pair_jaccard
       |FROM (SELECT count(*) AS n FROM trup) nt,
       |     (SELECT count(*) AS n FROM lshp) nl2,
       |     (SELECT count(*) AS n
       |      FROM trup JOIN lshp USING (src_id, tgt_id)) nh""".stripMargin


  /** Hyperplane-LSH candidate chain (mirrors Similarity.cosineNearDupLsh):
    * 64 md5-seeded hyperplane bits → 16 bands of 4 bits → capped bucket
    * pairs (star fallback) → verified cosines as CTE `p(id1, id2,
    * cosine)`. Shared by the dedup_embed_lsh and knn_pagerank oracles.
    */
  private lazy val embLshPairsCte =
    s"""$embCte,
       |hp AS (SELECT gb.b, gj.j,
       |         CASE WHEN CAST('0x' || substr(md5('hp' || gb.b || '_' || gj.j), 1, 15) AS BIGINT) % 2 = 0
       |              THEN 1.0 ELSE -1.0 END AS r
       |       FROM generate_series(0, 63) gb(b), generate_series(0, 63) gj(j)),
       |hpl AS (SELECT b, list(r ORDER BY j) AS hv FROM hp GROUP BY b),
       |bits AS (SELECT n.vec_id, hpl.b,
       |           CASE WHEN list_sum(list_transform(list_zip(n.v, hpl.hv), z -> z[1] * z[2])) >= 0
       |                THEN '1' ELSE '0' END AS bit
       |         FROM n, hpl),
       |bandk AS (SELECT vec_id, b // 4 AS band,
       |            string_agg(bit, '' ORDER BY b) AS bkey
       |          FROM bits GROUP BY vec_id, b // 4),
       |bst AS (SELECT vec_id, band, bkey,
       |          count(*) OVER (PARTITION BY band, bkey) AS bn,
       |          min(vec_id) OVER (PARTITION BY band, bkey) AS bmin
       |        FROM bandk),
       |cand AS (SELECT a.vec_id AS id1, c.vec_id AS id2
       |         FROM bst a JOIN bst c
       |           ON a.band = c.band AND a.bkey = c.bkey AND a.vec_id < c.vec_id
       |         WHERE a.bn <= ${Dedup.MaxBucketSize}
       |         UNION
       |         SELECT bmin AS id1, vec_id AS id2
       |         FROM bst WHERE bn > ${Dedup.MaxBucketSize} AND vec_id > bmin),
       |p AS (SELECT cand.id1, cand.id2,
       |        ${safe6(dotSql("x.v", "y.v") + " / (x.nrm * y.nrm)")} AS cosine
       |      FROM cand
       |      JOIN n x ON x.vec_id = cand.id1
       |      JOIN n y ON y.vec_id = cand.id2)""".stripMargin

  /** Squared L2 distance between two lists (mirrors Similarity.l2sq's
    * sequential zip-fold; caller rounds).
    */
  private def pqDistSql(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), z -> (z[1] - z[2]) * (z[1] - z[2])))"

  /** Product-quantization oracle chain (mirrors Similarity.annPqAdc):
    * 4×16-dim subspaces → K=16 codebooks (init = first vec_ids, one
    * Lloyd step) → corpus codes → ADC lookup table for queries
    * vec_id<10 → summed approx distance per (query, neighbor) in `sc`.
    */
  private val pqChainCte =
    s"""$embCte,
       |subs AS (SELECT vec_id, g.m AS m,
       |           list_slice(v, g.m * 16 + 1, g.m * 16 + 16) AS sv
       |         FROM n, unnest(generate_series(0, 3)) AS g(m)),
       |cb0 AS (SELECT m, CAST(vec_id AS INT) AS cell, sv AS cv
       |        FROM subs WHERE vec_id < 16),
       |a0 AS (SELECT s.vec_id, s.m, s.sv, c.cell,
       |         ${safe6(pqDistSql("s.sv", "c.cv"))} AS d2
       |       FROM subs s JOIN cb0 c ON c.m = s.m),
       |a0r AS (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cell) AS rn
       |        FROM a0),
       |a0f AS (SELECT vec_id, m, sv, cell FROM a0r WHERE rn = 1),
       |cbp AS (SELECT m, cell, g.pos, avg(sv[g.pos]) AS cx
       |        FROM a0f, unnest(generate_series(1, 16)) AS g(pos)
       |        GROUP BY m, cell, g.pos),
       |cb AS (SELECT m, cell, list(${safe6("cx")} ORDER BY pos) AS cv
       |       FROM cbp GROUP BY m, cell),
       |e1 AS (SELECT s.vec_id, s.m, c.cell,
       |         ${safe6(pqDistSql("s.sv", "c.cv"))} AS d2
       |       FROM subs s JOIN cb c ON c.m = s.m),
       |e1r AS (SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cell) AS rn
       |        FROM e1),
       |enc AS (SELECT vec_id, m, cell AS code FROM e1r WHERE rn = 1),
       |dtab AS (SELECT s.vec_id AS query_id, s.m, c.cell,
       |           ${safe6(pqDistSql("s.sv", "c.cv"))} AS d2
       |         FROM subs s JOIN cb c ON c.m = s.m
       |         WHERE s.vec_id < 10),
       |sc AS (SELECT d.query_id, e.vec_id AS neighbor_id,
       |         CAST(sum(CAST(d.d2 AS DECIMAL(18,6))) AS DOUBLE) AS approx_dist
       |       FROM enc e JOIN dtab d ON d.m = e.m AND d.cell = e.code
       |       WHERE e.vec_id <> d.query_id
       |       GROUP BY d.query_id, e.vec_id)""".stripMargin

  /** k-means oracle steps (mirror Similarity.assignCells /
    * kmeansCentroids): one Lloyd assignment CTE and one means CTE.
    */
  private def kmAssignCte(name: String, cents: String, src: String = "n") =
    s"""${name}_s AS (SELECT n.vec_id, n.v, n.nrm, c.cell,
       |  ${safe6(dotSql("n.v", "c.cv") + " / (n.nrm * c.c_nrm)")} AS cs
       |  FROM $src n, $cents c),
       |${name}_r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
       |  FROM ${name}_s),
       |$name AS (SELECT vec_id, v, nrm, cell FROM ${name}_r WHERE rn = 1)""".stripMargin

  private def kmMeansCte(name: String, assign: String) =
    s"""${name}_p AS (SELECT cell, g.pos, avg(v[g.pos]) AS cx
       |  FROM $assign, unnest(generate_series(1, len(v))) AS g(pos)
       |  GROUP BY cell, g.pos),
       |${name}_l AS (SELECT cell, list(${safe6("cx")} ORDER BY pos) AS cv
       |  FROM ${name}_p GROUP BY cell),
       |$name AS (SELECT cell, cv,
       |  sqrt(list_sum(list_transform(cv, x -> x * x))) AS c_nrm
       |  FROM ${name}_l)""".stripMargin

  /** Sessionization oracle (mirrors Sessions.stats AND
    * Sessions.statsNative — proven identical in SessionsSpec).
    */
  private val sessionsOracleSql =
    s"""$tradesCte,
       |t2 AS (SELECT symbol, event_time, size,
       |         lag(event_time) OVER (PARTITION BY symbol ORDER BY event_time) AS prev_ts
       |       FROM trades),
       |t3 AS (SELECT *, CASE WHEN prev_ts IS NULL
       |         OR CAST(floor(epoch(event_time)) AS BIGINT)
       |          - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
       |         THEN 1 ELSE 0 END AS ns FROM t2),
       |t4 AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY symbol ORDER BY event_time
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
       |       FROM t3)
       |SELECT symbol, session_id,
       |  min(event_time) AS session_start, max(event_time) AS session_end,
       |  count(*) AS n_trades,
       |  CAST(sum(CAST(size AS DECIMAL(20,6))) AS DOUBLE) AS volume
       |FROM t4 GROUP BY symbol, session_id
       |ORDER BY symbol, session_id""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "gold_bars_1m" ->
      s"""$barsCte
         |SELECT * FROM bars ORDER BY symbol, bar_start""".stripMargin,

    "bronze_audit" ->
      """SELECT 'crypto.trades' AS topic,
        |  CAST(user_id % 4 AS INT) AS "partition",
        |  event_id AS "offset",
        |  CAST(ts AS TIMESTAMP) AS ts_kafka,
        |  0 AS ts_type,
        |  'SYM_' || CAST(user_id AS VARCHAR) AS key,
        |  props AS value_raw
        |FROM events ORDER BY "offset"""".stripMargin,

    "silver_parse" ->
      """WITH e AS (SELECT *, epoch_ms(CAST(ts AS TIMESTAMP)) AS ms FROM events)
        |SELECT event_id AS "offset", 'kraken' AS exchange,
        |  'SYM_' || CAST(user_id AS VARCHAR) AS symbol,
        |  CASE WHEN event_id % 2 = 0 THEN 'buy' ELSE 'sell' END AS side,
        |  CASE WHEN event_id % 3 = 0 THEN 'market' ELSE 'limit' END AS order_type,
        |  value AS price,
        |  CAST(1 AS DOUBLE) + CAST(event_id % 100 AS DOUBLE) / CAST(100 AS DOUBLE) AS size,
        |  make_timestamp(ms * 1000) AS event_time,
        |  make_timestamp((ms + event_id % 500) * 1000) AS ingest_time,
        |  CAST(make_timestamp(ms * 1000) AS DATE) AS event_date
        |FROM e ORDER BY "offset"""".stripMargin,

    "silver_dedup" ->
      s"""$tradesCte
         |SELECT DISTINCT symbol, event_time, price, size, side
         |FROM trades
         |ORDER BY symbol, event_time, price, size, side""".stripMargin,

    // mirrors the wire construction (kafkaWireFromEvents): symbol/ts are
    // never null by construction and to_json output is always valid, so
    // the oracle's cascade evaluates the same buckets over the source
    // columns the wire serializes
    "silver_reject_audit" ->
      """WITH c AS (SELECT CASE
        |    WHEN 'SYM_' || CAST(user_id AS VARCHAR) IS NULL
        |      THEN 'missing_symbol'
        |    WHEN ts IS NULL THEN 'missing_event_time'
        |    WHEN value IS NULL OR value <= 0 THEN 'bad_price'
        |    WHEN (CAST(1 AS DOUBLE) + CAST(event_id % 100 AS DOUBLE)
        |      / CAST(100 AS DOUBLE)) <= 0 THEN 'bad_size'
        |    ELSE 'ok' END AS reason
        |  FROM events),
        |r(severity, reason) AS (VALUES
        |  (0, 'malformed_json'), (1, 'missing_symbol'),
        |  (2, 'missing_event_time'), (3, 'bad_price'),
        |  (4, 'bad_size'), (5, 'ok'))
        |SELECT severity, reason, CAST(coalesce(n, 0) AS BIGINT) AS n
        |FROM r LEFT JOIN
        |  (SELECT reason, count(*) AS n FROM c GROUP BY reason) g
        |  USING (reason)
        |ORDER BY severity""".stripMargin,

    "symbol_normalize" ->
      """WITH s AS (SELECT DISTINCT CASE CAST(user_id % 6 AS INT)
        |    WHEN 0 THEN 'XBT/USDT' WHEN 1 THEN 'ETH-USD' WHEN 2 THEN 'SOLUSDT'
        |    WHEN 3 THEN 'XDGEUR' WHEN 4 THEN 'ADA/BTC' ELSE 'BTCUSDC' END AS symbol
        |  FROM events)
        |SELECT symbol,
        |  CASE symbol WHEN 'XBT/USDT' THEN 'XBT' WHEN 'ETH-USD' THEN 'ETH'
        |    WHEN 'SOLUSDT' THEN 'SOL' WHEN 'XDGEUR' THEN 'XDG'
        |    WHEN 'ADA/BTC' THEN 'ADA' ELSE 'BTC' END AS base,
        |  CASE symbol WHEN 'XBT/USDT' THEN 'USDT' WHEN 'ETH-USD' THEN 'USD'
        |    WHEN 'SOLUSDT' THEN 'USDT' WHEN 'XDGEUR' THEN 'EUR'
        |    WHEN 'ADA/BTC' THEN 'BTC' ELSE 'USDC' END AS quote,
        |  CASE symbol WHEN 'XBT/USDT' THEN 'BTC_USDT' WHEN 'ETH-USD' THEN 'ETH_USD'
        |    WHEN 'SOLUSDT' THEN 'SOL_USDT' WHEN 'XDGEUR' THEN 'DOGE_EUR'
        |    WHEN 'ADA/BTC' THEN 'ADA_BTC' ELSE 'BTC_USDC' END AS normalized
        |FROM s ORDER BY symbol""".stripMargin,

    "bar_analytics" ->
      s"""$analyticsCte
         |SELECT * FROM anom ORDER BY symbol, bar_start""".stripMargin,

    "bar_analytics_joined" ->
      s"""$analyticsCte
         |SELECT symbol, bar_start, prev_close, ret, logret, ret_mu, ret_sd,
         |  z_ret, vol_mu, vol_sd, z_vol, next_open, gap_pct,
         |  is_return_anom, is_volume_anom
         |FROM anom ORDER BY symbol, bar_start""".stripMargin,

    "bar_rank_profile" ->
      s"""$barsCte,
         |p AS (SELECT symbol, close,
         |        CAST(ntile(4) OVER w AS INT) AS quartile,
         |        percent_rank() OVER w AS pr,
         |        cume_dist() OVER w AS cd
         |      FROM bars
         |      WINDOW w AS (PARTITION BY symbol ORDER BY close, bar_start))
         |SELECT symbol, quartile, count(*) AS n_bars,
         |  min(close) AS close_lo, max(close) AS close_hi,
         |  round(max(pr) * 1.0e6, 0) / 1.0e6 AS pr_hi, round(max(cd) * 1.0e6, 0) / 1.0e6 AS cd_hi
         |FROM p GROUP BY symbol, quartile
         |ORDER BY symbol, quartile""".stripMargin,

    "bar_indicators" -> {
      val ws = graft.operators.Analytics.ewmaWeights(20)
      val wList = ws.map(w => s"CAST('${java.lang.Double.toString(w)}' AS DOUBLE)")
        .mkString("[", ", ", "]")
      val sumW = s"CAST('${java.lang.Double.toString(ws.sum)}' AS DOUBLE)"
      s"""$barsCte,
         |i1 AS (SELECT symbol, bar_start, close,
         |  CAST(floor(epoch(bar_start)) AS BIGINT) AS ts_s FROM bars),
         |i2 AS (SELECT symbol, bar_start, ts_s, close,
         |  count(close) OVER w20 AS n20,
         |  round((avg(close) OVER w20) * 1.0e6, 0) / 1.0e6 AS mid,
         |  round((stddev_samp(close) OVER w20) * 1.0e6, 0) / 1.0e6 AS sd,
         |  list(close) OVER w20 AS cl,
         |  close - lag(close) OVER (PARTITION BY symbol ORDER BY ts_s) AS diff
         |  FROM i1
         |  WINDOW w20 AS (PARTITION BY symbol ORDER BY ts_s ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
         |i3 AS (SELECT *,
         |  CASE WHEN diff IS NOT NULL THEN CASE WHEN diff > 0 THEN diff ELSE 0 END END AS gain,
         |  CASE WHEN diff IS NOT NULL THEN CASE WHEN diff < 0 THEN -diff ELSE 0 END END AS loss
         |  FROM i2),
         |i4 AS (SELECT *,
         |  count(diff) OVER w14 AS nd,
         |  round((avg(gain) OVER w14) * 1.0e6, 0) / 1.0e6 AS ag,
         |  round((avg(loss) OVER w14) * 1.0e6, 0) / 1.0e6 AS al
         |  FROM i3
         |  WINDOW w14 AS (PARTITION BY symbol ORDER BY ts_s ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         |SELECT symbol, bar_start, close,
         |  CASE WHEN n20 = 20 THEN mid END AS boll_mid,
         |  CASE WHEN n20 = 20 THEN sd END AS boll_sd,
         |  CASE WHEN n20 = 20 THEN round((mid + 2 * sd) * 1.0e6, 0) / 1.0e6 END AS boll_up,
         |  CASE WHEN n20 = 20 THEN round((mid - 2 * sd) * 1.0e6, 0) / 1.0e6 END AS boll_dn,
         |  CASE WHEN nd = 14 THEN
         |    CASE WHEN al > 0 THEN round((100 - 100 / (1 + ag / al)) * 1.0e6, 0) / 1.0e6
         |         ELSE 100.0 END END AS rsi14,
         |  CASE WHEN n20 = 20 THEN
         |    round(list_sum(list_transform(list_zip(list_reverse(cl), $wList),
         |      z -> z[1] * z[2])) / $sumW * 1.0e6, 0) / 1.0e6 END AS ewma20
         |FROM i4 ORDER BY symbol, bar_start""".stripMargin
    },

    "bars_last_k" ->
      s"""$barsCte,
         |r AS (SELECT * FROM bars WHERE symbol = 'SYM_7'
         |      ORDER BY bar_start DESC LIMIT 180)
         |SELECT * FROM r ORDER BY bar_start""".stripMargin,

    "region_revenue_rollup" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS total_revenue,
        |  count(*) AS order_count
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "status_priority_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE)
        |    AS total_revenue,
        |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q4_returned_orders" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q17_small_qty_revenue" ->
      """WITH a AS (SELECT l_partkey,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE)
        |    / count(*) AS avg_qty
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT p_brand,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE)
        |    AS small_qty_revenue,
        |  count(*) AS n_small
        |FROM lineitem
        |JOIN a USING (l_partkey)
        |JOIN part ON p_partkey = l_partkey
        |WHERE l_quantity < 0.2 * avg_qty
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n_lineitems
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q19_disjunctive" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n_lineitems
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 40)
        |   OR (p_brand = 'Brand#5' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 60)""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lineitems
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24""".stripMargin,

    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  round(
        |    CAST(sum(CASE WHEN sn.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice AS DECIMAL(12,2))
        |        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
        |      ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |      AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS mkt_share,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |    AS DOUBLE) AS total_volume
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'EUROPE'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
        |GROUP BY 1 ORDER BY o_year""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |      AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q2_min_cost_supplier" ->
      s"""WITH $psCte,
         |rs AS (SELECT s_suppkey, s_name, s_acctbal, n_name
         |       FROM supplier
         |       JOIN nation ON s_nationkey = n_nationkey
         |       JOIN region ON n_regionkey = r_regionkey
         |         AND r_name = 'EUROPE'),
         |ir AS (SELECT * FROM ps JOIN rs ON ps_suppkey = s_suppkey),
         |mc AS (SELECT ps_partkey AS mc_partkey,
         |         min(ps_supplycost_cents) AS min_cost_cents
         |       FROM ir GROUP BY 1)
         |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
         |  CAST(min_cost_cents AS DOUBLE) / 100.0 AS supplycost
         |FROM ir
         |JOIN mc ON ps_partkey = mc_partkey
         |  AND ps_supplycost_cents = min_cost_cents
         |JOIN part ON ps_partkey = p_partkey AND p_size = 15
         |ORDER BY s_acctbal DESC, p_partkey, s_name
         |LIMIT 100""".stripMargin,

    "q9_product_profit" ->
      s"""WITH $psCte
         |SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
         |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
         |    AS DOUBLE)
         |  - CAST(sum(ps_supplycost_cents * CAST(l_quantity AS BIGINT))
         |    AS DOUBLE) / 100.0 AS profit,
         |  count(*) AS n_lineitems
         |FROM lineitem
         |JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
         |JOIN part ON ps_partkey = p_partkey AND p_type = 'LARGE'
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY 1, 2
         |ORDER BY n_name, o_year DESC""".stripMargin,

    "q11_important_stock" ->
      s"""WITH $psCte,
         |ns AS (SELECT s_suppkey FROM supplier
         |       JOIN nation ON s_nationkey = n_nationkey
         |         AND n_name = 'NATION_5'),
         |st AS (SELECT ps_partkey,
         |         ps_supplycost_cents * ps_availqty AS value_cents
         |       FROM ps JOIN ns ON ps_suppkey = s_suppkey),
         |pp AS (SELECT ps_partkey,
         |         CAST(sum(value_cents) AS BIGINT) AS part_value_cents
         |       FROM st GROUP BY 1)
         |SELECT ps_partkey,
         |  CAST(part_value_cents AS DOUBLE) / 100.0 AS stock_value
         |FROM pp
         |WHERE CAST(part_value_cents AS DOUBLE) >
         |  (SELECT CAST(sum(part_value_cents) AS DOUBLE) FROM pp) * 0.001
         |ORDER BY stock_value DESC, ps_partkey""".stripMargin,

    "q16_supplier_count" ->
      s"""WITH $psCte
         |SELECT p_brand, p_type, p_size,
         |  count(DISTINCT ps_suppkey) AS supplier_cnt
         |FROM ps
         |JOIN part ON ps_partkey = p_partkey
         |  AND p_size IN (5, 15, 25, 35, 45)
         |WHERE ps_suppkey NOT IN
         |  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         |GROUP BY 1, 2, 3
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q20_excess_stock" ->
      s"""WITH $psCte,
         |sh AS (SELECT l_partkey, l_suppkey,
         |         CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE)
         |           AS shipped_qty
         |       FROM lineitem
         |       WHERE l_shipdate >= '1996-01-01'
         |         AND l_shipdate < '1997-01-01'
         |       GROUP BY 1, 2),
         |ex AS (SELECT DISTINCT ps_suppkey
         |       FROM ps JOIN sh ON ps_partkey = l_partkey
         |         AND ps_suppkey = l_suppkey
         |       WHERE CAST(ps_availqty AS DOUBLE) > shipped_qty * 0.5)
         |SELECT s_suppkey, s_name FROM supplier
         |JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_7'
         |WHERE s_suppkey IN (SELECT ps_suppkey FROM ex)
         |ORDER BY s_suppkey""".stripMargin,

    "q13_order_count_dist" ->
      """WITH c AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM c GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q7_volume_shipping" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n_lineitems
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'
        |  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        |    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q10_returned_customers" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |      AS DOUBLE) AS revenue,
        |    count(*) AS n_returned
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-07-01'
        |    AND l_returnflag = 'R'
        |  GROUP BY o_custkey)
        |SELECT c_custkey, c_name, c_acctbal, n_name, revenue, n_returned
        |FROM rev
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q12_priority_class" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT
        |  round(CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(12,2))
        |        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
        |      ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE) * 100.0
        |    / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |      AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS promo_revenue_pct,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |    AS DOUBLE) AS total_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= '1996-03-01' AND l_shipdate < '1996-04-01'""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) > 250.0)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  sum_qty
        |FROM big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    "q21_sole_fail_supplier" ->
      """WITH fails AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        |  WHERE l_returnflag = 'R'),
        |blamed AS (
        |  SELECT f.l_orderkey, f.l_suppkey FROM fails f
        |  WHERE EXISTS (SELECT 1 FROM orders
        |                WHERE o_orderkey = f.l_orderkey
        |                  AND o_orderstatus = 'F')
        |    AND EXISTS (SELECT 1 FROM lineitem l2
        |                WHERE l2.l_orderkey = f.l_orderkey
        |                  AND l2.l_suppkey <> f.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM fails f2
        |                    WHERE f2.l_orderkey = f.l_orderkey
        |                      AND f2.l_suppkey <> f.l_suppkey))
        |SELECT s_name, s_suppkey, numwait
        |FROM (SELECT l_suppkey, count(*) AS numwait
        |      FROM blamed GROUP BY l_suppkey) b
        |JOIN supplier ON s_suppkey = b.l_suppkey
        |ORDER BY numwait DESC, s_suppkey
        |LIMIT 20""".stripMargin,

    "q22_idle_rich_customers" ->
      """WITH a AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE) AS totacctbal
        |FROM customer, a
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= '2001-01-01')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "skew_salted_join" ->
      """SELECT s_nationkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n_lineitems
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin,

    "order_status_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_F,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_O,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_P
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "interval_buy_sells" ->
      s"""$tradesCte,
         |b AS (SELECT symbol, event_id, event_time AS buy_time, price AS buy_price
         |      FROM trades WHERE side = 'buy'),
         |s AS (SELECT symbol AS s_symbol, event_time AS sell_time, price AS sell_price
         |      FROM trades WHERE side = 'sell'),
         |j AS (SELECT b.symbol, b.event_id, b.buy_time, b.buy_price, s.sell_price
         |      FROM b JOIN s ON s.s_symbol = b.symbol
         |        AND s.sell_time >= b.buy_time
         |        AND s.sell_time <= b.buy_time + INTERVAL 1 MINUTE)
         |SELECT symbol, event_id, buy_time, buy_price,
         |  count(*) AS n_sells,
         |  min(sell_price) AS min_sell_price,
         |  max(sell_price) AS max_sell_price
         |FROM j GROUP BY symbol, event_id, buy_time, buy_price
         |ORDER BY symbol, event_id""".stripMargin,

    // the streaming interval join must equal the batch one exactly —
    // same oracle as interval_buy_sells
    "pipeline_join_e2e" ->
      s"""$tradesCte,
         |b AS (SELECT symbol, event_id, event_time AS buy_time, price AS buy_price
         |      FROM trades WHERE side = 'buy'),
         |s AS (SELECT symbol AS s_symbol, event_time AS sell_time, price AS sell_price
         |      FROM trades WHERE side = 'sell'),
         |j AS (SELECT b.symbol, b.event_id, b.buy_time, b.buy_price, s.sell_price
         |      FROM b JOIN s ON s.s_symbol = b.symbol
         |        AND s.sell_time >= b.buy_time
         |        AND s.sell_time <= b.buy_time + INTERVAL 1 MINUTE)
         |SELECT symbol, event_id, buy_time, buy_price,
         |  count(*) AS n_sells,
         |  min(sell_price) AS min_sell_price,
         |  max(sell_price) AS max_sell_price
         |FROM j GROUP BY symbol, event_id, buy_time, buy_price
         |ORDER BY symbol, event_id""".stripMargin,

    "gold_bars_5m_sliding" ->
      s"""$tradesCte,
         |sw AS (SELECT t.*,
         |         time_bucket(INTERVAL 1 MINUTE, event_time) - g.k * INTERVAL 1 MINUTE AS ws
         |       FROM trades t, unnest(generate_series(0, 4)) AS g(k)),
         |t2 AS (SELECT *,
         |    row_number() OVER (PARTITION BY symbol, ws ORDER BY event_time, price) AS rn_a,
         |    row_number() OVER (PARTITION BY symbol, ws ORDER BY event_time DESC, price DESC) AS rn_d
         |  FROM sw)
         |SELECT symbol, ws AS bar_start, ws + INTERVAL 5 MINUTE AS bar_end,
         |  max(CASE WHEN rn_a = 1 THEN price END) AS open,
         |  max(price) AS high, min(price) AS low,
         |  max(CASE WHEN rn_d = 1 THEN price END) AS close,
         |  CAST(SUM(CAST(size AS DECIMAL(20,6))) AS DOUBLE) AS volume,
         |  CAST(SUM(CAST(price * size AS DECIMAL(28,10))) AS DOUBLE)
         |    / CAST(SUM(CAST(size AS DECIMAL(20,6))) AS DOUBLE) AS vwap,
         |  count(*) AS trades,
         |  CAST(ws AS DATE) AS bar_date
         |FROM t2 GROUP BY symbol, ws
         |ORDER BY symbol, bar_start""".stripMargin,

    // merge-parity oracles: the incremental/restated bar queries must
    // equal the full one-shot recompute bit-for-bit (decimal sums and
    // struct-min/max argmins are associative — that IS the claim).
    "bars_incremental" ->
      s"""$barsCte
         |SELECT * FROM bars ORDER BY symbol, bar_start""".stripMargin,

    "bars_restate" ->
      s"""$barsCte
         |SELECT * FROM bars ORDER BY symbol, bar_start""".stripMargin,

    // streaming restatement must equal rebuilding from scratch too
    "pipeline_restate_e2e" ->
      s"""$barsCte
         |SELECT * FROM bars ORDER BY symbol, bar_start""".stripMargin,

    // the stream-folded sketch state vs the direct batch sketch: KMV
    // k=64 estimate + HLL p=8 registers computed one-shot over events
    // (merge laws make the stream fold exactly this).
    "sketch_stream_e2e" ->
      s"""WITH hk AS (SELECT DISTINCT event_type,
         |    ${h60("'kmv_' || CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |rk AS (SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |  FROM hk),
         |ek AS (SELECT event_type,
         |    CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
         |      ELSE round(63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE) * 1.0e4, 0) / 1.0e4
         |    END AS kmv_est
         |  FROM rk WHERE rn <= 64 GROUP BY event_type),
         |hh AS (SELECT event_type,
         |    ${h60("'hll_' || CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |b AS (SELECT event_type, h // 4503599627370496 AS idx,
         |    h % 4503599627370496 AS w FROM hh),
         |r AS (SELECT event_type, idx,
         |    max(53 - length(ltrim(bin(w), '0'))) AS reg
         |  FROM b GROUP BY event_type, idx),
         |a AS (SELECT event_type,
         |    CAST(sum(CAST(1 AS BIGINT) << (53 - CAST(reg AS INT)))
         |      + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS BIGINT)
         |      AS s_scaled,
         |    CAST(256 - count(*) AS BIGINT) AS v_zero
         |  FROM r GROUP BY event_type),
         |e AS (SELECT event_type, v_zero, s_scaled,
         |    CASE WHEN 4.2399330249068963e20 / CAST(s_scaled AS DOUBLE)
         |        <= 640.0 AND v_zero > 0
         |      THEN round(256.0 * ln(256.0 / CAST(v_zero AS DOUBLE)) * 1.0e4, 0) / 1.0e4
         |      ELSE round(4.2399330249068963e20
         |        / CAST(s_scaled AS DOUBLE) * 1.0e4, 0) / 1.0e4 END AS hll_est
         |  FROM a)
         |SELECT ek.event_type, kmv_est, hll_est, v_zero, s_scaled
         |FROM ek JOIN e USING (event_type)
         |ORDER BY event_type""".stripMargin,

    // the streamed tombstone ledger folded as of the takedown batch:
    // identical to index_asof's fold but at batch 4 (post-takedown) —
    // active docs are everything whose latest op is not the del.
    "pipeline_retire_e2e" ->
      s"""$docsCte,
         |$sigCte,
         |lg AS (SELECT doc_id,
         |         CAST(${h60("'b_' || doc_id")} % 4 AS INT) AS batch_id,
         |         'add' AS op FROM documents
         |       UNION ALL
         |       SELECT doc_id, 4, 'del' FROM documents
         |       WHERE ${h60("'ret_' || doc_id")} % 100 >= 90),
         |act AS (SELECT doc_id,
         |          arg_max(CASE WHEN op = 'del' THEN 1 ELSE 0 END,
         |            batch_id * 2 + CASE WHEN op = 'del' THEN 1 ELSE 0 END)
         |            AS last_del
         |        FROM lg WHERE batch_id <= 4 GROUP BY doc_id)
         |SELECT s.* FROM sig s JOIN act ON act.doc_id = s.doc_id
         |WHERE act.last_del = 0
         |ORDER BY s.doc_id""".stripMargin,

    "bars_resampled_1h" ->
      s"""$barsCte,
         |r2 AS (SELECT *, time_bucket(INTERVAL 1 HOUR, bar_start) AS hs,
         |    row_number() OVER (PARTITION BY symbol, time_bucket(INTERVAL 1 HOUR, bar_start)
         |                       ORDER BY bar_start, open) AS rn_a,
         |    row_number() OVER (PARTITION BY symbol, time_bucket(INTERVAL 1 HOUR, bar_start)
         |                       ORDER BY bar_start DESC, close DESC) AS rn_d
         |  FROM bars)
         |SELECT symbol, hs AS bar_start, hs + INTERVAL 1 HOUR AS bar_end,
         |  max(CASE WHEN rn_a = 1 THEN open END) AS open,
         |  max(high) AS high, min(low) AS low,
         |  max(CASE WHEN rn_d = 1 THEN close END) AS close,
         |  CAST(SUM(CAST(volume AS DECIMAL(20,6))) AS DOUBLE) AS volume,
         |  CAST(SUM(CAST(round(vwap * volume, 6) AS DECIMAL(28,8))) AS DOUBLE)
         |    / CAST(SUM(CAST(volume AS DECIMAL(20,6))) AS DOUBLE) AS vwap,
         |  CAST(sum(trades) AS BIGINT) AS trades,
         |  CAST(hs AS DATE) AS bar_date
         |FROM r2 GROUP BY symbol, hs ORDER BY symbol, bar_start""".stripMargin,

    "bars_gapfilled" ->
      s"""$barsCte,
         |b7 AS (SELECT * FROM bars WHERE symbol = 'SYM_7'),
         |lims AS (SELECT min(bar_start) AS t0, max(bar_start) AS t1 FROM b7),
         |g AS (SELECT 'SYM_7' AS symbol, gs.g AS bar_start
         |      FROM lims, unnest(generate_series(t0, t1, INTERVAL 1 MINUTE)) AS gs(g)),
         |j AS (SELECT g.symbol, g.bar_start, b.close, b.volume, b.trades
         |      FROM g LEFT JOIN b7 b ON b.bar_start = g.bar_start)
         |SELECT symbol, bar_start, close IS NOT NULL AS is_real,
         |  last_value(close IGNORE NULLS) OVER (PARTITION BY symbol ORDER BY bar_start
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ff,
         |  coalesce(volume, 0.0) AS volume,
         |  CAST(coalesce(trades, 0) AS BIGINT) AS trades
         |FROM j ORDER BY bar_start""".stripMargin,

    // mirrors Analytics.interpolateGaps: bracketing real closes from
    // IGNORE NULLS running windows; the blend is EXACT integer
    // micro-unit arithmetic (positive weighted terms, so DuckDB's
    // floor // and Spark's truncating div agree), one double at the
    // boundary via an exact decimal product.
    "bars_interpolated" ->
      s"""$barsCte,
         |b7 AS (SELECT *, CAST(round(close * 1e6, 0) AS BIGINT)
         |         AS c_micro
         |       FROM bars WHERE symbol = 'SYM_7'),
         |lims AS (SELECT min(bar_start) AS t0, max(bar_start) AS t1 FROM b7),
         |g AS (SELECT 'SYM_7' AS symbol, gs.g AS bar_start
         |      FROM lims, unnest(generate_series(t0, t1, INTERVAL 1 MINUTE)) AS gs(g)),
         |j AS (SELECT g.symbol, g.bar_start, epoch_us(g.bar_start) AS u,
         |        b.close, b.c_micro
         |      FROM g LEFT JOIN b7 b ON b.bar_start = g.bar_start),
         |wf AS (SELECT symbol, bar_start, u, close,
         |  last_value(close IGNORE NULLS) OVER (PARTITION BY symbol
         |    ORDER BY bar_start
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_c,
         |  last_value(c_micro IGNORE NULLS) OVER (PARTITION BY symbol
         |    ORDER BY bar_start
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_m,
         |  last_value(CASE WHEN close IS NOT NULL THEN u END IGNORE NULLS)
         |    OVER (PARTITION BY symbol ORDER BY bar_start
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_u,
         |  first_value(c_micro IGNORE NULLS) OVER (PARTITION BY symbol
         |    ORDER BY bar_start
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_m,
         |  first_value(CASE WHEN close IS NOT NULL THEN u END IGNORE NULLS)
         |    OVER (PARTITION BY symbol ORDER BY bar_start
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_u,
         |  c_micro
         |  FROM j),
         |li AS (SELECT symbol, bar_start, close, prev_c,
         |  (CASE WHEN (u - prev_u) < 0 THEN -((-(u - prev_u)) // (60000000)) ELSE (u - prev_u) // (60000000) END) AS k_min,
         |  (CASE WHEN (next_u - prev_u) < 0 THEN -((-(next_u - prev_u)) // (60000000)) ELSE (next_u - prev_u) // (60000000) END) AS n_min,
         |  prev_m, next_m, c_micro FROM wf),
         |lm AS (SELECT symbol, bar_start, close, prev_c,
         |  CASE WHEN n_min = 0 THEN c_micro
         |    ELSE (CASE WHEN (prev_m * (n_min - k_min) + next_m * k_min) < 0 THEN -((-(prev_m * (n_min - k_min) + next_m * k_min)) // (n_min)) ELSE (prev_m * (n_min - k_min) + next_m * k_min) // (n_min) END)
         |  END AS li_micro FROM li)
         |SELECT symbol, bar_start, close IS NOT NULL AS is_real,
         |  prev_c AS close_ff,
         |  CAST(CAST(li_micro AS DECIMAL(20,0))
         |    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE) AS close_li
         |FROM lm ORDER BY bar_start""".stripMargin,

    "bar_window_funcs" ->
      s"""$barsCte
         |SELECT symbol, bar_date, bar_start, close, volume,
         |  CAST(dense_rank() OVER (PARTITION BY symbol, bar_date
         |    ORDER BY volume DESC) AS INT) AS vol_rank,
         |  first_value(close) OVER (PARTITION BY symbol, bar_date
         |    ORDER BY bar_start) AS day_first_close,
         |  last_value(close) OVER (PARTITION BY symbol, bar_date
         |    ORDER BY bar_start
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         |    AS day_last_close
         |FROM bars
         |ORDER BY symbol, bar_start""".stripMargin,

    "bar_window_extras" ->
      s"""$barsCte
         |SELECT symbol, bar_date, bar_start, close, volume,
         |  CAST(rank() OVER (PARTITION BY symbol, bar_date
         |    ORDER BY volume DESC) AS INT) AS vol_rank_gapped,
         |  nth_value(close, 3) OVER (PARTITION BY symbol, bar_date
         |    ORDER BY bar_start) AS third_close,
         |  lag(close, 2, -1.0) OVER (PARTITION BY symbol, bar_date
         |    ORDER BY bar_start) AS close_lag2
         |FROM bars
         |ORDER BY symbol, bar_start""".stripMargin,

    "json_props_profile" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(props::JSON ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  round(CAST(sum(CAST(props::JSON ->> 'k' AS DECIMAL(20,0))) AS DOUBLE)
        |    / CAST(count(props::JSON ->> 'k') AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS avg_k,
        |  min(CAST(props::JSON ->> 'k' AS BIGINT)) AS min_k,
        |  max(CAST(props::JSON ->> 'k' AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "analytics_coverage" ->
      s"""$analyticsCte
         |SELECT count(*) AS n_bars, count(z_ret) AS n_z_ret,
         |  count(z_vol) AS n_z_vol,
         |  CAST(sum(CASE WHEN is_return_anom THEN 1 ELSE 0 END) AS BIGINT) AS n_ret_anom,
         |  CAST(sum(CASE WHEN is_volume_anom THEN 1 ELSE 0 END) AS BIGINT) AS n_vol_anom
         |FROM anom""".stripMargin,

    "symbol_churn" ->
      s"""$tradesCte,
         |f AS (SELECT DISTINCT symbol FROM trades WHERE event_time < TIMESTAMP '2024-01-16 00:00:00'),
         |l AS (SELECT DISTINCT symbol FROM trades WHERE event_time >= TIMESTAMP '2024-01-16 00:00:00')
         |SELECT 'first_only' AS bucket, symbol FROM (SELECT symbol FROM f EXCEPT SELECT symbol FROM l)
         |UNION ALL
         |SELECT 'last_only' AS bucket, symbol FROM (SELECT symbol FROM l EXCEPT SELECT symbol FROM f)
         |UNION ALL
         |SELECT 'both' AS bucket, symbol FROM (SELECT symbol FROM f INTERSECT SELECT symbol FROM l)
         |ORDER BY bucket, symbol""".stripMargin,

    "price_winsorized" ->
      s"""$tradesCte,
         |b AS (SELECT symbol,
         |        round(quantile_cont(price, 0.01), 6) AS p01,
         |        round(quantile_cont(price, 0.99), 6) AS p99
         |      FROM trades GROUP BY symbol),
         |w AS (SELECT t.symbol, b.p01, b.p99, t.price,
         |        CAST(round(least(greatest(t.price, b.p01), b.p99), 6) AS DECIMAL(18,6)) AS wp
         |      FROM trades t JOIN b ON t.symbol = b.symbol),
         |a AS (SELECT symbol, count(*) AS n, max(p01) AS p01, max(p99) AS p99,
         |        sum(wp) AS s1, sum(wp * wp) AS s2,
         |        sum(CASE WHEN price < p01 THEN 1 ELSE 0 END) AS n_clipped_low,
         |        sum(CASE WHEN price > p99 THEN 1 ELSE 0 END) AS n_clipped_high
         |      FROM w GROUP BY symbol)
         |SELECT symbol, n, p01, p99,
         |  round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) * 1.0e6, 0) / 1.0e6
         |    AS w_mean,
         |  CASE WHEN n > 1 THEN round(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)) * 1.0e6, 0) / 1.0e6 END AS w_stddev,
         |  CAST(n_clipped_low AS BIGINT) AS n_clipped_low,
         |  CAST(n_clipped_high AS BIGINT) AS n_clipped_high
         |FROM a ORDER BY symbol""".stripMargin,

    // mirrors Sessions.eventFunnel: strict-order staged mins, ns ts
    // truncated to µs by CAST (same as the engine's events reader).
    // mirrors the wire construction: json_keys over the same to_json
    // payload shape (key ORDER inside the JSON is irrelevant — keys
    // are exploded and grouped).
    "payload_key_audit" ->
      s"""$tradesCte,
         |w AS (SELECT event_id AS "offset",
         |        json_keys(to_json(struct_pack(
         |          exchange := exchange, symbol := symbol, price := price,
         |          size := size, side := side, order_type := order_type,
         |          ts_event := epoch_ms(event_time),
         |          ts_ingest := epoch_ms(event_time) + event_id % 500)))
         |          AS ks
         |      FROM trades)
         |SELECT u.key AS key, count(*) AS n,
         |  min("offset") AS first_offset, max("offset") AS last_offset
         |FROM w, unnest(w.ks) AS u(key)
         |GROUP BY u.key ORDER BY key""".stripMargin,

    "user_retention" ->
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
        |       FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |g AS (SELECT f.cohort_date,
        |        CAST(a.d - f.cohort_date AS INT) AS day_offset,
        |        count(DISTINCT a.user_id) AS n_users
        |      FROM a JOIN f ON f.user_id = a.user_id
        |      GROUP BY f.cohort_date, a.d - f.cohort_date),
        |cs AS (SELECT cohort_date, count(*) AS cohort_size FROM f
        |       GROUP BY cohort_date)
        |SELECT g.cohort_date, g.day_offset, g.n_users, cs.cohort_size,
        |  round(CAST(g.n_users AS DOUBLE) / CAST(cs.cohort_size AS DOUBLE)
        |    * 1.0e6, 0) / 1.0e6
        |    AS retention
        |FROM g JOIN cs ON cs.cohort_date = g.cohort_date
        |ORDER BY g.cohort_date, g.day_offset""".stripMargin,

    // mirrors Scd.build: (ts, event_id)-ordered tier observations,
    // lag change flags, running version numbers, run collapse, lead()
    // interval close on the version table.
    "scd2_build" ->
      """WITH o AS (SELECT user_id, ts, event_id,
        |    CAST(CAST(json_extract(props, '$.k') AS INT) // 25 AS INT)
        |      AS tier
        |  FROM events),
        |c AS (SELECT *, CASE WHEN lag(tier) OVER w IS NULL
        |      OR lag(tier) OVER w <> tier THEN 1 ELSE 0 END AS chg
        |  FROM o
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |v AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS BIGINT) AS version_no
        |  FROM c),
        |g AS (SELECT user_id, version_no, min(tier) AS tier,
        |    min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_obs
        |  FROM v GROUP BY user_id, version_no)
        |SELECT user_id, version_no, tier, valid_from,
        |  lead(valid_from) OVER vw AS valid_to,
        |  (lead(valid_from) OVER vw IS NULL) AS is_current, n_obs
        |FROM g
        |WINDOW vw AS (PARTITION BY user_id ORDER BY version_no)
        |ORDER BY user_id, version_no""".stripMargin,

    // mirrors Scd.revenueByTier: the scd2_build chain, purchases
    // joined on user_id + the validity range, decimal revenue.
    "scd2_revenue_by_tier" ->
      """WITH o AS (SELECT user_id, ts, event_id,
        |    CAST(CAST(json_extract(props, '$.k') AS INT) // 25 AS INT)
        |      AS tier
        |  FROM events),
        |c AS (SELECT *, CASE WHEN lag(tier) OVER w IS NULL
        |      OR lag(tier) OVER w <> tier THEN 1 ELSE 0 END AS chg
        |  FROM o
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |v AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS BIGINT) AS version_no
        |  FROM c),
        |g AS (SELECT user_id, version_no, min(tier) AS tier,
        |    min(ts) AS valid_from, count(*) AS n_obs
        |  FROM v GROUP BY user_id, version_no),
        |dim AS (SELECT *, lead(valid_from) OVER (PARTITION BY user_id
        |    ORDER BY version_no) AS valid_to
        |  FROM g),
        |p AS (SELECT user_id, ts,
        |    CAST(round(value * 1000000.0, 0) AS BIGINT) AS rev6
        |  FROM events WHERE event_type = 'purchase')
        |SELECT dim.tier, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(p.rev6) AS DOUBLE) / 1000000.0 AS revenue
        |FROM p JOIN dim ON p.user_id = dim.user_id
        |  AND p.ts >= dim.valid_from
        |  AND (dim.valid_to IS NULL OR p.ts < dim.valid_to)
        |GROUP BY dim.tier ORDER BY dim.tier""".stripMargin,

    // mirrors Sessions.cohortLtv: Monday-truncated signup cohorts,
    // integer day-diff // 7 offsets (non-negative), exact micro-unit
    // integer revenue through the running cumulative, truncating
    // per-user division, micro doubles out.
    "cohort_ltv" ->
      s"""WITH f AS (SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY user_id),
        |cs AS (SELECT cohort_week, count(*) AS cohort_size FROM f
        |  GROUP BY cohort_week),
        |a AS (SELECT f.cohort_week,
        |    CAST(datediff('day', f.cohort_week,
        |      CAST(date_trunc('week', ev.ts) AS DATE)) // 7 AS BIGINT)
        |      AS week_offset,
        |    count(DISTINCT ev.user_id) AS n_active,
        |    sum(CAST(round(ev.value * 1000000.0, 0) AS BIGINT))
        |      AS rev6
        |  FROM events ev JOIN f USING (user_id)
        |  GROUP BY f.cohort_week, week_offset),
        |c AS (SELECT *, sum(rev6) OVER (PARTITION BY cohort_week
        |    ORDER BY week_offset ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS cum6
        |  FROM a)
        |SELECT c.cohort_week, week_offset,
        |  CAST(n_active AS BIGINT) AS n_active,
        |  CAST(rev6 AS DOUBLE) / 1000000.0 AS revenue,
        |  CAST(cum6 AS DOUBLE) / 1000000.0 AS cum_revenue,
        |  CAST(cohort_size AS BIGINT) AS cohort_size,
        |  CAST(${tdiv("cum6", "cohort_size")} AS DOUBLE) / 1000000.0
        |    AS ltv_per_user
        |FROM c JOIN cs USING (cohort_week)
        |ORDER BY c.cohort_week, week_offset""".stripMargin,

    // mirrors Sessions.conversionSurvival: one per-user fold, elapsed
    // hours via epoch-µs integral division (NOT date_diff, which counts
    // boundary crossings), integer micro-unit hazards, reverse-cumsum
    // risk set. CASTs pin DuckDB's HUGEINT sums back to BIGINT.
    "conversion_survival" ->
      """WITH per AS (SELECT user_id, min(epoch_us(ts)) AS first_us,
        |        max(epoch_us(ts)) AS last_us,
        |        min(CASE WHEN event_type = 'purchase'
        |              THEN epoch_us(ts) END) AS conv_us
        |      FROM events GROUP BY user_id),
        |m AS (SELECT max(last_us) AS corpus_us FROM per),
        |tm AS (SELECT (CASE WHEN (conv_us - first_us) < 0 THEN -((-(conv_us - first_us)) // (3600000000)) ELSE (conv_us - first_us) // (3600000000) END) AS t_conv,
        |         CASE WHEN (CASE WHEN (corpus_us - first_us) < 0 THEN -((-(corpus_us - first_us)) // (3600000000)) ELSE (corpus_us - first_us) // (3600000000) END) < 336
        |              THEN (CASE WHEN (corpus_us - first_us) < 0 THEN -((-(corpus_us - first_us)) // (3600000000)) ELSE (corpus_us - first_us) // (3600000000) END)
        |              ELSE 336 END AS obs_h
        |       FROM per, m),
        |uu AS (SELECT (t_conv IS NOT NULL AND t_conv <= 336) AS event,
        |         CASE WHEN t_conv IS NOT NULL AND t_conv <= 336
        |              THEN t_conv ELSE obs_h END AS t_h
        |       FROM tm),
        |bt AS (SELECT t_h AS t_hours, CAST(count(*) AS BIGINT) AS ended,
        |         CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT)
        |           AS d_conv
        |       FROM uu GROUP BY 1),
        |r AS (SELECT t_hours, d_conv, ended,
        |        CAST(sum(ended) OVER (ORDER BY t_hours DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS n_risk
        |      FROM bt),
        |h AS (SELECT t_hours, n_risk, d_conv,
        |        ended - d_conv AS c_censored,
        |        CAST((CASE WHEN (d_conv * 1000000000000) < 0 THEN -((-(d_conv * 1000000000000)) // (n_risk)) ELSE (d_conv * 1000000000000) // (n_risk) END) AS BIGINT)
        |          AS hazard_micro
        |      FROM r)
        |SELECT t_hours, n_risk, d_conv, c_censored, hazard_micro,
        |  CAST(sum(hazard_micro) OVER (ORDER BY t_hours
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_hazard_micro
        |FROM h WHERE d_conv > 0 ORDER BY t_hours""".stripMargin,

    "event_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |       FROM events),
        |v AS (SELECT user_id, min(ts) AS t0 FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, max(v.t0) AS t0, min(e.ts) AS t1
        |      FROM e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t0 GROUP BY e.user_id),
        |s AS (SELECT e.user_id, max(c.t1) AS t1, min(e.ts) AS t2
        |      FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'signup' AND e.ts > c.t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, max(s.t2) AS t2, min(e.ts) AS t3
        |      FROM e JOIN s ON e.user_id = s.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > s.t2 GROUP BY e.user_id)
        |SELECT * FROM (
        |  SELECT '1_view' AS stage, count(*) AS n_users,
        |    CAST(NULL AS DOUBLE) AS median_secs_from_prev FROM v
        |  UNION ALL
        |  SELECT '2_click', count(*),
        |    quantile_cont(CAST(epoch_us(t1) - epoch_us(t0) AS DOUBLE), 0.5) / 1000000.0 FROM c
        |  UNION ALL
        |  SELECT '3_signup', count(*),
        |    quantile_cont(CAST(epoch_us(t2) - epoch_us(t1) AS DOUBLE), 0.5) / 1000000.0 FROM s
        |  UNION ALL
        |  SELECT '4_purchase', count(*),
        |    quantile_cont(CAST(epoch_us(t3) - epoch_us(t2) AS DOUBLE), 0.5) / 1000000.0 FROM p
        |) ORDER BY stage""".stripMargin,

    // mirrors Analytics.priceHistogram: 20 equi-width bins per symbol,
    // both edges clamped.
    "price_histogram" ->
      s"""$tradesCte,
         |b AS (SELECT symbol, round(min(price), 6) AS lo, round(max(price), 6) AS hi
         |      FROM trades GROUP BY symbol),
         |x AS (SELECT t.symbol, b.lo, b.hi,
         |        CAST(CASE WHEN b.hi = b.lo THEN 0
         |          ELSE greatest(least(floor((t.price - b.lo) / ((b.hi - b.lo) / 20.0)), 19.0), 0.0) END AS INT) AS bin
         |      FROM trades t JOIN b ON t.symbol = b.symbol)
         |SELECT symbol, bin,
         |  round((max(lo) + bin * (max(hi) - max(lo)) / 20.0) * 1.0e6, 0)
         |    / 1.0e6 AS bin_lo,
         |  count(*) AS n
         |FROM x GROUP BY symbol, bin ORDER BY symbol, bin""".stripMargin,

    // mirrors Analytics.madOutliers: k=8 robust deviation gate.
    "price_mad_outliers" ->
      s"""$tradesCte,
         |med AS (SELECT symbol, round(quantile_cont(price, 0.5), 6) AS med
         |        FROM trades GROUP BY symbol),
         |mad AS (SELECT t.symbol, max(m.med) AS med,
         |          round(quantile_cont(round(abs(t.price - m.med), 6), 0.5), 6) AS mad
         |        FROM trades t JOIN med m ON t.symbol = m.symbol
         |        GROUP BY t.symbol)
         |SELECT t.symbol, t.event_id, t.price, mad.med, mad.mad
         |FROM trades t JOIN mad ON t.symbol = mad.symbol
         |WHERE round(abs(t.price - mad.med), 6) > 8.0 * mad.mad
         |ORDER BY t.symbol, t.event_id""".stripMargin,

    "price_quantiles" ->
      s"""$tradesCte
         |SELECT symbol,
         |  round(quantile_cont(price, 0.5), 6) AS p50,
         |  round(quantile_cont(price, 0.95), 6) AS p95,
         |  round(quantile_cont(price, 0.99), 6) AS p99,
         |  count(*) AS n
         |FROM trades GROUP BY symbol ORDER BY symbol""".stripMargin,

    // mirrors Analytics.symbolCorrelation: exact int64 sums over
    // 1e-6-unit integer returns; every n·Σ / Σ·Σ product is its own
    // column before the subtraction (no contractible a·b − c·d).
    "symbol_correlation" ->
      s"""$tradesCte,
         |${barsBodyCte.replace("INTERVAL 1 MINUTE", "INTERVAL 1 HOUR")},
         |rr AS (SELECT symbol, bar_start, close,
         |         lag(close) OVER (PARTITION BY symbol ORDER BY bar_start)
         |           AS prev
         |       FROM bars
         |       WHERE symbol IN (${(1 to 8).map(i => s"'SYM_$i'").mkString(", ")})),
         |r AS (SELECT symbol, bar_start,
         |        CAST(round(ln(close / prev) * 1000000.0, 0)
         |          AS BIGINT) AS r6
         |      FROM rr WHERE prev IS NOT NULL AND prev > 0 AND close > 0),
         |g AS (SELECT a.symbol AS s1, b.symbol AS s2,
         |        CAST(count(*) AS BIGINT) AS n_bars,
         |        CAST(sum(a.r6) AS BIGINT) AS sx,
         |        CAST(sum(b.r6) AS BIGINT) AS sy,
         |        CAST(sum(a.r6 * b.r6) AS BIGINT) AS sxy,
         |        CAST(sum(a.r6 * a.r6) AS BIGINT) AS sxx,
         |        CAST(sum(b.r6 * b.r6) AS BIGINT) AS syy
         |      FROM r a JOIN r b
         |        ON a.bar_start = b.bar_start AND a.symbol < b.symbol
         |      GROUP BY a.symbol, b.symbol),
         |q AS (SELECT s1, s2, n_bars,
         |        CAST(n_bars AS DOUBLE) * CAST(sxy AS DOUBLE) AS t1,
         |        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS t2,
         |        CAST(n_bars AS DOUBLE) * CAST(sxx AS DOUBLE) AS t3,
         |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS t4,
         |        CAST(n_bars AS DOUBLE) * CAST(syy AS DOUBLE) AS t5,
         |        CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS t6
         |      FROM g)
         |SELECT s1, s2, n_bars,
         |  CASE WHEN t3 - t4 > 0 AND t5 - t6 > 0
         |       THEN (t1 - t2) / (sqrt(t3 - t4) * sqrt(t5 - t6))
         |  END AS corr
         |FROM q ORDER BY s1, s2""".stripMargin,

    // mirrors Analytics.symbolBeta: 1e-6-unit integer returns, the
    // bar-mean market factor re-pinned to the same integer grid
    // (round at scale 0 of one IEEE division), exact int64 sums,
    // per-product double columns before the subtraction.
    "symbol_beta" ->
      s"""$tradesCte,
         |${barsBodyCte.replace("INTERVAL 1 MINUTE", "INTERVAL 1 HOUR")},
         |rr AS (SELECT symbol, bar_start, close,
         |         lag(close) OVER (PARTITION BY symbol ORDER BY bar_start)
         |           AS prev
         |       FROM bars),
         |r AS (SELECT symbol, bar_start,
         |        CAST(round(ln(close / prev) * 1000000.0, 0)
         |          AS BIGINT) AS r6
         |      FROM rr WHERE prev IS NOT NULL AND prev > 0 AND close > 0),
         |mkt AS (SELECT bar_start,
         |          CAST(round(CAST(sum(r6) AS DOUBLE)
         |            / CAST(count(*) AS DOUBLE), 0) AS BIGINT) AS m6
         |        FROM r GROUP BY bar_start),
         |g AS (SELECT r.symbol, CAST(count(*) AS BIGINT) AS n_bars,
         |        CAST(sum(mkt.m6) AS BIGINT) AS sx,
         |        CAST(sum(r.r6) AS BIGINT) AS sy,
         |        CAST(sum(mkt.m6 * r.r6) AS BIGINT) AS sxy,
         |        CAST(sum(mkt.m6 * mkt.m6) AS BIGINT) AS sxx
         |      FROM r JOIN mkt ON mkt.bar_start = r.bar_start
         |      GROUP BY r.symbol),
         |q AS (SELECT symbol, n_bars,
         |        CAST(n_bars AS DOUBLE) * CAST(sxy AS DOUBLE) AS t1,
         |        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS t2,
         |        CAST(n_bars AS DOUBLE) * CAST(sxx AS DOUBLE) AS t3,
         |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS t4
         |      FROM g)
         |SELECT symbol, n_bars,
         |  CASE WHEN t3 - t4 > 0 THEN (t1 - t2) / (t3 - t4)
         |  END AS beta
         |FROM q ORDER BY symbol""".stripMargin,

    // mirrors Analytics.volSignature: coarse closes = last 1m close
    // per epoch-aligned bucket (rn_d trick == ArgExtremum argmax),
    // decimal returns, exact decimal sum-of-squares, boundary ratio.
    "vol_signature" -> {
      val coarse = Seq(5, 15, 60).map { m =>
        s"""SELECT symbol,
           |  time_bucket(INTERVAL $m MINUTE, bar_start) AS bar_start,
           |  max(CASE WHEN rnd = 1 THEN close END) AS close, $m AS sc
           |FROM (SELECT symbol, bar_start, close, row_number() OVER (
           |        PARTITION BY symbol,
           |          time_bucket(INTERVAL $m MINUTE, bar_start)
           |        ORDER BY bar_start DESC) AS rnd
           |      FROM bars) b$m
           |GROUP BY symbol, time_bucket(INTERVAL $m MINUTE, bar_start)"""
          .stripMargin
      }.mkString("\n       UNION ALL\n       ")
      s"""$barsCte,
         |allc AS (SELECT symbol, bar_start, close, 1 AS sc FROM bars
         |       UNION ALL
         |       $coarse),
         |rr AS (SELECT symbol, sc, close,
         |         lag(close) OVER (PARTITION BY symbol, sc
         |           ORDER BY bar_start) AS prev
         |       FROM allc),
         |r AS (SELECT symbol, sc,
         |        CAST(round(ln(close / prev) * 1000000.0, 0)
         |          AS BIGINT) AS r6
         |      FROM rr WHERE prev IS NOT NULL AND prev > 0 AND close > 0),
         |rv AS (SELECT symbol, CAST(sc AS INT) AS scale_minutes,
         |         CAST(count(*) AS BIGINT) AS n_rets,
         |         sum(CAST(r6 * r6 AS DECIMAL(38,0))) AS s12
         |       FROM r GROUP BY symbol, sc),
         |bs AS (SELECT symbol, s12 AS s12b FROM rv
         |       WHERE scale_minutes = 60),
         |jn AS (SELECT rv.symbol, scale_minutes, n_rets, rv.s12,
         |         bs.s12b
         |       FROM rv JOIN bs ON bs.symbol = rv.symbol),
         |${wdivStages("wnr", "jn", Seq(
              WDiv("s12 * 1000000", "s12b", "nr6", 14, 22)))}
         |SELECT symbol, scale_minutes, n_rets,
         |  CAST(s12 AS DOUBLE) / 1e12 AS rv,
         |  ${microD("nr6")} AS noise_ratio
         |FROM wnr ORDER BY symbol, scale_minutes""".stripMargin
    },

    // mirrors Analytics.saxMotifs over 1-hour bars: rank-quartile
    // ntile letters (close, bar_start tie-break), words via || (which
    // null-propagates like Spark's concat — DuckDB's concat() does
    // not), integer basis-point support, top-10 per symbol.
    "sax_motifs" ->
      s"""$tradesCte,
         |${barsBodyCte.replace("INTERVAL 1 MINUTE", "INTERVAL 1 HOUR")},
         |l AS (SELECT symbol, bar_start,
         |        ntile(4) OVER (PARTITION BY symbol
         |          ORDER BY close, bar_start) AS letter
         |      FROM bars),
         |w AS (SELECT symbol,
         |        CAST(letter AS VARCHAR)
         |          || CAST(lead(letter, 1) OVER tw AS VARCHAR)
         |          || CAST(lead(letter, 2) OVER tw AS VARCHAR)
         |          || CAST(lead(letter, 3) OVER tw AS VARCHAR) AS word
         |      FROM l
         |      WINDOW tw AS (PARTITION BY symbol ORDER BY bar_start)),
         |c AS (SELECT symbol, word, count(*) AS cnt FROM w
         |      WHERE word IS NOT NULL GROUP BY symbol, word),
         |r AS (SELECT symbol, word, cnt,
         |        sum(cnt) OVER (PARTITION BY symbol) AS n_words,
         |        row_number() OVER (PARTITION BY symbol
         |          ORDER BY cnt DESC, word) AS rank
         |      FROM c)
         |SELECT symbol, CAST(rank AS INT) AS rank, word, cnt,
         |  CAST((cnt * 10000) // n_words AS BIGINT) AS support_bp
         |FROM r WHERE rank <= 10 ORDER BY symbol, rank""".stripMargin,

    // mirrors Sessions.hillTailIndex (k=100): top order statistics of
    // positive values, per-term ln pinned at 1e-9 units (round(v·1e9,
    // 0)), exact integer sum, alpha a truncating integer division —
    // micro doubles out, no decimal columns.
    "tail_index" ->
      s"""WITH v AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC) AS rn
        |  FROM events WHERE value > 0),
        |n AS (SELECT event_type, count(*) AS n_pos FROM v
        |  GROUP BY event_type),
        |t AS (SELECT event_type, value AS x_k FROM v WHERE rn = 101),
        |s AS (SELECT v.event_type,
        |    CAST(sum(CAST(round(ln(v.value / t.x_k) * 1000000000.0,
        |      0) AS BIGINT)) AS BIGINT) AS s9
        |  FROM v JOIN t USING (event_type) WHERE rn <= 100
        |  GROUP BY v.event_type)
        |SELECT s.event_type, n_pos, x_k,
        |  CAST(s9 AS DOUBLE) / 1000000000.0 AS hill_sum,
        |  CASE WHEN s9 > 0
        |    THEN ${microD("100000000000000000 // s9")} END
        |    AS tail_alpha
        |FROM s JOIN n USING (event_type) JOIN t USING (event_type)
        |ORDER BY s.event_type""".stripMargin,

    // mirrors Analytics.hurstExponent: decimal returns and prefix
    // sums, pinned-double Z/R/S rounded 12, exact integer log2 sizes,
    // the one ln divided by the pinned ln2 literal, decimal OLS sums.
    "symbol_hurst" ->
      s"""$tradesCte,
         |${barsBodyCte.replace("INTERVAL 1 MINUTE", "INTERVAL 1 HOUR")},
         |rr AS (SELECT symbol, bar_start, close,
         |         lag(close) OVER (PARTITION BY symbol ORDER BY bar_start)
         |           AS prev
         |       FROM bars),
         |r0 AS (SELECT symbol, bar_start,
         |         CAST(round(ln(close / prev) * 1.0e6, 0) / 1.0e6 AS DECIMAL(18,6)) AS r
         |       FROM rr WHERE prev IS NOT NULL AND prev > 0 AND close > 0),
         |r AS (SELECT symbol, row_number() OVER (PARTITION BY symbol
         |         ORDER BY bar_start) AS rn, r
         |      FROM r0),
         |sz AS (SELECT r.symbol, r.rn, r.r, u.s,
         |         (CASE WHEN (r.rn - 1) < 0 THEN -((-(r.rn - 1)) // (u.s)) ELSE (r.rn - 1) // (u.s) END) AS chunk
         |       FROM r, unnest([8, 16, 32, 64]) AS u(s)),
         |f AS (SELECT * FROM sz
         |      QUALIFY count(*) OVER (PARTITION BY symbol, s, chunk) = s),
         |zc AS (SELECT symbol, s, chunk, r, rn,
         |         sum(r) OVER (PARTITION BY symbol, s, chunk ORDER BY rn
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS cum,
         |         row_number() OVER (PARTITION BY symbol, s, chunk
         |           ORDER BY rn) AS k,
         |         round(CAST(sum(r) OVER (PARTITION BY symbol, s, chunk)
         |           AS DOUBLE) / s * 1.0e12, 0) / 1.0e12 AS mu
         |       FROM f),
         |z2 AS (SELECT symbol, s, chunk, r,
         |         round((CAST(cum AS DOUBLE) - k * mu) * 1.0e12, 0)
         |           / 1.0e12 AS zz
         |       FROM zc),
         |ch AS (SELECT symbol, s, chunk, max(zz) AS zmax, min(zz) AS zmin,
         |         sum(r) AS sr, sum(CAST(r * r AS DECIMAL(38,12))) AS sr2
         |       FROM z2 GROUP BY symbol, s, chunk),
         |ch2 AS (SELECT symbol, s, zmax, zmin, sr2,
         |          round(CAST(sr AS DOUBLE) / s * 1.0e12, 0) / 1.0e12 AS mu
         |        FROM ch),
         |ch3 AS (SELECT *, CAST(sr2 AS DOUBLE) / s - mu * mu AS variance
         |        FROM ch2),
         |rs AS (SELECT symbol, s,
         |         CAST(round((greatest(zmax, 0.0) - least(zmin, 0.0))
         |           / sqrt(variance) * 1.0e12, 0) / 1.0e12
         |           AS DECIMAL(28,12)) AS rsv
         |       FROM ch3 WHERE variance > 0),
         |bs AS (SELECT symbol, s, CAST(count(*) AS BIGINT) AS nc,
         |         sum(rsv) AS srs
         |       FROM rs GROUP BY symbol, s),
         |bs2 AS (SELECT symbol, s,
         |          CAST(srs AS DOUBLE) / CAST(nc AS DOUBLE) AS mean_rs
         |        FROM bs),
         |yy AS (SELECT symbol,
         |         CASE s WHEN 8 THEN 3 WHEN 16 THEN 4 WHEN 32 THEN 5
         |           ELSE 6 END AS x,
         |         CAST(round(ln(mean_rs) / 0.6931471805599453 * 1.0e12, 0)
         |           / 1.0e12 AS DECIMAL(28,12)) AS y
         |       FROM bs2 WHERE mean_rs > 0),
         |g AS (SELECT symbol, CAST(count(*) AS BIGINT) AS n_sizes,
         |        CAST(sum(x) AS BIGINT) AS sx,
         |        CAST(sum(x * x) AS BIGINT) AS sxx,
         |        sum(y) AS sy,
         |        sum(CAST(x AS DECIMAL(2,0)) * y) AS sxy
         |      FROM yy GROUP BY symbol)
         |SELECT symbol, n_sizes,
         |  CASE WHEN (CAST(n_sizes AS DOUBLE) * CAST(sxx AS DOUBLE)
         |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
         |    THEN round((CAST(n_sizes AS DOUBLE) * CAST(sxy AS DOUBLE)
         |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / (CAST(n_sizes AS DOUBLE) * CAST(sxx AS DOUBLE)
         |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |      * 1.0e6, 0) / 1.0e6
         |  END AS hurst
         |FROM g WHERE n_sizes >= 2 ORDER BY symbol""".stripMargin,

    // mirrors Analytics.kyleLambda: hourly bars for the price change,
    // side-split exact decimal flow sums on the same bucket, the beta
    // co-moment OLS; lambda is small so it rounds at 9.
    "symbol_kyle_lambda" ->
      s"""$tradesCte,
         |${barsBodyCte.replace("INTERVAL 1 MINUTE", "INTERVAL 1 HOUR")},
         |dpt AS (SELECT symbol, bar_start,
         |          CAST(round(close - open, 6) AS DECIMAL(18,6)) AS dp
         |        FROM bars),
         |flw AS (SELECT symbol,
         |          time_bucket(INTERVAL 1 HOUR, event_time) AS bar_start,
         |          CAST(sum(CASE WHEN side = 'buy'
         |                THEN CAST(size AS DECIMAL(18,6))
         |                ELSE CAST(0 AS DECIMAL(18,6)) END)
         |            - sum(CASE WHEN side = 'sell'
         |                THEN CAST(size AS DECIMAL(18,6))
         |                ELSE CAST(0 AS DECIMAL(18,6)) END)
         |            AS DECIMAL(18,6)) AS sv
         |        FROM trades GROUP BY symbol, 2),
         |g AS (SELECT d.symbol, CAST(count(*) AS BIGINT) AS n_bars,
         |        sum(f.sv) AS sx, sum(d.dp) AS sy,
         |        sum(CAST(f.sv * d.dp AS DECIMAL(38,12))) AS sxy,
         |        sum(CAST(f.sv * f.sv AS DECIMAL(38,12))) AS sxx
         |      FROM dpt d JOIN flw f ON f.symbol = d.symbol
         |        AND f.bar_start = d.bar_start
         |      GROUP BY d.symbol)
         |SELECT symbol, n_bars,
         |  CASE WHEN (CAST(n_bars AS DOUBLE) * CAST(sxx AS DOUBLE)
         |             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
         |       THEN round((CAST(n_bars AS DOUBLE) * CAST(sxy AS DOUBLE)
         |             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |         / (CAST(n_bars AS DOUBLE) * CAST(sxx AS DOUBLE)
         |             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |         * 1.0e9, 0) / 1.0e9
         |  END AS kyle_lambda
         |FROM g ORDER BY symbol""".stripMargin,

    // mirrors Analytics.symbolLeadLag: the beta machinery's exact
    // decimal returns + market series, lag alignment via exploded µs
    // offsets, full co-moment correlation in doubles at the boundary,
    // best flag ranking ROUNDED correlations with smaller-lag ties.
    "symbol_leadlag" ->
      s"""$tradesCte,
         |${barsBodyCte.replace("INTERVAL 1 MINUTE", "INTERVAL 1 HOUR")},
         |rr AS (SELECT symbol, bar_start, close,
         |         lag(close) OVER (PARTITION BY symbol ORDER BY bar_start)
         |           AS prev
         |       FROM bars),
         |r AS (SELECT symbol, epoch_us(bar_start) AS u,
         |        CAST(round(ln(close / prev) * 1.0e6, 0) / 1.0e6 AS DECIMAL(18,6)) AS ret
         |      FROM rr WHERE prev IS NOT NULL AND prev > 0 AND close > 0),
         |mkt AS (SELECT u AS mu,
         |          CAST(round(CAST(sum(ret) AS DOUBLE)
         |            / CAST(count(*) AS DOUBLE) * 1.0e6, 0) / 1.0e6
         |            AS DECIMAL(18,6))
         |            AS mret
         |        FROM r GROUP BY u),
         |lg AS (SELECT r.symbol, r.ret, lh.l AS lag_h,
         |         r.u + lh.l * 3600000000 AS mu
         |       FROM r, unnest([-2, -1, 0, 1, 2]) AS lh(l)),
         |g AS (SELECT lg.symbol, lg.lag_h,
         |        CAST(count(*) AS BIGINT) AS n_obs,
         |        sum(mkt.mret) AS sx, sum(lg.ret) AS sy,
         |        sum(CAST(mkt.mret * lg.ret AS DECIMAL(38,12))) AS sxy,
         |        sum(CAST(mkt.mret * mkt.mret AS DECIMAL(38,12))) AS sxx,
         |        sum(CAST(lg.ret * lg.ret AS DECIMAL(38,12))) AS syy
         |      FROM lg JOIN mkt ON mkt.mu = lg.mu
         |      GROUP BY lg.symbol, lg.lag_h),
         |cr AS (SELECT symbol, CAST(lag_h AS INT) AS lag_hours, n_obs,
         |        CASE WHEN (CAST(n_obs AS DOUBLE) * CAST(sxx AS DOUBLE)
         |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |            * (CAST(n_obs AS DOUBLE) * CAST(syy AS DOUBLE)
         |              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
         |          THEN round((CAST(n_obs AS DOUBLE) * CAST(sxy AS DOUBLE)
         |              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |            / sqrt((CAST(n_obs AS DOUBLE) * CAST(sxx AS DOUBLE)
         |              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |            * (CAST(n_obs AS DOUBLE) * CAST(syy AS DOUBLE)
         |              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         |            * 1.0e6, 0) / 1.0e6
         |        END AS xcorr
         |      FROM g)
         |SELECT symbol, lag_hours, n_obs, xcorr,
         |  (row_number() OVER (PARTITION BY symbol
         |     ORDER BY xcorr DESC NULLS LAST, lag_hours) = 1
         |   AND xcorr IS NOT NULL) AS is_best
         |FROM cr ORDER BY symbol, lag_hours""".stripMargin,

    "symbol_drawdown" ->
      s"""$tradesCte,
         |${barsBodyCte.replace("INTERVAL 1 MINUTE", "INTERVAL 1 HOUR")},
         |pk AS (SELECT symbol, close,
         |         max(close) OVER (PARTITION BY symbol ORDER BY bar_start
         |           ROWS UNBOUNDED PRECEDING) AS peak
         |       FROM bars)
         |SELECT symbol, count(*) AS n_bars,
         |  round(min(close / peak - 1) * 1.0e6, 0) / 1.0e6 AS max_drawdown
         |FROM pk GROUP BY symbol ORDER BY symbol""".stripMargin,

    // mirrors Analytics.volEstimators: per-bar 6-decimal DECIMAL terms
    // (ln products, never pow), exact sums, sqrt at the boundary only.
    "symbol_vol_estimators" ->
      s"""$tradesCte,
         |${barsBodyCte.replace("INTERVAL 1 MINUTE", "INTERVAL 1 HOUR")},
         |lagged AS (SELECT symbol, open, high, low, close,
         |             lag(close) OVER (PARTITION BY symbol
         |               ORDER BY bar_start) AS prev_close
         |           FROM bars),
         |terms AS (SELECT symbol,
         |    CAST(round((CASE WHEN prev_close > 0
         |        THEN ln(close / prev_close) * ln(close / prev_close)
         |        END) * 1.0e6, 0) / 1.0e6 AS DECIMAL(18,6)) AS cc,
         |    CAST(round((ln(high / low) * ln(high / low)) * 1.0e6, 0)
         |      / 1.0e6 AS DECIMAL(18,6)) AS pk,
         |    CAST(round((ln(high / low) * ln(high / low) * 0.5
         |        - 0.3862943611198906 * ln(close / open)
         |          * ln(close / open)) * 1.0e6, 0) / 1.0e6
         |      AS DECIMAL(18,6)) AS gk,
         |    CAST(round((ln(high / close) * ln(high / open)
         |        + ln(low / close) * ln(low / open)) * 1.0e6, 0)
         |      / 1.0e6 AS DECIMAL(18,6)) AS rs
         |  FROM lagged WHERE open > 0 AND low > 0),
         |g AS (SELECT symbol, count(*) AS n_bars, count(cc) AS n_cc,
         |        sum(cc) AS s_cc, sum(pk) AS s_pk,
         |        sum(gk) AS s_gk, sum(rs) AS s_rs
         |      FROM terms GROUP BY symbol)
         |SELECT symbol, n_bars,
         |  CASE WHEN n_cc > 0 THEN round(sqrt(
         |    CAST(s_cc AS DOUBLE) / CAST(n_cc AS DOUBLE)) * 1.0e6, 0)
         |    / 1.0e6 END AS vol_cc,
         |  CASE WHEN CAST(s_pk AS DOUBLE) / CAST(n_bars AS DOUBLE)
         |        / 2.772588722239781 >= 0
         |    THEN round(sqrt(CAST(s_pk AS DOUBLE) / CAST(n_bars AS DOUBLE)
         |      / 2.772588722239781) * 1.0e6, 0) / 1.0e6
         |    END AS vol_parkinson,
         |  CASE WHEN CAST(s_gk AS DOUBLE) / CAST(n_bars AS DOUBLE) >= 0
         |    THEN round(sqrt(CAST(s_gk AS DOUBLE)
         |      / CAST(n_bars AS DOUBLE)) * 1.0e6, 0) / 1.0e6
         |    END AS vol_gk,
         |  CASE WHEN CAST(s_rs AS DOUBLE) / CAST(n_bars AS DOUBLE) >= 0
         |    THEN round(sqrt(CAST(s_rs AS DOUBLE)
         |      / CAST(n_bars AS DOUBLE)) * 1.0e6, 0) / 1.0e6
         |    END AS vol_rs
         |FROM g ORDER BY symbol""".stripMargin,

    "flow_imbalance" ->
      s"""$tradesCte
         |SELECT symbol,
         |  time_bucket(INTERVAL 1 HOUR, event_time) AS bar_start,
         |  CAST(sum(CASE WHEN side = 'buy'
         |    THEN CAST(size AS DECIMAL(20,6))
         |    ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE) AS buy_vol,
         |  CAST(sum(CASE WHEN side = 'sell'
         |    THEN CAST(size AS DECIMAL(20,6))
         |    ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE) AS sell_vol,
         |  round(((CAST(sum(CASE WHEN side = 'buy'
         |      THEN CAST(size AS DECIMAL(20,6))
         |      ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE)
         |    - CAST(sum(CASE WHEN side = 'sell'
         |      THEN CAST(size AS DECIMAL(20,6))
         |      ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE))
         |    / (CAST(sum(CASE WHEN side = 'buy'
         |      THEN CAST(size AS DECIMAL(20,6))
         |      ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE)
         |    + CAST(sum(CASE WHEN side = 'sell'
         |      THEN CAST(size AS DECIMAL(20,6))
         |      ELSE CAST(0 AS DECIMAL(20,6)) END) AS DOUBLE))) * 1.0e6, 0)
         |    / 1.0e6 AS imbalance,
         |  count(*) AS trades
         |FROM trades GROUP BY symbol, time_bucket(INTERVAL 1 HOUR, event_time)
         |ORDER BY symbol, bar_start""".stripMargin,

    // quantile_disc == SQL-standard PERCENTILE_DISC (verified rule-for-
    // rule): both return the element at rank ceil(p*n) — a real data
    // value, so the hash compare needs no rounding convention.
    "approx_profile" ->
      s"""$tradesCte
         |SELECT symbol,
         |  count(DISTINCT price) AS price_levels,
         |  quantile_disc(price, 0.5) AS p50_disc,
         |  quantile_disc(price, 0.9) AS p90_disc,
         |  count(*) AS n
         |FROM trades GROUP BY symbol ORDER BY symbol""".stripMargin,

    "time_profile" ->
      s"""$tradesCte
         |SELECT CAST(hour(event_time) AS INT) AS hour_of_day,
         |  CAST(dayofweek(event_time) + 1 AS INT) AS day_of_week,
         |  count(*) AS n_trades,
         |  CAST(sum(CAST(size AS DECIMAL(20,6))) AS DOUBLE) AS volume
         |FROM trades GROUP BY 1, 2 ORDER BY hour_of_day, day_of_week""".stripMargin,

    // e2e pipeline: everything downstream of the wire is ms-truncated
    // (the wire serializes ms epochs), so the oracle's trades CTE
    // truncates event_time to ms before the SAME bars body.
    "pipeline_gold_e2e" ->
      s"""WITH trades AS (
         |  SELECT event_id,
         |    'SYM_' || CAST(user_id AS VARCHAR) AS symbol,
         |    make_timestamp(epoch_ms(CAST(ts AS TIMESTAMP)) * 1000) AS event_time,
         |    value AS price,
         |    CAST(1 AS DOUBLE) + CAST(event_id % 100 AS DOUBLE) / CAST(100 AS DOUBLE) AS size
         |  FROM events),
         |$barsBodyCte
         |SELECT * FROM bars ORDER BY symbol, bar_start""".stripMargin,

    // the live update-mode sink must equal the ms-truncated batch bars
    // over the same 6 h live tail (minute-aligned cut, so the filtered
    // recompute is exactly the full bars with bar_start >= cut).
    "bars_live_e2e" ->
      s"""WITH raw AS (
         |  SELECT event_id,
         |    'SYM_' || CAST(user_id AS VARCHAR) AS symbol,
         |    make_timestamp(epoch_ms(CAST(ts AS TIMESTAMP)) * 1000) AS event_time,
         |    value AS price,
         |    CAST(1 AS DOUBLE) + CAST(event_id % 100 AS DOUBLE) / CAST(100 AS DOUBLE) AS size
         |  FROM events),
         |cutoff AS (SELECT make_timestamp(
         |    ((epoch_ms(max(event_time)) // 60000) * 60000 - 21600000)
         |      * 1000) AS c
         |  FROM raw),
         |trades AS (SELECT raw.* FROM raw, cutoff WHERE event_time >= c),
         |$barsBodyCte
         |SELECT * FROM bars ORDER BY symbol, bar_start""".stripMargin,

    // both sessionization shapes (window-function and native
    // session_window) share one oracle — identical semantics by design
    "trade_sessions" -> sessionsOracleSql,
    "trade_sessions_native" -> sessionsOracleSql,

    "trades_asof_bars" ->
      s"""$barsCte
         |SELECT t.event_id, t.symbol, t.event_time, t.price,
         |  b.close AS asof_close, b.vwap AS asof_vwap
         |FROM trades t ASOF LEFT JOIN bars b
         |  ON t.symbol = b.symbol AND t.event_time >= b.bar_end
         |ORDER BY t.event_id""".stripMargin,

    "text_stats" ->
      s"""$docsCte
         |SELECT doc_id, length(text) AS n_chars_text, len(toks) AS n_tokens,
         |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_tokens_re,
         |  len(list_distinct(toks)) AS n_distinct_tokens,
         |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS distinct_ratio,
         |  round(CAST(length(text) - (len(toks) - 1) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS avg_token_len,
         |  round(CAST(len(list_filter(toks, tk -> list_contains(['the','a','of','and','to','in','is','on','for','with'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS stopword_ratio,
         |  round((CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
         |    * (1.0 - CAST(len(list_filter(toks, tk -> list_contains(['the','a','of','and','to','in','is','on','for','with'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
         |    * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
       |    * 1.0e6, 0) / 1.0e6 AS quality_score
         |FROM t ORDER BY doc_id""".stripMargin,

    // mirrors TextAnalysis.repetitionProfile: n-gram occurrence counts
    // WITH multiplicity per doc; top 2-gram by (cnt DESC, gram ASC);
    // fractions are exact-integer quotients, no rounding.
    "repetition_profile" ->
      """WITH t AS (SELECT doc_id, length(text) AS n_chars,
        |            string_split(text, ' ') AS toks FROM documents),
        |sz AS (SELECT doc_id, n_chars, len(toks) AS n_tokens FROM t),
        |gt AS (SELECT doc_id, concat_ws(' ', toks[i], toks[i+1]) AS gram
        |       FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)),
        |gd AS (SELECT doc_id, concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS gram
        |       FROM t, unnest(generate_series(1, len(toks) - 2)) AS g(i)),
        |gk AS (SELECT doc_id, toks[i] AS gram
        |       FROM t, unnest(generate_series(1, len(toks))) AS g(i)),
        |ct AS (SELECT doc_id, gram, count(*) AS cnt FROM gt GROUP BY 1, 2),
        |cd AS (SELECT doc_id, gram, count(*) AS cnt FROM gd GROUP BY 1, 2),
        |ck AS (SELECT doc_id, gram, count(*) AS cnt FROM gk GROUP BY 1, 2),
        |top AS (SELECT doc_id, gram, cnt,
        |          row_number() OVER (PARTITION BY doc_id
        |                             ORDER BY cnt DESC, gram) AS rn
        |        FROM ct),
        |dup AS (SELECT doc_id,
        |          sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_positions,
        |          sum(cnt) AS n_grams
        |        FROM cd GROUP BY doc_id),
        |dtk AS (SELECT doc_id,
        |          sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_tok
        |        FROM ck GROUP BY doc_id)
        |SELECT s.doc_id, s.n_tokens,
        |  t1.gram AS top_gram, CAST(t1.cnt AS BIGINT) AS top_cnt,
        |  CASE WHEN t1.gram IS NULL THEN 0.0
        |       ELSE CAST(t1.cnt AS DOUBLE) * CAST(length(t1.gram) AS DOUBLE)
        |            / CAST(s.n_chars AS DOUBLE) END AS top_char_frac,
        |  CASE WHEN coalesce(d.n_grams, 0) > 0
        |       THEN CAST(d.dup_positions AS DOUBLE) / CAST(d.n_grams AS DOUBLE)
        |       ELSE 0.0 END AS dup_gram_frac,
        |  CAST(k.dup_tok AS DOUBLE) / CAST(s.n_tokens AS DOUBLE) AS dup_token_frac
        |FROM sz s
        |LEFT JOIN top t1 ON t1.doc_id = s.doc_id AND t1.rn = 1
        |LEFT JOIN dup d ON d.doc_id = s.doc_id
        |JOIN dtk k ON k.doc_id = s.doc_id
        |ORDER BY s.doc_id""".stripMargin,

    "lang_id" ->
      s"""$docsCte,
         |s AS (SELECT doc_id,
         |  round(CAST(len(list_filter(toks, tk -> list_contains(['the','a','of','and','to','in','is'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS score_en,
         |  round(CAST(len(list_filter(toks, tk -> list_contains(['el','la','de','que','y','en'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS score_es,
         |  round(CAST(len(list_filter(toks, tk -> list_contains(['der','die','das','und','ist'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS score_de,
         |  round(CAST(len(list_filter(toks, tk -> list_contains(['le','la','de','et','est'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS score_fr
         |  FROM t)
         |SELECT doc_id, score_en, score_es, score_de, score_fr,
         |  CASE WHEN score_en = 0 AND score_es = 0 AND score_de = 0 AND score_fr = 0 THEN 'und'
         |       WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
         |       WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
         |       WHEN score_de >= score_fr THEN 'de'
         |       ELSE 'fr' END AS lang_pred
         |FROM s ORDER BY doc_id""".stripMargin,

    // mirrors TextAnalysis.langIdConfusion: same scoring/argmax chain
    // as lang_id, aggregated into (true, pred) cells with shares.
    "langid_confusion" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, lang,
        |  round(CAST(len(list_filter(toks, tk -> list_contains(['the','a','of','and','to','in','is'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS score_en,
        |  round(CAST(len(list_filter(toks, tk -> list_contains(['el','la','de','que','y','en'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS score_es,
        |  round(CAST(len(list_filter(toks, tk -> list_contains(['der','die','das','und','ist'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS score_de,
        |  round(CAST(len(list_filter(toks, tk -> list_contains(['le','la','de','et','est'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS score_fr
        |  FROM t),
        |p AS (SELECT lang AS lang_true,
        |  CASE WHEN score_en = 0 AND score_es = 0 AND score_de = 0 AND score_fr = 0 THEN 'und'
        |       WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
        |       WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
        |       WHEN score_de >= score_fr THEN 'de'
        |       ELSE 'fr' END AS lang_pred
        |  FROM s),
        |cm AS (SELECT lang_true, lang_pred, count(*) AS n FROM p GROUP BY 1, 2),
        |tot AS (SELECT lang_true, sum(n) AS n_true FROM cm GROUP BY 1)
        |SELECT cm.lang_true, cm.lang_pred, n,
        |  round(CAST(n AS DOUBLE) / CAST(n_true AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS share,
        |  cm.lang_true = cm.lang_pred AS correct
        |FROM cm JOIN tot USING (lang_true)
        |ORDER BY lang_true, lang_pred""".stripMargin,

    "doc_fingerprints" ->
      s"""$docsCte
         |SELECT doc_id, md5(text) AS fp_exact,
         |  md5(array_to_string(list_sort(toks), ' ')) AS fp_bag,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(toks, tk -> ${h60("tk")} % 1000000)),
         |    (acc, h) -> (acc * 131 + h) % 1000000000000) AS fp_roll
         |FROM t ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS rep_doc_id, count(*) AS n_docs
        |FROM documents GROUP BY md5(text) ORDER BY fp""".stripMargin,

    // mirrors Dedup.exactIncremental: delta fingerprints joined to the
    // history (fp, rep) index.
    "dedup_exact_incremental" ->
      s"""WITH d AS (SELECT doc_id, md5(text) AS fp FROM documents),
         |h AS (SELECT fp, min(doc_id) AS rep_doc_id FROM d
         |      WHERE ${h60("'inc_' || doc_id")} % 100 < 80 GROUP BY fp)
         |SELECT x.doc_id, h.rep_doc_id AS dup_of
         |FROM d x JOIN h ON h.fp = x.fp
         |WHERE ${h60("'inc_' || x.doc_id")} % 100 >= 80
         |ORDER BY x.doc_id""".stripMargin,

    // ---- retirement oracles: each is its family's full-corpus SQL
    // with the salted takedown set (ret_ salt, 10%) filtered out —
    // full-recompute-minus-retired parity, pinned in SQL.
    "dedup_index_retire" ->
      s"""$docsCte,
         |$sigCte
         |SELECT * FROM sig WHERE ${h60("'ret_' || doc_id")} % 100 < 90
         |ORDER BY doc_id""".stripMargin,

    "exact_retire" ->
      s"""SELECT md5(text) AS fp, min(doc_id) AS rep_doc_id, count(*) AS n_docs
         |FROM documents WHERE ${h60("'ret_' || doc_id")} % 100 < 90
         |GROUP BY md5(text) ORDER BY fp""".stripMargin,

    // ---- index time-travel oracles: the ledger CTE mirrors docLedger
    // (adds in batches 0-3 by salted hash, the ret_ takedown as batch-4
    // tombstones); "active" = latest op wins, del outranks add within a
    // batch — the same argmax fold the engine runs.
    "index_asof" ->
      s"""$docsCte,
         |$sigCte,
         |lg AS (SELECT doc_id,
         |         CAST(${h60("'b_' || doc_id")} % 4 AS INT) AS batch_id,
         |         'add' AS op FROM documents
         |       UNION ALL
         |       SELECT doc_id, 4, 'del' FROM documents
         |       WHERE ${h60("'ret_' || doc_id")} % 100 >= 90),
         |act AS (SELECT doc_id,
         |          arg_max(CASE WHEN op = 'del' THEN 1 ELSE 0 END,
         |            batch_id * 2 + CASE WHEN op = 'del' THEN 1 ELSE 0 END)
         |            AS last_del
         |        FROM lg WHERE batch_id <= 2 GROUP BY doc_id)
         |SELECT s.* FROM sig s JOIN act ON act.doc_id = s.doc_id
         |WHERE act.last_del = 0
         |ORDER BY s.doc_id""".stripMargin,

    "index_asof_audit" ->
      s"""WITH lg AS (SELECT doc_id,
         |         CAST(${h60("'b_' || doc_id")} % 4 AS INT) AS batch_id,
         |         'add' AS op FROM documents
         |       UNION ALL
         |       SELECT doc_id, 4, 'del' FROM documents
         |       WHERE ${h60("'ret_' || doc_id")} % 100 >= 90),
         |per AS (SELECT g.b, l.doc_id,
         |          arg_max(CASE WHEN l.op = 'del' THEN 1 ELSE 0 END,
         |            l.batch_id * 2 + CASE WHEN l.op = 'del' THEN 1 ELSE 0 END)
         |            AS last_del
         |        FROM generate_series(0, 4) AS g(b)
         |        JOIN lg l ON l.batch_id <= g.b
         |        GROUP BY g.b, l.doc_id)
         |SELECT b, count(*) AS n_active FROM per WHERE last_del = 0
         |GROUP BY b ORDER BY b""".stripMargin,

    "clusters_retire" ->
      s"""${docsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |shr AS (SELECT * FROM sh WHERE ${h60("'ret_' || doc_id")} % 100 < 90),
         |shc AS (SELECT doc_id, shingle FROM shr
         |        QUALIFY count(*) OVER (PARTITION BY shingle) <= ${Dedup.MaxShingleDf}),
         |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |         FROM shc x JOIN shc y
         |           ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
         |${jaccardCte("shc")},
         |p AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.5),
         |e AS (SELECT d1 AS a, d2 AS b FROM p UNION SELECT d2, d1 FROM p),
         |nodes AS (SELECT DISTINCT a AS id FROM e),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b
         |)
         |SELECT id AS doc_id, min(r) AS cluster_rep
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    "bm25_retire" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |       WHERE ${h60("'ret_' || doc_id")} % 100 < 90),
        |corpus AS (SELECT count(*) AS n, sum(len(toks)) AS tot_len FROM t),
        |tf AS (SELECT doc_id, len(toks) AS dl, u.t, count(*) AS tf
        |       FROM t, unnest(toks) AS u(t)
        |       WHERE u.t IN ('stream', 'merge', 'batch')
        |       GROUP BY doc_id, len(toks), u.t),
        |dfq AS (SELECT t, count(*) AS doc_freq FROM tf GROUP BY t),
        |sc AS (SELECT tf.doc_id,
        |         CAST(round(ln((CAST(n AS DOUBLE) - CAST(doc_freq AS DOUBLE) + 0.5e0)
        |             / (CAST(doc_freq AS DOUBLE) + 0.5e0) + 1.0e0)
        |           * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0))
        |           / (CAST(tf AS DOUBLE) + 1.2e0 * ((1.0e0 - 0.75e0) + 0.75e0
        |               * CAST(dl AS DOUBLE) / (CAST(tot_len AS DOUBLE) / CAST(n AS DOUBLE))))
        |           * 1000000.0, 0) AS BIGINT) AS s6
        |       FROM tf JOIN dfq USING (t), corpus)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_query_terms,
        |  CAST(sum(s6) AS DOUBLE) / 1000000.0 AS bm25
        |FROM sc GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    "spans_retire" ->
      s"""WITH hist AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |        WHERE ${h60("'inc_' || doc_id")} % 100 < 80
         |          AND ${h60("'ret_' || doc_id")} % 100 < 90),
         |delta AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |        WHERE ${h60("'inc_' || doc_id")} % 100 >= 80),
         |hidx AS (SELECT DISTINCT CAST('0x' || substr(md5(array_to_string(list_slice(toks, g.i, g.i + 7), ' ')), 1, 15) AS BIGINT) AS h
         |         FROM hist, unnest(generate_series(1, len(toks) - 7)) AS g(i)),
         |dw AS (SELECT doc_id, g.i AS i,
         |         CAST('0x' || substr(md5(array_to_string(list_slice(toks, g.i, g.i + 7), ' ')), 1, 15) AS BIGINT) AS h
         |       FROM delta, unnest(generate_series(1, len(toks) - 7)) AS g(i)),
         |f AS (SELECT doc_id, i FROM dw WHERE h IN (SELECT h FROM hidx)),
         |isl AS (SELECT doc_id, i,
         |          CASE WHEN i > lag(i) OVER w + 8 THEN 1 ELSE 0 END AS brk
         |        FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
         |g2 AS (SELECT doc_id, i,
         |         sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
         |       FROM isl)
         |SELECT doc_id, min(i) AS span_start, max(i) + 7 AS span_end,
         |  max(i) + 8 - min(i) AS span_tokens, count(*) AS n_windows
         |FROM g2 GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin,

    // mirrors the CDC retire chain: hidx built from history docs that
    // survive the takedown filter; chunker and delta check unchanged.
    "cdc_retire" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |tok AS (SELECT doc_id, g.i AS i, toks[g.i] AS tk
         |        FROM t, unnest(generate_series(1, len(toks))) AS g(i)),
         |b AS (SELECT doc_id, i, tk,
         |        CASE WHEN (CAST('0x' || substr(md5('cdc_' || tk), 1, 15) AS BIGINT) % 16) = 0
         |          THEN 1 ELSE 0 END AS cut
         |      FROM tok),
         |c AS (SELECT doc_id, i, tk,
         |        1 + coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
         |      FROM b),
         |ch AS (SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
         |         CAST(min(i) AS INT) AS start_i,
         |         CAST(count(*) AS INT) AS n_chunk_tokens,
         |         md5(string_agg(tk, ' ' ORDER BY i)) AS chunk_md5
         |       FROM c GROUP BY doc_id, chunk_idx),
         |hidx AS (SELECT DISTINCT chunk_md5 FROM ch
         |         WHERE ${h60("'inc_' || doc_id")} % 100 < 80
         |           AND ${h60("'ret_' || doc_id")} % 100 < 90)
         |SELECT doc_id, chunk_idx, start_i, n_chunk_tokens, chunk_md5
         |FROM ch
         |WHERE ${h60("'inc_' || doc_id")} % 100 >= 80
         |  AND chunk_md5 IN (SELECT chunk_md5 FROM hidx)
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    // mirrors Dedup.retireAudit: per-index takedown deletion counts.
    // "Lost" members are hashes/digests whose every holder is retired;
    // re-elections are clusters with a retired rep and >=1 survivor.
    "retire_audit" ->
      s"""${docsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |ret AS (SELECT doc_id FROM documents
         |        WHERE ${h60("'ret_' || doc_id")} % 100 >= 90),
         |sw AS (SELECT doc_id, CAST('0x' || substr(md5(array_to_string(list_slice(toks, g.i, g.i + 7), ' ')), 1, 15) AS BIGINT) AS h
         |       FROM t, unnest(generate_series(1, len(toks) - 7)) AS g(i)),
         |tok AS (SELECT doc_id, g.i AS i, toks[g.i] AS tk
         |        FROM t, unnest(generate_series(1, len(toks))) AS g(i)),
         |cb AS (SELECT doc_id, i, tk,
         |        CASE WHEN (CAST('0x' || substr(md5('cdc_' || tk), 1, 15) AS BIGINT) % 16) = 0
         |          THEN 1 ELSE 0 END AS cut
         |      FROM tok),
         |cc AS (SELECT doc_id, i, tk,
         |        1 + coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
         |      FROM cb),
         |chd AS (SELECT doc_id, md5(string_agg(tk, ' ' ORDER BY i)) AS chunk_md5
         |        FROM cc GROUP BY doc_id, chunk_idx),
         |$shCappedCte,
         |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |         FROM shc x JOIN shc y
         |           ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
         |${jaccardCte("shc")},
         |p AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.5),
         |e AS (SELECT d1 AS a, d2 AS b FROM p UNION SELECT d2, d1 FROM p),
         |nodes AS (SELECT DISTINCT a AS id FROM e),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b
         |),
         |asg AS (SELECT id AS doc_id, min(r) AS rep FROM reach GROUP BY id),
         |x1 AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_retired FROM ret),
         |x2 AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_sig_rows
         |       FROM sh WHERE doc_id IN (SELECT doc_id FROM ret)),
         |x3 AS (SELECT CAST(count(*) AS BIGINT) AS n_span_hashes_lost FROM (
         |       SELECT h FROM sw GROUP BY h
         |       HAVING max(CASE WHEN doc_id NOT IN (SELECT doc_id FROM ret)
         |                  THEN 1 ELSE 0 END) = 0)),
         |x4 AS (SELECT CAST(count(*) AS BIGINT) AS n_cdc_digests_lost FROM (
         |       SELECT chunk_md5 FROM chd GROUP BY chunk_md5
         |       HAVING max(CASE WHEN doc_id NOT IN (SELECT doc_id FROM ret)
         |                  THEN 1 ELSE 0 END) = 0)),
         |x5 AS (SELECT CAST(count(*) AS BIGINT) AS n_bm25_postings FROM (
         |       SELECT DISTINCT doc_id, u.t FROM t, unnest(toks) AS u(t)
         |       WHERE doc_id IN (SELECT doc_id FROM ret))),
         |x6 AS (SELECT CAST(count(*) AS BIGINT) AS n_cluster_members
         |       FROM asg WHERE doc_id IN (SELECT doc_id FROM ret)),
         |x7 AS (SELECT CAST(count(*) AS BIGINT) AS n_reps_reelected FROM (
         |       SELECT rep FROM asg GROUP BY rep
         |       HAVING max(CASE WHEN doc_id NOT IN (SELECT doc_id FROM ret)
         |                  THEN 1 ELSE 0 END) = 1
         |          AND max(CASE WHEN doc_id = rep
         |                   AND doc_id IN (SELECT doc_id FROM ret)
         |                  THEN 1 ELSE 0 END) = 1))
         |SELECT n_docs_retired, n_sig_rows, n_span_hashes_lost,
         |  n_cdc_digests_lost, n_bm25_postings, n_cluster_members,
         |  n_reps_reelected
         |FROM x1, x2, x3, x4, x5, x6, x7""".stripMargin,

    // mirrors simhash_retire: the simhash incremental chain with the
    // history side filtered by the takedown salt.
    "simhash_retire" ->
      s"""$docsCte,
         |$simhashCte,
         |hsim AS (SELECT * FROM shh WHERE ${h60("'inc_' || doc_id")} % 100 < 80
         |           AND ${h60("'ret_' || doc_id")} % 100 < 90),
         |dsim AS (SELECT * FROM shh WHERE ${h60("'inc_' || doc_id")} % 100 >= 80),
         |shb0 AS (SELECT doc_id, simhash, u.b AS b,
         |           (simhash >> (15 * u.b)) & 32767 AS bval
         |         FROM hsim, unnest([0, 1, 2, 3]) AS u(b)),
         |shb AS (SELECT * FROM shb0
         |        QUALIFY row_number() OVER (PARTITION BY b, bval ORDER BY doc_id) <= ${Dedup.MaxBucketSize}),
         |sdb AS (SELECT doc_id, simhash, u.b AS b,
         |          (simhash >> (15 * u.b)) & 32767 AS bval
         |        FROM dsim, unnest([0, 1, 2, 3]) AS u(b))
         |SELECT DISTINCT h.doc_id AS hist_doc, d.doc_id AS delta_doc,
         |  CAST(bit_count(xor(h.simhash, d.simhash)) AS INT) AS hamming
         |FROM shb h JOIN sdb d ON h.b = d.b AND h.bval = d.bval
         |WHERE bit_count(xor(h.simhash, d.simhash)) <= 3
         |ORDER BY hist_doc, delta_doc""".stripMargin,

    // mirrors media_retire: the media incremental chain with the
    // history side filtered by the takedown salt.
    "media_retire" ->
      s"""$phashCte,
         |hp AS (SELECT * FROM ph WHERE ${h60("'minc_' || media_id")} % 100 < 80
         |         AND ${h60("'ret_' || media_id")} % 100 < 90),
         |dp AS (SELECT * FROM ph WHERE ${h60("'minc_' || media_id")} % 100 >= 80),
         |hb0 AS (SELECT media_id, phash, g.b AS b,
         |          (phash >> (16 * g.b)) & 65535 AS bval
         |        FROM hp, unnest(generate_series(0, 3)) AS g(b)),
         |hb AS (SELECT * FROM hb0
         |       QUALIFY row_number() OVER (PARTITION BY b, bval ORDER BY media_id) <= ${Dedup.MaxBucketSize}),
         |db AS (SELECT media_id, phash, g.b AS b,
         |         (phash >> (16 * g.b)) & 65535 AS bval
         |       FROM dp, unnest(generate_series(0, 3)) AS g(b))
         |SELECT DISTINCT h.media_id AS hist_media, d.media_id AS delta_media,
         |  CAST(bit_count(xor(h.phash, d.phash)) AS INT) AS hamming
         |FROM hb h JOIN db d ON h.b = d.b AND h.bval = d.bval
         |WHERE bit_count(xor(h.phash, d.phash)) <= 3
         |ORDER BY hist_media, delta_media""".stripMargin,

    // mirrors dedup_retire_apply: the incremental-apply chain with the
    // history signature set further filtered by the takedown salt.
    "dedup_retire_apply" ->
      s"""${incChainCteFor("inc_", 80,
             s" AND ${h60("'ret_' || doc_id")} % 100 < 90")}
         |SELECT d0.doc_id FROM documents d0
         |WHERE ${h60("'inc_' || d0.doc_id")} % 100 >= 80
         |  AND d0.doc_id NOT IN (SELECT delta_doc FROM cand
         |                        WHERE n_matching >= ${Dedup.NumHashes / 2})
         |ORDER BY d0.doc_id""".stripMargin,

    // mirrors novelty_retire: the novelty chain with the history span
    // index built from surviving (non-retired) history docs only.
    "novelty_retire" ->
      s"""WITH hist AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |        WHERE ${h60("'inc_' || doc_id")} % 100 < 80
         |          AND ${h60("'ret_' || doc_id")} % 100 < 90),
         |delta AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |        WHERE ${h60("'inc_' || doc_id")} % 100 >= 80),
         |hidx AS (SELECT DISTINCT CAST('0x' || substr(md5(array_to_string(list_slice(toks, g.i, g.i + 7), ' ')), 1, 15) AS BIGINT) AS h
         |         FROM hist, unnest(generate_series(1, len(toks) - 7)) AS g(i)),
         |dw AS (SELECT doc_id,
         |         CASE WHEN CAST('0x' || substr(md5(array_to_string(list_slice(toks, g.i, g.i + 7), ' ')), 1, 15) AS BIGINT)
         |           IN (SELECT h FROM hidx) THEN 1 ELSE 0 END AS seen
         |       FROM delta, unnest(generate_series(1, len(toks) - 7)) AS g(i))
         |SELECT doc_id, count(*) AS n_windows, CAST(sum(seen) AS BIGINT) AS n_seen,
         |  CAST(count(*) - sum(seen) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
         |FROM dw GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    // mirrors ann_retrain: the ann_ivf_kmeans chain with every source
    // (init seeds, Lloyd steps, final assignment, queries) filtered to
    // takedown survivors.
    "ann_retrain" ->
      s"""$embCte,
         |ns AS (SELECT * FROM n WHERE ${h60("'ret_' || vec_id")} % 100 < 90),
         |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv, nrm AS c_nrm
         |       FROM ns WHERE vec_id < 8),
         |${kmAssignCte("a1", "c0", "ns")},
         |${kmMeansCte("c1", "a1")},
         |${kmAssignCte("a2", "c1", "ns")},
         |${kmMeansCte("c2", "a2")},
         |${kmAssignCte("cells", "c2", "ns")},
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
         |      FROM cells WHERE vec_id < 10),
         |pc AS (SELECT q.query_id, q.qv, q.qn, c.cell,
         |         ${safe6(dotSql("q.qv", "c.cv") + " / (q.qn * c.c_nrm)")} AS c_cos
         |       FROM q, c2 c),
         |pr AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY c_cos DESC, cell) AS c_rank
         |       FROM pc),
         |probe AS (SELECT query_id, qv, qn, cell FROM pr WHERE c_rank <= 2),
         |sc AS (SELECT p.query_id, cl.vec_id AS neighbor_id,
         |         ${safe6(dotSql("p.qv", "cl.v") + " / (p.qn * cl.nrm)")} AS cosine
         |       FROM probe p JOIN cells cl ON cl.cell = p.cell AND cl.vec_id <> p.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |      FROM sc)
         |SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // mirrors the IVF retire chain: the ann_ivf_kmeans quantizer
    // trained on the FULL corpus (frozen pre-takedown), the serving
    // cells filtered to survivors.
    "ann_retire" ->
      s"""$embCte,
         |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv, nrm AS c_nrm
         |       FROM n WHERE vec_id < 8),
         |${kmAssignCte("a1", "c0")},
         |${kmMeansCte("c1", "a1")},
         |${kmAssignCte("a2", "c1")},
         |${kmMeansCte("c2", "a2")},
         |${kmAssignCte("cells0", "c2")},
         |cells AS (SELECT * FROM cells0
         |          WHERE ${h60("'ret_' || vec_id")} % 100 < 90),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
         |      FROM cells WHERE vec_id < 10),
         |pc AS (SELECT q.query_id, q.qv, q.qn, c.cell,
         |         ${safe6(dotSql("q.qv", "c.cv") + " / (q.qn * c.c_nrm)")} AS c_cos
         |       FROM q, c2 c),
         |pr AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY c_cos DESC, cell) AS c_rank
         |       FROM pc),
         |probe AS (SELECT query_id, qv, qn, cell FROM pr WHERE c_rank <= 2),
         |sc AS (SELECT p.query_id, cl.vec_id AS neighbor_id,
         |         ${safe6(dotSql("p.qv", "cl.v") + " / (p.qn * cl.nrm)")} AS cosine
         |       FROM probe p JOIN cells cl ON cl.cell = p.cell AND cl.vec_id <> p.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |      FROM sc)
         |SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // mirrors Lifecycle.snapshotDiff over Dedup.fingerprints of the two
    // simulated snapshot memberships (v2 revises 5% of its texts).
    "snapshot_diff" ->
      s"""WITH v1 AS (SELECT doc_id, md5(text) AS fp_v1 FROM documents
         |            WHERE ${h60("'v1_' || doc_id")} % 100 < 90),
         |v2 AS (SELECT doc_id,
         |         md5(CASE WHEN ${h60("'chg_' || doc_id")} % 100 < 5
         |             THEN text || ' [rev2]' ELSE text END) AS fp_v2
         |       FROM documents
         |       WHERE ${h60("'v2_' || doc_id")} % 100 < 90),
         |j AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
         |        fp_v1, fp_v2,
         |        CASE WHEN fp_v1 IS NULL THEN 'added'
         |             WHEN fp_v2 IS NULL THEN 'removed'
         |             WHEN fp_v1 <> fp_v2 THEN 'changed'
         |             ELSE 'unchanged' END AS status
         |      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
         |SELECT doc_id, fp_v1, fp_v2, status FROM j
         |WHERE status <> 'unchanged' ORDER BY doc_id""".stripMargin,

    "index_compact_stats" ->
      s"""${docsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$shCappedCte,
         |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |         FROM shc x JOIN shc y
         |           ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
         |${jaccardCte("shc")},
         |p AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.5),
         |e AS (SELECT d1 AS a, d2 AS b FROM p UNION SELECT d2, d1 FROM p),
         |nodes AS (SELECT DISTINCT a AS id FROM e),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b
         |),
         |asg AS (SELECT id AS doc_id, min(r) AS rep FROM reach GROUP BY id),
         |b AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_index_rows FROM sh),
         |d AS (SELECT CAST(count(*) AS BIGINT) AS n_dropped FROM asg WHERE doc_id <> rep)
         |SELECT n_index_rows, n_index_rows - n_dropped AS n_kept, n_dropped
         |FROM b, d""".stripMargin,

    // mirrors Dedup.simhashIncremental: salted 80/20 simhash split,
    // history bands capped, band join, hamming verify off joined hashes.
    "dedup_simhash_incremental" ->
      s"""$docsCte,
         |$simhashCte,
         |hsim AS (SELECT * FROM shh WHERE ${h60("'inc_' || doc_id")} % 100 < 80),
         |dsim AS (SELECT * FROM shh WHERE ${h60("'inc_' || doc_id")} % 100 >= 80),
         |shb0 AS (SELECT doc_id, simhash, u.b AS b,
         |           (simhash >> (15 * u.b)) & 32767 AS bval
         |         FROM hsim, unnest([0, 1, 2, 3]) AS u(b)),
         |shb AS (SELECT * FROM shb0
         |        QUALIFY row_number() OVER (PARTITION BY b, bval ORDER BY doc_id) <= ${Dedup.MaxBucketSize}),
         |sdb AS (SELECT doc_id, simhash, u.b AS b,
         |          (simhash >> (15 * u.b)) & 32767 AS bval
         |        FROM dsim, unnest([0, 1, 2, 3]) AS u(b))
         |SELECT DISTINCT h.doc_id AS hist_doc, d.doc_id AS delta_doc,
         |  CAST(bit_count(xor(h.simhash, d.simhash)) AS INT) AS hamming
         |FROM shb h JOIN sdb d ON h.b = d.b AND h.bval = d.bval
         |WHERE bit_count(xor(h.simhash, d.simhash)) <= 3
         |ORDER BY hist_doc, delta_doc""".stripMargin,

    "sample_hash_10pct" ->
      s"""SELECT doc_id FROM documents
         |WHERE ${h60("'sample_' || doc_id")} % 100 < 10
         |ORDER BY doc_id""".stripMargin,

    // mirrors TextAnalysis.scrubPii: same lookaround-free patterns,
    // same fixed application order (email -> ipv4 -> long digits).
    "scrub_pii" ->
      """WITH s AS (SELECT doc_id, text,
        |  regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g') AS no_email FROM documents),
        |s2 AS (SELECT *, regexp_replace(no_email,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
        |    '<IP>', 'g') AS no_ip FROM s)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(no_email,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT)
        |    AS n_ipv4,
        |  CAST(len(regexp_extract_all(no_ip, '[0-9]{7,}')) AS INT)
        |    AS n_long_nums,
        |  md5(regexp_replace(no_ip, '[0-9]{7,}', '<NUM>', 'g')) AS clean_md5,
        |  regexp_replace(no_ip, '[0-9]{7,}', '<NUM>', 'g') <> text AS changed
        |FROM s2 ORDER BY doc_id""".stripMargin,

    "scrub_denylist" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(customer|vector)\b'))
        |    AS INT) AS n_hits,
        |  md5(regexp_replace(text, '\b(customer|vector)\b', '[REDACTED]',
        |    'g')) AS scrub_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // mirrors the DenylistScrub trie's leftmost-longest contract: the
    // alternation is ordered LONGEST-FIRST so RE2's leftmost-first
    // backtracking picks the longest boundary-valid branch.
    "scrub_denylist_phrases" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '\b(merge slow join|batch batch|merge slow|table scan|sort agg|stream|vector|sort)\b'))
        |    AS INT) AS n_hits,
        |  md5(regexp_replace(text,
        |    '\b(merge slow join|batch batch|merge slow|table scan|sort agg|stream|vector|sort)\b',
        |    '[REDACTED]', 'g')) AS scrub_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mixture_sample" ->
      s"""SELECT source, count(*) AS n_kept, min(doc_id) AS first_doc
         |FROM documents
         |WHERE ${h60("'mix_' || doc_id")} % 10000 <
         |  CAST((CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
         |        WHEN 'src2' THEN 0.25 ELSE 0.1 END) * 10000 AS BIGINT)
         |GROUP BY source ORDER BY source""".stripMargin,

    // mirrors TextAnalysis.mixtureTemperature: α=0.5 keep rates from
    // source sizes, 6-decimal rounded before the hash-fraction compare.
    // mirrors TextAnalysis.mixtureReweight: lm_score's token-score
    // stream rolled up per SOURCE, the exp tilt pinned at 1e-9,
    // numerators at 1e-12 integers, one normalizing division.
    "mixture_reweight" ->
      """WITH k AS (SELECT doc_id, source, lang,
        |       unnest(string_split(text, ' ')) AS t
        |     FROM documents),
        |tr AS (SELECT t, count(*) AS c FROM k WHERE lang = 'en' GROUP BY t),
        |m AS (SELECT CAST(sum(c) AS DOUBLE) AS tt,
        |        CAST(count(*) AS DOUBLE) AS vv FROM tr),
        |sc AS (SELECT k.source,
        |         CAST(round(ln((CAST(coalesce(tr.c, 0) AS DOUBLE) + 1.0)
        |           / (m.tt + m.vv + 1.0)) * 1000000.0, 0) AS BIGINT) AS lp6
        |       FROM k LEFT JOIN tr ON k.t = tr.t, m),
        |per AS (SELECT source, count(*) AS n_tokens,
        |          CAST(sum(lp6) AS BIGINT) AS s6 FROM sc GROUP BY source),
        |perl AS (SELECT *, (-(CAST(s6 AS DOUBLE) / 1.0e6))
        |           / CAST(n_tokens AS DOUBLE) AS loss FROM per),
        |nd AS (SELECT source, count(*) AS n_docs FROM documents
        |       GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens
        |        FROM perl),
        |ml AS (SELECT min(loss) AS min_loss FROM perl),
        |pre AS (SELECT perl.source, nd.n_docs, perl.n_tokens,
        |          CAST(perl.n_tokens AS DOUBLE)
        |            / CAST(tot.tot_tokens AS DOUBLE) AS share,
        |          perl.loss, perl.loss - ml.min_loss AS excess,
        |          CAST(round(exp(1.0 * (perl.loss - ml.min_loss))
        |            * 1.0e9, 0) AS BIGINT) AS exp9
        |        FROM perl JOIN nd ON nd.source = perl.source, tot, ml),
        |pre2 AS (SELECT *, CAST(round(share
        |           * (CAST(exp9 AS DOUBLE) / 1.0e9) * 1.0e12, 0)
        |           AS BIGINT) AS num12 FROM pre),
        |z AS (SELECT CAST(sum(num12) AS BIGINT) AS z12 FROM pre2)
        |SELECT source, n_docs, n_tokens,
        |  round(share * 1.0e6, 0) / 1.0e6 AS token_share,
        |  round(loss * 1.0e6, 0) / 1.0e6 AS loss,
        |  round(excess * 1.0e6, 0) / 1.0e6 AS excess_loss,
        |  round((CAST(num12 AS DOUBLE) / CAST(z.z12 AS DOUBLE))
        |    * 1.0e6, 0) / 1.0e6 AS weight
        |FROM pre2, z ORDER BY source""".stripMargin,

    "mixture_temperature" ->
      s"""WITH s AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
         |t AS (SELECT CAST(sum(n_s) AS DOUBLE) AS nn,
         |        CAST(sum(CAST(round(sqrt(CAST(n_s AS DOUBLE)) * 1000000.0, 0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sq
         |      FROM s),
         |r AS (SELECT source, n_s,
         |        least(1.0, 0.5 * t.nn * (sqrt(CAST(n_s AS DOUBLE)) / t.sq)
         |          / CAST(n_s AS DOUBLE)) AS keep_rate
         |      FROM s, t),
         |k AS (SELECT d.source, count(*) AS n_kept
         |      FROM documents d JOIN r ON d.source = r.source
         |      WHERE CAST(${h60("'mixt_' || doc_id")} % 1000000 AS DOUBLE)
         |        / 1000000.0 < r.keep_rate
         |      GROUP BY d.source)
         |SELECT r.source, CAST(r.n_s AS BIGINT) AS n_total, r.keep_rate,
         |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
         |FROM r LEFT JOIN k ON r.source = k.source
         |ORDER BY r.source""".stripMargin,

    // mirrors TextAnalysis.vocabCoverage: top-k vocabulary with
    // cumulative share of all token occurrences.
    "bpe_learn" -> bpeOracleSql(8),

    "bpe_segment" -> bpeSegmentOracleSql(8),

    "wordpiece_learn" -> wordpieceOracleSql(8),

    "wordpiece_segment" -> wordpieceSegmentOracleSql(8),

    "wordpiece_budget_stats" -> wordpieceBudgetOracleSql(8, 512),

    "vocab_coverage" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |c AS (SELECT t, count(*) AS cnt FROM toks GROUP BY t),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
        |top AS (SELECT t, cnt FROM c ORDER BY cnt DESC, t LIMIT 50),
        |r AS (SELECT t, cnt,
        |        row_number() OVER (ORDER BY cnt DESC, t) AS rank,
        |        sum(cnt) OVER (ORDER BY cnt DESC, t ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM top)
        |SELECT rank, t, cnt, CAST(cum AS DOUBLE) / tot.total AS cum_frac
        |FROM r, tot ORDER BY rank""".stripMargin,

    "doc_shards" ->
      s"""SELECT ${h60("'shard_' || doc_id")} % 64 AS shard,
         |  count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,

    "ship_manifest" ->
      s"""SELECT ${h60("'shard_' || doc_id")} % 64 AS shard,
         |  count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  min(doc_id) AS min_doc,
         |  max(doc_id) AS max_doc,
         |  bit_xor(${h60("CAST(doc_id AS VARCHAR) || ':' || md5(text)")})
         |    AS fingerprint
         |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,

    "pack_sequences" ->
      s"""WITH d AS (
         |  SELECT ${h60("'shard_' || doc_id")} % 8 AS shard, doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT shard, doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum_tok
         |  FROM d)
         |SELECT shard, CAST((CASE WHEN (cum_tok - n_tok) < 0 THEN -((-(cum_tok - n_tok)) // (512)) ELSE (cum_tok - n_tok) // (512) END) AS BIGINT) AS pack_id,
         |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM c GROUP BY shard, (CASE WHEN (cum_tok - n_tok) < 0 THEN -((-(cum_tok - n_tok)) // (512)) ELSE (cum_tok - n_tok) // (512) END)
         |ORDER BY shard, pack_id""".stripMargin,

    // mirrors TextAnalysis.epochOrder: salted shard + salted order key,
    // rank within shard — pure SQL because position derives only from
    // (epoch, doc_id).
    "epoch_order" ->
      s"""WITH b AS (SELECT doc_id,
         |    ${h60("'shard_' || doc_id")} % 8 AS shard,
         |    ${h60("'epoch0_' || doc_id")} AS okey
         |  FROM documents)
         |SELECT shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY okey, doc_id)
         |    AS INT) AS epoch_pos,
         |  doc_id
         |FROM b ORDER BY shard, epoch_pos""".stripMargin,

    // mirrors TextAnalysis.packSequencesSubword: pack_sequences with
    // n_tok = the recursive greedy walk's per-doc piece count.
    "pack_sequences_subword" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |w AS (SELECT doc_id, u.word AS word FROM t, unnest(toks) AS u(word)
         |      WHERE u.word <> ''),
         |pieces AS (
         |  SELECT doc_id, word, 1 AS pos,
         |    coalesce(list_filter($vocabSql, v -> v = substr(word, 1, len(v)))[1],
         |             substr(word, 1, 1)) AS piece
         |  FROM w
         |  UNION ALL
         |  SELECT doc_id, word, pos + len(piece),
         |    coalesce(list_filter($vocabSql,
         |               v -> v = substr(word, pos + len(piece), len(v)))[1],
         |             substr(word, pos + len(piece), 1))
         |  FROM pieces WHERE pos + len(piece) <= len(word)),
         |per AS (SELECT doc_id, count(*) AS n_sub FROM pieces GROUP BY doc_id),
         |d AS (SELECT t.doc_id, ${h60("'shard_' || t.doc_id")} % 8 AS shard,
         |        CAST(coalesce(per.n_sub, 0) AS BIGINT) AS n_tok
         |      FROM t LEFT JOIN per ON per.doc_id = t.doc_id),
         |cm AS (SELECT shard, doc_id, n_tok,
         |         sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |           ROWS UNBOUNDED PRECEDING) AS cum_tok
         |       FROM d)
         |SELECT shard, CAST((CASE WHEN (cum_tok - n_tok) < 0 THEN -((-(cum_tok - n_tok)) // (512)) ELSE (cum_tok - n_tok) // (512) END) AS BIGINT) AS pack_id,
         |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM cm GROUP BY shard, (CASE WHEN (cum_tok - n_tok) < 0 THEN -((-(cum_tok - n_tok)) // (512)) ELSE (cum_tok - n_tok) // (512) END)
         |ORDER BY shard, pack_id""".stripMargin,

    // mirrors TextAnalysis.tokenizeVocab: the greedy longest-match
    // subword walk as a recursive CTE — each recursive row advances by
    // the previous piece's length and emits the piece found there; the
    // vocab literal is sorted longest-first so list_filter(...)[1] IS
    // the greedy match, and the fallback single character can never
    // itself be a vocab member (it would have matched).
    "tokenize_vocab" ->
      s"""WITH RECURSIVE w AS (
         |  SELECT doc_id, u.word AS word
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
         |       unnest(toks) AS u(word)
         |  WHERE u.word <> ''),
         |pieces AS (
         |  SELECT doc_id, word, 1 AS pos,
         |    coalesce(list_filter($vocabSql, v -> v = substr(word, 1, len(v)))[1],
         |             substr(word, 1, 1)) AS piece
         |  FROM w
         |  UNION ALL
         |  SELECT doc_id, word, pos + len(piece),
         |    coalesce(list_filter($vocabSql,
         |               v -> v = substr(word, pos + len(piece), len(v)))[1],
         |             substr(word, pos + len(piece), 1))
         |  FROM pieces WHERE pos + len(piece) <= len(word))
         |SELECT piece, NOT list_contains($vocabSql, piece) AS is_oov,
         |  count(*) AS n
         |FROM pieces GROUP BY piece ORDER BY n DESC, piece""".stripMargin,

    // mirrors TextAnalysis.tokenBudgetStats over the same walk; word
    // count includes empty split tokens (the corpus-wide convention),
    // fertility / oov_rate are exact integer quotients.
    "token_budget_stats" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |w AS (SELECT doc_id, u.word AS word FROM t, unnest(toks) AS u(word)
         |      WHERE u.word <> ''),
         |pieces AS (
         |  SELECT doc_id, word, 1 AS pos,
         |    coalesce(list_filter($vocabSql, v -> v = substr(word, 1, len(v)))[1],
         |             substr(word, 1, 1)) AS piece
         |  FROM w
         |  UNION ALL
         |  SELECT doc_id, word, pos + len(piece),
         |    coalesce(list_filter($vocabSql,
         |               v -> v = substr(word, pos + len(piece), len(v)))[1],
         |             substr(word, pos + len(piece), 1))
         |  FROM pieces WHERE pos + len(piece) <= len(word)),
         |per AS (SELECT doc_id, count(*) AS n_sub,
         |          sum(CASE WHEN NOT list_contains($vocabSql, piece)
         |              THEN 1 ELSE 0 END) AS n_oov
         |        FROM pieces GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.toks) AS INT) AS n_words,
         |  CAST(coalesce(per.n_sub, 0) AS INT) AS n_subtokens,
         |  CAST(coalesce(per.n_oov, 0) AS INT) AS n_oov,
         |  CAST(coalesce(per.n_sub, 0) AS DOUBLE) / CAST(len(t.toks) AS DOUBLE)
         |    AS fertility,
         |  CASE WHEN coalesce(per.n_sub, 0) > 0
         |    THEN CAST(per.n_oov AS DOUBLE) / CAST(per.n_sub AS DOUBLE)
         |    ELSE 0.0 END AS oov_rate
         |FROM t LEFT JOIN per ON per.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin,

    "quality_filter" ->
      s"""$docsCte,
         |q AS (SELECT doc_id,
         |  round((CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
         |    * (1.0 - CAST(len(list_filter(toks, tk -> list_contains(['the','a','of','and','to','in','is','on','for','with'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
         |    * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
       |    * 1.0e6, 0) / 1.0e6 AS quality_score
         |  FROM t)
         |SELECT doc_id, quality_score FROM q WHERE quality_score >= 0.35
         |ORDER BY doc_id""".stripMargin,

    // mirrors TextAnalysis.qualityTopDecile: per-source ntile(10) cut
    // (rank-based — no percentile interpolation to drift cross-engine).
    "quality_top_decile" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks, text
        |       FROM documents),
        |q AS (SELECT doc_id, source,
        |  round((CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
        |    * (1.0 - CAST(len(list_filter(toks, tk -> list_contains(['the','a','of','and','to','in','is','on','for','with'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
        |    * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
       |    * 1.0e6, 0) / 1.0e6 AS quality_score
        |  FROM t),
        |r AS (SELECT *, ntile(10) OVER (PARTITION BY source ORDER BY quality_score, doc_id) AS dec
        |      FROM q)
        |SELECT source, doc_id, quality_score FROM r WHERE dec = 10
        |ORDER BY source, doc_id""".stripMargin,

    "corpus_balance" ->
      s"""$docsCte,
         |s AS (SELECT doc_id,
         |  round((CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
         |    * (1.0 - CAST(len(list_filter(toks, tk -> list_contains(['the','a','of','and','to','in','is','on','for','with'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
         |    * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
       |    * 1.0e6, 0) / 1.0e6 AS quality_score,
         |  round(CAST(len(list_filter(toks, tk -> list_contains(['the','a','of','and','to','in','is'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS score_en,
         |  round(CAST(len(list_filter(toks, tk -> list_contains(['el','la','de','que','y','en'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS score_es,
         |  round(CAST(len(list_filter(toks, tk -> list_contains(['der','die','das','und','ist'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS score_de,
         |  round(CAST(len(list_filter(toks, tk -> list_contains(['le','la','de','et','est'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS score_fr
         |  FROM t),
         |l AS (SELECT doc_id, quality_score,
         |  CASE WHEN score_en = 0 AND score_es = 0 AND score_de = 0 AND score_fr = 0 THEN 'und'
         |       WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
         |       WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
         |       WHEN score_de >= score_fr THEN 'de'
         |       ELSE 'fr' END AS lang_pred
         |  FROM s),
         |r AS (SELECT doc_id, lang_pred, quality_score,
         |  CAST(row_number() OVER (PARTITION BY lang_pred ORDER BY quality_score DESC, doc_id) AS INT) AS lang_rank
         |  FROM l)
         |SELECT doc_id, lang_pred, quality_score, lang_rank FROM r
         |WHERE lang_rank <= 50
         |ORDER BY lang_pred, lang_rank""".stripMargin,

    "quality_signals" ->
      s"""$docsCte,
         |g AS (SELECT doc_id, toks,
         |  list_transform(generate_series(1, len(toks) - 1),
         |    i -> concat_ws(' ', toks[i], toks[i+1])) AS bg,
         |  list_transform(generate_series(1, len(toks) - 2),
         |    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS tg
         |  FROM t)
         |SELECT doc_id,
         |  len(toks) AS n_tokens,
         |  CASE WHEN len(toks) > 0 THEN
         |    round(CAST(list_max(list_transform(list_distinct(toks),
         |      u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE)
         |      / CAST(len(toks) AS DOUBLE) * 1.0e6, 0) / 1.0e6
         |    ELSE CAST(0 AS DOUBLE) END AS top_token_frac,
         |  CASE WHEN len(bg) > 0 THEN
         |    round(CAST(list_max(list_transform(list_distinct(bg),
         |      u -> len(list_filter(bg, x -> x = u)))) AS DOUBLE)
         |      / CAST(len(bg) AS DOUBLE) * 1.0e6, 0) / 1.0e6
         |    ELSE CAST(0 AS DOUBLE) END AS top_bigram_frac,
         |  CASE WHEN len(tg) > 0 THEN
         |    round((CAST(1 AS DOUBLE) - CAST(len(list_distinct(tg)) AS DOUBLE)
         |      / CAST(len(tg) AS DOUBLE)) * 1.0e6, 0) / 1.0e6
         |    ELSE CAST(0 AS DOUBLE) END AS dup_trigram_frac
         |FROM g ORDER BY doc_id""".stripMargin,

    // mirrors TextAnalysis.lmScoreBigram: stupid-backoff bigram scores,
    // exact scaled-long sums; 1-token docs excluded in both engines.
    "lm_score_bigram" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |pr AS (SELECT doc_id, lang, toks[g.i - 1] AS t1, toks[g.i] AS t2
        |       FROM t, unnest(generate_series(2, len(toks))) AS g(i)
        |       WHERE len(toks) >= 2),
        |bi AS (SELECT t1, t2, count(*) AS cb FROM pr WHERE lang = 'en' GROUP BY t1, t2),
        |toku AS (SELECT unnest(toks) AS tk FROM t WHERE lang = 'en'),
        |uni AS (SELECT tk, count(*) AS c FROM toku GROUP BY tk),
        |m AS (SELECT CAST(sum(c) AS DOUBLE) AS tt, CAST(count(*) AS DOUBLE) AS vv FROM uni),
        |sc AS (SELECT pr.doc_id,
        |         CASE WHEN bi.cb IS NULL THEN 1 ELSE 0 END AS backoff,
        |         CAST(round(ln(CASE WHEN coalesce(bi.cb, 0) > 0
        |             THEN CAST(bi.cb AS DOUBLE) / CAST(u1.c AS DOUBLE)
        |             ELSE 0.4 * (CAST(coalesce(u2.c, 0) AS DOUBLE) + 1.0) / (m.tt + m.vv + 1.0) END) * 1000000.0, 0) AS BIGINT) AS lp6
        |       FROM pr
        |       LEFT JOIN bi ON pr.t1 = bi.t1 AND pr.t2 = bi.t2
        |       LEFT JOIN uni u1 ON pr.t1 = u1.tk
        |       LEFT JOIN uni u2 ON pr.t2 = u2.tk, m),
        |d AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp6) AS s6,
        |        sum(backoff) AS n_backoff
        |      FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_bigrams,
        |  CAST(s6 AS DOUBLE) / 1000000.0 / CAST(n_bigrams AS DOUBLE) AS avg_logscore,
        |  CAST(n_backoff AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS backoff_rate
        |FROM d ORDER BY doc_id""".stripMargin,

    // mirrors TextAnalysis.chunkDocs: chunk starts 1, 1+96, … ≤ n_tokens;
    // chunk_idx = (start−1)/stride = posexplode ordinal.
    "doc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id, CAST((CASE WHEN (g.s - 1) < 0 THEN -((-(g.s - 1)) // (96)) ELSE (g.s - 1) // (96) END) AS INT) AS chunk_idx,
        |  len(list_slice(toks, g.s, g.s + 127)) AS n_chunk_tokens,
        |  md5(array_to_string(list_slice(toks, g.s, g.s + 127), ' ')) AS chunk_md5
        |FROM t, unnest(generate_series(1, len(toks), 96)) AS g(s)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // mirrors TextAnalysis.cdcChunks: a token is a cut point when its
    // salted hash60 ≡ 0 (mod 16); it ENDS its chunk, so a token's
    // chunk ordinal = 1 + cuts strictly before it.
    "cdc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |tok AS (SELECT doc_id, g.i AS i, toks[g.i] AS tk
        |        FROM t, unnest(generate_series(1, len(toks))) AS g(i)),
        |b AS (SELECT doc_id, i, tk,
        |        CASE WHEN (CAST('0x' || substr(md5('cdc_' || tk), 1, 15) AS BIGINT) % 16) = 0
        |          THEN 1 ELSE 0 END AS cut
        |      FROM tok),
        |c AS (SELECT doc_id, i, tk,
        |        1 + coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
        |      FROM b)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(min(i) AS INT) AS start_i,
        |  CAST(count(*) AS INT) AS n_chunk_tokens,
        |  md5(string_agg(tk, ' ' ORDER BY i)) AS chunk_md5
        |FROM c GROUP BY doc_id, chunk_idx
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // mirrors TextAnalysis.cdcDupChunks over the cdc_chunks stream.
    "cdc_dup_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |tok AS (SELECT doc_id, g.i AS i, toks[g.i] AS tk
        |        FROM t, unnest(generate_series(1, len(toks))) AS g(i)),
        |b AS (SELECT doc_id, i, tk,
        |        CASE WHEN (CAST('0x' || substr(md5('cdc_' || tk), 1, 15) AS BIGINT) % 16) = 0
        |          THEN 1 ELSE 0 END AS cut
        |      FROM tok),
        |c AS (SELECT doc_id, i, tk,
        |        1 + coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
        |      FROM b),
        |ch AS (SELECT doc_id, chunk_idx, count(*) AS n_chunk_tokens,
        |         md5(string_agg(tk, ' ' ORDER BY i)) AS chunk_md5
        |       FROM c GROUP BY doc_id, chunk_idx)
        |SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_copies,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  min(doc_id) AS first_doc,
        |  CAST(max(n_chunk_tokens) AS INT) AS n_chunk_tokens
        |FROM ch GROUP BY chunk_md5 HAVING count(*) > 1
        |ORDER BY chunk_md5""".stripMargin,

    // mirrors TextAnalysis.incrementalCdcDups: the cdc_chunks chunker
    // over BOTH sides of the salted 80/20 split; hist contributes only
    // its distinct chunk_md5 (the persisted index), delta chunks
    // semi-join it.
    "cdc_dup_incremental" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |tok AS (SELECT doc_id, g.i AS i, toks[g.i] AS tk
         |        FROM t, unnest(generate_series(1, len(toks))) AS g(i)),
         |b AS (SELECT doc_id, i, tk,
         |        CASE WHEN (CAST('0x' || substr(md5('cdc_' || tk), 1, 15) AS BIGINT) % 16) = 0
         |          THEN 1 ELSE 0 END AS cut
         |      FROM tok),
         |c AS (SELECT doc_id, i, tk,
         |        1 + coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
         |      FROM b),
         |ch AS (SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
         |         CAST(min(i) AS INT) AS start_i,
         |         CAST(count(*) AS INT) AS n_chunk_tokens,
         |         md5(string_agg(tk, ' ' ORDER BY i)) AS chunk_md5
         |       FROM c GROUP BY doc_id, chunk_idx),
         |hidx AS (SELECT DISTINCT chunk_md5 FROM ch
         |         WHERE ${h60("'inc_' || doc_id")} % 100 < 80)
         |SELECT doc_id, chunk_idx, start_i, n_chunk_tokens, chunk_md5
         |FROM ch
         |WHERE ${h60("'inc_' || doc_id")} % 100 >= 80
         |  AND chunk_md5 IN (SELECT chunk_md5 FROM hidx)
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    // mirrors TextAnalysis.bm25TopK: Lucene-form idf, k1=1.2 b=0.75;
    // e0 literals + explicit parens reproduce the engine's exact IEEE
    // constant folds and operation order; per-term scores scaled to
    // exact longs before the per-doc sum (order-independent).
    // mirrors TextAnalysis.hybridSearch: query-by-document BM25 leg
    // (query terms = each query doc's distinct tokens, df over the
    // term-filtered postings) + exact-cosine dense leg, RRF K=60,
    // top-20 per leg, fused top-10 per query, ties by doc_id.
    "hybrid_search" ->
      s"""$embCte,
         |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |corpus AS (SELECT count(*) AS cn, sum(len(toks)) AS tot_len FROM t),
         |qt AS (SELECT DISTINCT doc_id AS query_id, u.t
         |       FROM t, unnest(toks) AS u(t) WHERE doc_id < 10),
         |tf AS (SELECT doc_id, len(toks) AS dl, u.t, count(*) AS tf
         |       FROM t, unnest(toks) AS u(t)
         |       WHERE u.t IN (SELECT DISTINCT t FROM qt)
         |       GROUP BY doc_id, len(toks), u.t),
         |dfq AS (SELECT t, count(*) AS doc_freq FROM tf GROUP BY t),
         |sc AS (SELECT tf.t, tf.doc_id,
         |         CAST(round(ln((CAST(cn AS DOUBLE) - CAST(doc_freq AS DOUBLE) + 0.5e0)
         |             / (CAST(doc_freq AS DOUBLE) + 0.5e0) + 1.0e0)
         |           * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0))
         |           / (CAST(tf AS DOUBLE) + 1.2e0 * ((1.0e0 - 0.75e0) + 0.75e0
         |               * CAST(dl AS DOUBLE) / (CAST(tot_len AS DOUBLE) / CAST(cn AS DOUBLE))))
         |           * 1000000.0, 0) AS BIGINT) AS s6
         |       FROM tf JOIN dfq USING (t), corpus),
         |lexs AS (SELECT qt.query_id, sc.doc_id, sum(s6) AS s6
         |         FROM sc JOIN qt USING (t) WHERE sc.doc_id <> qt.query_id
         |         GROUP BY qt.query_id, sc.doc_id),
         |lex AS (SELECT query_id, doc_id,
         |          row_number() OVER (PARTITION BY query_id ORDER BY s6 DESC, doc_id) AS lex_rank
         |        FROM lexs QUALIFY lex_rank <= 20),
         |qv AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
         |pc AS (SELECT qv.query_id, n.vec_id AS doc_id,
         |         ${safe6(dotSql("qv.qv", "n.v") + " / (qv.qn * n.nrm)")} AS cosine
         |       FROM qv, n WHERE n.vec_id <> qv.query_id),
         |ann AS (SELECT query_id, doc_id,
         |          row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS ann_rank
         |        FROM pc QUALIFY ann_rank <= 20),
         |f AS (SELECT coalesce(lex.query_id, ann.query_id) AS query_id,
         |        coalesce(lex.doc_id, ann.doc_id) AS doc_id,
         |        lex.lex_rank, ann.ann_rank,
         |        round((coalesce(1.0e0 / (60.0e0 + CAST(lex_rank AS DOUBLE)), 0.0e0)
         |          + coalesce(1.0e0 / (60.0e0 + CAST(ann_rank AS DOUBLE)), 0.0e0))
         |          * 1.0e6, 0) / 1.0e6 AS rrf
         |      FROM lex FULL JOIN ann
         |        ON lex.query_id = ann.query_id AND lex.doc_id = ann.doc_id)
         |SELECT query_id, doc_id, lex_rank, ann_rank, rrf,
         |  row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
         |FROM f QUALIFY rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // mirrors TextAnalysis.maxSimRerank: the hybrid_search BM25 leg
    // supplies top-20 candidates; per-24-token-chunk 16-bucket hashed
    // count vectors, each chunk-pair cosine pinned once at 1e-6 units,
    // integer max per query chunk and integer sum per pair.
    "maxsim_topk" ->
      s"""WITH ${maxSimCtes()}
         |SELECT query_id, doc_id, lex_rank,
         |  CAST(s6u AS DOUBLE) / 1000000.0 AS maxsim, rank
         |FROM msr WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // mirrors TextAnalysis.unigramPieces: occurrence-multiplicity
    // substring counts, 1-row total, rank-capped inventory, one ln
    // pinned per piece at 1e-9 integer units.
    "unigram_lm_learn" ->
      s"""WITH $unigramPieceCtes
         |SELECT piece, n_occ, cost_n FROM kp ORDER BY piece""".stripMargin,

    // mirrors TextAnalysis.unigramSegment: the same piece model, then
    // a 12-stage unrolled integer Viterbi over the distinct vocabulary
    // (key = cost*8 + (4-L): min cost, ties to the longer piece).
    "unigram_segment" ->
      s"""WITH $unigramPieceCtes,
         |$unigramViterbiCtes,
         |res AS (${(1 to 12).map(i =>
             s"SELECT w, c, seg FROM b$i WHERE wl = $i")
             .mkString("\n         |  UNION ALL ")})
         |SELECT w, seg,
         |  CAST(len(string_split(seg, ' ')) AS INT) AS n_pieces,
         |  c AS cost_n
         |FROM res ORDER BY w""".stripMargin,

    // mirrors TextAnalysis.spanCorruptionPack: the span plan, then
    // ordered string folds build the (input, target) pair per doc.
    "span_corruption_pack" ->
      s"""WITH $spanPlanCtes,
         |spp AS (SELECT doc_id, sentinel_id, start_tok, g.pos AS pos,
         |          g.pos = start_tok AS is_start
         |        FROM r, unnest(generate_series(start_tok,
         |          start_tok + span_len - 1)) AS g(pos)),
         |tk AS (SELECT t.doc_id, g.i AS pos, toks[g.i] AS tok
         |       FROM t, unnest(generate_series(1, len(toks))) AS g(i)),
         |pieces AS (SELECT tk.doc_id, tk.pos,
         |    CASE WHEN s.sentinel_id IS NULL THEN tk.tok
         |         WHEN s.is_start
         |           THEN '<extra_id_' || s.sentinel_id || '>' END AS piece
         |  FROM tk LEFT JOIN spp s
         |    ON s.doc_id = tk.doc_id AND s.pos = tk.pos),
         |inp AS (SELECT doc_id,
         |    string_agg(piece, ' ' ORDER BY pos)
         |      FILTER (WHERE piece IS NOT NULL) AS input_text
         |  FROM pieces GROUP BY doc_id),
         |tgt AS (SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
         |    string_agg('<extra_id_' || sentinel_id || '> ' || span_text,
         |      ' ' ORDER BY sentinel_id) AS target_text
         |  FROM r GROUP BY doc_id)
         |SELECT i.doc_id, coalesce(t2.n_spans, 0) AS n_spans,
         |  i.input_text, coalesce(t2.target_text, '') AS target_text
         |FROM inp i LEFT JOIN tgt t2 USING (doc_id)
         |ORDER BY i.doc_id""".stripMargin,

    // mirrors TextAnalysis.unigramFertility: the unigram model chain,
    // then every doc token joins the per-word piece counts.
    "unigram_fertility" ->
      s"""WITH $unigramPieceCtes,
         |$unigramViterbiCtes,
         |res AS (${(1 to 12).map(i =>
             s"SELECT w, c, seg FROM b$i WHERE wl = $i")
             .mkString("\n         |  UNION ALL ")}),
         |np AS (SELECT w,
         |         CAST(len(string_split(seg, ' ')) AS INT) AS np
         |       FROM res),
         |dt AS (SELECT doc_id, u.w
         |       FROM (SELECT doc_id, string_split(text, ' ') AS toks
         |             FROM documents) x, unnest(x.toks) AS u(w)
         |       WHERE u.w <> '')
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(np) AS BIGINT) AS n_pieces,
         |  round(CAST(sum(np) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    * 1.0e6, 0) / 1.0e6 AS fertility
         |FROM dt JOIN np USING (w) GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    // mirrors TextAnalysis.unigramLmEm: the model0 chain + Viterbi
    // segmentations, then piece counts re-estimated from the
    // segmentations weighted by word frequency, costs re-pinned at
    // 1e-9 (one hard-EM round, unused candidates pruned).
    "unigram_lm_em" ->
      s"""WITH $unigramPieceCtes,
         |$unigramViterbiCtes,
         |$unigramEmCtes
         |SELECT piece, n_occ, cost_n FROM kp2 ORDER BY piece""".stripMargin,

    // mirrors TextAnalysis.unigramEmGain: a SECOND 12-stage Viterbi
    // unroll under the EM model (prefix d over kp2), then per-stage
    // corpus cost / subword budget / fertility from the
    // frequency-weighted word segmentations.
    "unigram_em_gain" ->
      s"""WITH $unigramPieceCtes,
         |$unigramViterbiCtes,
         |$unigramEmCtes,
         |${viterbiCtes("d", "kp2")},
         |res1 AS (${viterbiRes("d")}),
         |g0 AS (SELECT 0 AS stage,
         |        (SELECT CAST(count(*) AS INT) FROM kp) AS inventory,
         |        CAST(sum(f) AS BIGINT) AS n_tokens,
         |        CAST(sum(f * len(string_split(r.seg, ' '))) AS BIGINT)
         |          AS n_subwords,
         |        CAST(sum(f * r.c) AS BIGINT) AS corpus_cost_n
         |       FROM res r JOIN wf USING (w)),
         |g1 AS (SELECT 1 AS stage,
         |        (SELECT CAST(count(*) AS INT) FROM kp2) AS inventory,
         |        CAST(sum(f) AS BIGINT) AS n_tokens,
         |        CAST(sum(f * len(string_split(r.seg, ' '))) AS BIGINT)
         |          AS n_subwords,
         |        CAST(sum(f * r.c) AS BIGINT) AS corpus_cost_n
         |       FROM res1 r JOIN wf USING (w))
         |SELECT stage, inventory, n_tokens, n_subwords, corpus_cost_n,
         |  round(CAST(n_subwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |    * 1.0e6, 0) / 1.0e6 AS fertility
         |FROM (SELECT * FROM g0 UNION ALL SELECT * FROM g1)
         |ORDER BY stage""".stripMargin,

    // mirrors TextAnalysis.unigramPrune: the full prune-lineage chain
    // (seed → EM → prune@36 → prune@24), output = the final model.
    "unigram_lm_prune" ->
      s"""WITH $unigramPruneCtes
         |SELECT piece, n_occ, cost_n FROM pm2 ORDER BY piece""".stripMargin,

    // mirrors TextAnalysis.unigramPruneCurve: the same lineage plus a
    // FOURTH Viterbi unroll under the final model, one audit row per
    // stage (budgets freq-weighted over the word-type table).
    "unigram_prune_curve" ->
      s"""WITH $unigramPruneCtes,
         |${viterbiCtes("vb", "pm2")},
         |stg AS (${unigramStageStatSql(0, "b", "kp")}
         |  UNION ALL ${unigramStageStatSql(1, "d", "kp2")}
         |  UNION ALL ${unigramStageStatSql(2, "va", "pm1")}
         |  UNION ALL ${unigramStageStatSql(3, "vb", "pm2")})
         |SELECT stage, inventory, n_tokens, n_subwords, corpus_cost_n,
         |  round(CAST(n_subwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |    * 1.0e6, 0) / 1.0e6 AS fertility
         |FROM stg ORDER BY stage""".stripMargin,

    // mirrors Similarity.bitextMine: the hyperplane-LSH chain over the
    // lang-joined vectors, per-side capped bucket membership, bipartite
    // candidates, 1e-6-pinned cosines (positive only), per-side k-NN
    // sums, the ratio margin as ONE double division of exact integers,
    // rank-1 + margin>1 mined pairs.
    "bitext_mine" -> bitextMineSql("documents"),

    // mirrors the bitext_retire composition: the identical chain over
    // the SURVIVING corpus only (full-recompute-minus-retired — the
    // retire family's oracle convention; neighborhood means
    // re-normalize because the k-NN sums see only survivors).
    "bitext_retire" -> bitextMineSql(
      s"""(SELECT * FROM documents
         |   WHERE ${h60("'ret_' || doc_id")} % 100 < 90)""".stripMargin),

    // mirrors bitext_incremental: the refreshed index IS the full
    // per-doc derivation (append-only, idempotent), so the oracle is
    // the plain mining chain — the maxsim_incremental convention.
    "bitext_incremental" -> bitextMineSql("documents"),

    // mirrors Similarity.bitextRecallAudit: the LSH chain and the
    // exhaustive bipartite cross scored by the SAME margin chain,
    // mined-pair sets compared as one summary row.
    "bitext_recall_audit" -> bitextRecallAuditSql("documents"),

    // mirrors EntityResolution.candidates: two capped blocking passes
    // over the A/B record sets, bipartite equi-join, pass provenance.
    "er_candidates" ->
      s"""WITH $erCte
         |SELECT a_id, b_id, via_attr, via_band FROM ercand
         |ORDER BY a_id, b_id""".stripMargin,

    // mirrors EntityResolution.matchScores: Fellegi–Sunter agreement
    // levels + data-driven u + pinned log2-likelihood score.
    "er_match" ->
      s"""WITH $erCte
         |SELECT a_id, b_id, gamma_name, seg_agree, ab_agree, score,
         |  CASE WHEN score >= ${EntityResolution.ThMatch} THEN 'match'
         |       WHEN score >= ${EntityResolution.ThPossible} THEN 'possible'
         |       ELSE 'nonmatch' END AS verdict
         |FROM ersc ORDER BY a_id, b_id""".stripMargin,

    // the persisted index holds exactly the matchScores rows under the
    // production key set (finer 3-pass at MasterCap; the parquet
    // round-trip is content-neutral).
    "er_match_index" ->
      s"""WITH $erCteMaster
         |SELECT a_id, b_id, gamma_name, seg_agree, ab_agree, score,
         |  CASE WHEN score >= ${EntityResolution.ThMatch} THEN 'match'
         |       WHEN score >= ${EntityResolution.ThPossible} THEN 'possible'
         |       ELSE 'nonmatch' END AS verdict
         |FROM ersc ORDER BY a_id, b_id""".stripMargin,

    // mirrors EntityResolution.erEval off the persisted index (the
    // production 3-pass/MasterCap key set): per-threshold operating
    // points against the construction ground truth + blocking recall.
    "er_eval" -> erEvalSqlOver(erCteMaster),

    // the finer-keys remedy as data: third (nation, name-digit)
    // blocking pass at cap 64 — recall must hold where the 2-pass
    // key set needs cap 256.
    "er_eval_finer" -> erEvalSqlOver(erCteFiner),

    // mirrors EntityResolution.uAudit: the eru CTE's parameters,
    // 1e-9-pinned for the report.
    "er_u_audit" ->
      s"""WITH $erCte
         |SELECT n_a, n_b, n_pairs,
         |  (round(u_name_exact * 1.0e9, 0) / 1.0e9) AS u_name_exact,
         |  (round(u_name_close * 1.0e9, 0) / 1.0e9) AS u_name_close,
         |  (round(u_seg * 1.0e9, 0) / 1.0e9) AS u_seg,
         |  (round(u_ab * 1.0e9, 0) / 1.0e9) AS u_ab
         |FROM eru""".stripMargin,

    // mirror Valuation.{shapleyKnn,shapleyKnnTruncated,
    // shapleyLabelAudit}: 1e-6-pinned cosine ranking per test point,
    // exact 1e-12-integer recursion increments, BIGINT suffix sums,
    // one final division.
    "shapley_knn" ->
      s"""$embCte,
         |$shapPairsCte,
         |$shapExactCte
         |SELECT train_id, label, n_tests,
         |  ${safe6("s12sum / (n_tests * 1.0e12)")} AS shapley
         |FROM sagg ORDER BY train_id""".stripMargin,

    "shapley_knn_trunc" -> shapTruncSql,

    // mirrors Valuation.shapleyIncremental: full-rebuild parity — the
    // incremental merge of (persisted top-R index + delta pairs) must
    // equal the truncated chain over the whole corpus, so the oracle
    // IS the shapley_knn_trunc chain (the bitext_incremental
    // convention).
    "shapley_incremental" -> shapTruncSql,

    "shapley_label_audit" ->
      s"""$embCte,
         |$shapPairsCte,
         |$shapExactCte,
         |sv2 AS (SELECT label, n_tests, s12sum,
         |          ${safe6("s12sum / (n_tests * 1.0e12)")} AS shapley
         |        FROM sagg)
         |SELECT label, count(*) AS n_points,
         |  CAST(sum(CASE WHEN shapley < 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_negative,
         |  ${safe6("CAST(sum(s12sum) AS BIGINT) / (max(n_tests) * 1.0e12)")}
         |    AS total_value,
         |  ${safe6("CAST(sum(s12sum) AS BIGINT) / " +
            "((count(*) * max(n_tests)) * 1.0e12)")} AS mean_value
         |FROM sv2 GROUP BY label ORDER BY label""".stripMargin,

    // mirrors Valuation.shapleyTruncFidelity: both value chains (the
    // trunc CTEs suffixed), deltas in 1e-6 integers.
    "shapley_trunc_fidelity" ->
      s"""$shapFidPrefix,
         |${shapFidChain(64, "t")}
         |SELECT label, count(*) AS n_points,
         |  CAST(sum(CASE WHEN t6 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_in_topr,
         |  max(d6) AS max_delta6,
         |  ${safe6("CAST(sum(d6) AS BIGINT) / (count(*) * 1.0e6)")}
         |    AS mean_abs_delta
         |FROM sjt GROUP BY label ORDER BY label""".stripMargin,

    // mirrors Valuation.shapleyRCurve: the fidelity chain at each
    // truncation rank, stacked with the rank as a column.
    "shapley_r_curve" ->
      s"""$shapFidPrefix,
         |${shapFidChain(16, "a")},
         |${shapFidChain(64, "b")}
         |SELECT * FROM (
         |  SELECT CAST(16 AS INT) AS r, label, count(*) AS n_points,
         |    CAST(sum(CASE WHEN t6 IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_in_topr,
         |    max(d6) AS max_delta6,
         |    ${safe6("CAST(sum(d6) AS BIGINT) / (count(*) * 1.0e6)")}
         |      AS mean_abs_delta
         |  FROM sja GROUP BY label
         |  UNION ALL
         |  SELECT CAST(64 AS INT) AS r, label, count(*) AS n_points,
         |    CAST(sum(CASE WHEN t6 IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_in_topr,
         |    max(d6) AS max_delta6,
         |    ${safe6("CAST(sum(d6) AS BIGINT) / (count(*) * 1.0e6)")}
         |      AS mean_abs_delta
         |  FROM sjb GROUP BY label)
         |ORDER BY r, label""".stripMargin,

    // mirrors EntityResolution.incrementalMatches: frozen-history u,
    // delta-only blocking and scoring.
    "er_incremental" ->
      s"""WITH $erIncCte
         |SELECT a_id, b_id, gamma_name, seg_agree, ab_agree, score,
         |  CASE WHEN score >= ${EntityResolution.ThMatch} THEN 'match'
         |       WHEN score >= ${EntityResolution.ThPossible} THEN 'possible'
         |       ELSE 'nonmatch' END AS verdict
         |FROM ersc ORDER BY a_id, b_id""".stripMargin,

    // the streamed delta hop must land exactly the batch incremental
    // result — the oracle IS the er_incremental chain (the
    // pipeline_gold_e2e convention: streaming-vs-batch drift is a
    // correctness failure, not a tolerance).
    "pipeline_er_e2e" ->
      s"""WITH $erIncCte
         |SELECT a_id, b_id, gamma_name, seg_agree, ab_agree, score,
         |  CASE WHEN score >= ${EntityResolution.ThMatch} THEN 'match'
         |       WHEN score >= ${EntityResolution.ThPossible} THEN 'possible'
         |       ELSE 'nonmatch' END AS verdict
         |FROM ersc ORDER BY a_id, b_id""".stripMargin,

    // mirrors EntityResolution.entitiesAfterRetire: retired master
    // records anti-joined out of the frozen match index, transitive
    // closure over the survivors.
    "er_retire" ->
      s"""WITH RECURSIVE $erCteMaster,
         |ret AS (SELECT rec_id FROM era
         |        WHERE ${h60("'er_ret_' || rec_id")} % 10 = 3),
         |p AS (SELECT a_id AS d1, b_id AS d2 FROM ersc
         |      WHERE score >= ${EntityResolution.ThMatch}
         |        AND a_id NOT IN (SELECT rec_id FROM ret)),
         |e AS (SELECT d1 AS ex, d2 AS ey FROM p UNION SELECT d2, d1 FROM p),
         |nodes AS (SELECT DISTINCT ex AS id FROM e),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.ex AS id, reach.r FROM e JOIN reach ON reach.id = e.ey
         |),
         |assign AS (SELECT id AS rec_id, min(r) AS entity_id
         |           FROM reach GROUP BY id),
         |recs AS (SELECT rec_id, name, ab_c, 'A' AS src FROM era
         |         WHERE rec_id NOT IN (SELECT rec_id FROM ret)
         |         UNION ALL
         |         SELECT rec_id, name, ab_c, 'B' AS src FROM erb)
         |SELECT entity_id, count(*) AS n_records,
         |  count(DISTINCT src) AS n_sources,
         |  min_by(name, rec_id) AS canonical_name,
         |  max(ab_c) - min(ab_c) AS ab_spread_c
         |FROM assign JOIN recs USING (rec_id)
         |GROUP BY entity_id ORDER BY entity_id""".stripMargin,

    // mirrors EntityResolution.entities: transitive closure of the
    // match-verdict pairs + survivorship per entity.
    "er_entities" ->
      s"""WITH RECURSIVE $erCteMaster,
         |p AS (SELECT a_id AS d1, b_id AS d2 FROM ersc
         |      WHERE score >= ${EntityResolution.ThMatch}),
         |e AS (SELECT d1 AS ex, d2 AS ey FROM p UNION SELECT d2, d1 FROM p),
         |nodes AS (SELECT DISTINCT ex AS id FROM e),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.ex AS id, reach.r FROM e JOIN reach ON reach.id = e.ey
         |),
         |assign AS (SELECT id AS rec_id, min(r) AS entity_id
         |           FROM reach GROUP BY id),
         |recs AS (SELECT rec_id, name, ab_c, 'A' AS src FROM era
         |         UNION ALL
         |         SELECT rec_id, name, ab_c, 'B' AS src FROM erb)
         |SELECT entity_id, count(*) AS n_records,
         |  count(DISTINCT src) AS n_sources,
         |  min_by(name, rec_id) AS canonical_name,
         |  max(ab_c) - min(ab_c) AS ab_spread_c
         |FROM assign JOIN recs USING (rec_id)
         |GROUP BY entity_id ORDER BY entity_id""".stripMargin,

    // mirrors TextAnalysis.epochShuffleAudit: salted-hash position per
    // epoch, lag-based same-source adjacency counts, micro-pinned rate.
    "epoch_shuffle_audit" ->
      s"""WITH eph AS (SELECT doc_id, source, CAST(g.e AS INT) AS epoch,
         |    ${h60("'ep' || g.e || '_' || doc_id")} AS hv
         |  FROM documents, unnest(generate_series(0, 2)) AS g(e)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY epoch
         |        ORDER BY hv, doc_id) AS pos FROM eph),
         |l AS (SELECT *, lag(source) OVER (PARTITION BY epoch
         |        ORDER BY pos) AS prev_src FROM r)
         |SELECT epoch, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN source = prev_src THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_same_adj,
         |  round(CAST(sum(CASE WHEN source = prev_src THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(count(*) - 1 AS DOUBLE)
         |    * 1.0e6, 0) / 1.0e6 AS same_adj_rate
         |FROM l GROUP BY epoch ORDER BY epoch""".stripMargin,

    // mirrors TextAnalysis.spanCorruption: per-block hash decisions in
    // exact integer arithmetic, spans clipped at doc end, sentinel ids
    // by start order.
    "span_corruption" ->
      s"""WITH $spanPlanCtes
         |SELECT doc_id, sentinel_id, start_tok, span_len, span_text
         |FROM r ORDER BY doc_id, sentinel_id""".stripMargin,

    // mirrors maxsim_incremental: the refreshed index IS the full
    // per-doc derivation (append-only, idempotent), so the oracle is
    // the plain MaxSim chain at the narrower leg geometry.
    "maxsim_incremental" ->
      s"""WITH ${maxSimCtes("documents", 15)}
         |SELECT query_id, doc_id, lex_rank,
         |  CAST(s6u AS DOUBLE) / 1000000.0 AS maxsim, rank
         |FROM msr WHERE rank <= 8
         |ORDER BY query_id, rank""".stripMargin,

    // mirrors Dedup.softDedupWeights: the dedup_clusters chain, then
    // 1/cluster_size as an exact 1e-6-unit integer division.
    "dedup_soft_weights" ->
      s"""${docsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$shCappedCte,
         |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |         FROM shc x JOIN shc y
         |           ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
         |${jaccardCte("shc")},
         |p AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.5),
         |e AS (SELECT d1 AS a, d2 AS b FROM p UNION SELECT d2, d1 FROM p),
         |nodes AS (SELECT DISTINCT a AS id FROM e),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b
         |),
         |cl AS (SELECT id AS doc_id, min(r) AS rep FROM reach GROUP BY id),
         |sz AS (SELECT rep, count(*) AS n FROM cl GROUP BY rep),
         |base AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
         |           AS n_tokens FROM documents),
         |j AS (SELECT b.doc_id,
         |        coalesce(cl.rep, b.doc_id) AS cluster_rep,
         |        CAST(coalesce(sz.n, 1) AS BIGINT) AS cluster_size,
         |        b.n_tokens
         |      FROM base b
         |      LEFT JOIN cl ON cl.doc_id = b.doc_id
         |      LEFT JOIN sz ON sz.rep = cl.rep),
         |w AS (SELECT *, 1000000 // cluster_size AS wu FROM j)
         |SELECT doc_id, cluster_rep, cluster_size, n_tokens,
         |  CAST(wu AS DOUBLE) / 1000000.0 AS weight,
         |  CAST(n_tokens * wu AS DOUBLE) / 1000000.0 AS eff_tokens
         |FROM w ORDER BY doc_id""".stripMargin,

    // mirrors the maxsim_retire composition: every CTE of the MaxSim
    // chain over the surviving corpus only (full-recompute-minus-
    // retired — the retire family's oracle convention).
    "maxsim_retire" ->
      s"""WITH surv AS (SELECT * FROM documents
         |  WHERE ${h60("'ret_' || doc_id")} % 100 < 90),
         |${maxSimCtes("surv")}
         |SELECT query_id, doc_id, lex_rank,
         |  CAST(s6u AS DOUBLE) / 1000000.0 AS maxsim, rank
         |FROM msr WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // mirrors TextAnalysis.maxSimEval: BM25-graded truth (rel = 11 -
    // lex_rank over the top-10), the MaxSim system ranking, DCG
    // discounts / reciprocal ranks from VALUES tables built from the
    // SAME Scala sequences the Spark plan embeds.
    "maxsim_eval" -> {
      val discVals = Similarity.dcgDiscounts(10).zipWithIndex.map {
        case (d, i) =>
          s"(${i + 1}, CAST(${d.toPlainString} AS DECIMAL(14,12)))"
      }.mkString(", ")
      val recipVals = Similarity.recipRanks(10).zipWithIndex.map {
        case (d, i) =>
          s"(${i + 1}, CAST(${d.toPlainString} AS DECIMAL(14,12)))"
      }.mkString(", ")
      s"""WITH ${maxSimCtes()},
         |truth AS (SELECT query_id, doc_id,
         |            CAST(11 - lr AS DECIMAL(4,0)) AS rel, lr
         |          FROM (SELECT query_id, doc_id,
         |                  row_number() OVER (PARTITION BY query_id
         |                    ORDER BY s6 DESC, doc_id) AS lr
         |                FROM lexs QUALIFY lr <= 10)),
         |disc AS (SELECT * FROM (VALUES $discVals) AS t(r, d)),
         |recip AS (SELECT * FROM (VALUES $recipVals) AS t(r, rd)),
         |idcg AS (SELECT query_id, sum(rel * d.d) AS idcg,
         |           CAST(count(*) AS BIGINT) AS n_truth
         |         FROM truth JOIN disc d ON d.r = truth.lr
         |         GROUP BY query_id),
         |sys AS (SELECT query_id, doc_id, rank AS sys_rank
         |        FROM msr WHERE rank <= 10),
         |hits AS (SELECT s.query_id, t.rel, s.sys_rank
         |         FROM sys s JOIN truth t ON t.query_id = s.query_id
         |           AND t.doc_id = s.doc_id),
         |dcg AS (SELECT query_id, sum(rel * d.d) AS dcg,
         |          CAST(count(*) AS BIGINT) AS n_hits,
         |          min(sys_rank) AS first_hit_rank
         |        FROM hits JOIN disc d ON d.r = hits.sys_rank
         |        GROUP BY query_id)
         |SELECT i.query_id, i.n_truth,
         |  coalesce(g.n_hits, 0) AS n_hits, g.first_hit_rank,
         |  round(CAST(coalesce(g.dcg, 0) AS DOUBLE)
         |    / CAST(i.idcg AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS ndcg_vs_bm25,
         |  coalesce(CAST(r.rd AS DOUBLE), 0.0e0) AS rr
         |FROM idcg i
         |LEFT JOIN dcg g ON g.query_id = i.query_id
         |LEFT JOIN recip r ON r.r = g.first_hit_rank
         |ORDER BY i.query_id""".stripMargin
    },

    // mirrors TextAnalysis.bm25Prf: seed pass LIMIT 10 (same double
    // ordering), integer-ranked corpus-rare expansion terms, expanded
    // rescore. Scoring expression identical to bm25_topk's.
    "bm25_prf" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |corpus AS (SELECT count(*) AS n, sum(len(toks)) AS tot_len FROM t),
        |tf1 AS (SELECT doc_id, len(toks) AS dl, u.t, count(*) AS tf
        |        FROM t, unnest(toks) AS u(t)
        |        WHERE u.t IN ('spark', 'window', 'agg')
        |        GROUP BY doc_id, len(toks), u.t),
        |dfq1 AS (SELECT t, count(*) AS doc_freq FROM tf1 GROUP BY t),
        |sc1 AS (SELECT tf1.doc_id,
        |         CAST(round(ln((CAST(n AS DOUBLE) - CAST(doc_freq AS DOUBLE) + 0.5e0)
        |             / (CAST(doc_freq AS DOUBLE) + 0.5e0) + 1.0e0)
        |           * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0))
        |           / (CAST(tf AS DOUBLE) + 1.2e0 * ((1.0e0 - 0.75e0) + 0.75e0
        |               * CAST(dl AS DOUBLE) / (CAST(tot_len AS DOUBLE) / CAST(n AS DOUBLE))))
        |           * 1000000.0, 0) AS BIGINT) AS s6
        |       FROM tf1 JOIN dfq1 USING (t), corpus),
        |fb AS (SELECT doc_id FROM sc1 GROUP BY doc_id
        |       ORDER BY CAST(sum(s6) AS DOUBLE) / 1000000.0 DESC, doc_id
        |       LIMIT 10),
        |dfall AS (SELECT u.t AS t, count(DISTINCT doc_id) AS doc_freq
        |          FROM t, unnest(toks) AS u(t) GROUP BY u.t),
        |cand AS (SELECT u.t AS t, count(*) AS cnt
        |         FROM t JOIN fb USING (doc_id), unnest(toks) AS u(t)
        |         WHERE u.t NOT IN ('spark', 'window', 'agg')
        |         GROUP BY u.t),
        |exp AS (SELECT cand.t FROM cand JOIN dfall USING (t), corpus
        |        WHERE dfall.doc_freq * 10 <= n
        |        ORDER BY cnt DESC, dfall.doc_freq, cand.t LIMIT 5),
        |q AS (SELECT t FROM exp
        |      UNION SELECT unnest(['spark', 'window', 'agg'])),
        |tf2 AS (SELECT doc_id, len(toks) AS dl, u.t, count(*) AS tf
        |        FROM t, unnest(toks) AS u(t)
        |        WHERE u.t IN (SELECT t FROM q)
        |        GROUP BY doc_id, len(toks), u.t),
        |dfq2 AS (SELECT t, count(*) AS doc_freq FROM tf2 GROUP BY t),
        |sc2 AS (SELECT tf2.doc_id,
        |         CAST(round(ln((CAST(n AS DOUBLE) - CAST(doc_freq AS DOUBLE) + 0.5e0)
        |             / (CAST(doc_freq AS DOUBLE) + 0.5e0) + 1.0e0)
        |           * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0))
        |           / (CAST(tf AS DOUBLE) + 1.2e0 * ((1.0e0 - 0.75e0) + 0.75e0
        |               * CAST(dl AS DOUBLE) / (CAST(tot_len AS DOUBLE) / CAST(n AS DOUBLE))))
        |           * 1000000.0, 0) AS BIGINT) AS s6
        |       FROM tf2 JOIN dfq2 USING (t), corpus)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_query_terms,
        |  CAST(sum(s6) AS DOUBLE) / 1000000.0 AS bm25
        |FROM sc2 GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    "bm25_topk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |corpus AS (SELECT count(*) AS n, sum(len(toks)) AS tot_len FROM t),
        |tf AS (SELECT doc_id, len(toks) AS dl, u.t, count(*) AS tf
        |       FROM t, unnest(toks) AS u(t)
        |       WHERE u.t IN ('spark', 'window', 'agg')
        |       GROUP BY doc_id, len(toks), u.t),
        |dfq AS (SELECT t, count(*) AS doc_freq FROM tf GROUP BY t),
        |sc AS (SELECT tf.doc_id,
        |         CAST(round(ln((CAST(n AS DOUBLE) - CAST(doc_freq AS DOUBLE) + 0.5e0)
        |             / (CAST(doc_freq AS DOUBLE) + 0.5e0) + 1.0e0)
        |           * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0))
        |           / (CAST(tf AS DOUBLE) + 1.2e0 * ((1.0e0 - 0.75e0) + 0.75e0
        |               * CAST(dl AS DOUBLE) / (CAST(tot_len AS DOUBLE) / CAST(n AS DOUBLE))))
        |           * 1000000.0, 0) AS BIGINT) AS s6
        |       FROM tf JOIN dfq USING (t), corpus)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_query_terms,
        |  CAST(sum(s6) AS DOUBLE) / 1000000.0 AS bm25
        |FROM sc GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    // mirrors TextAnalysis.bm25Passages (32/24 chunk geometry): each
    // chunk scored as an independent retrieval unit, document ranks by
    // its best chunk (MaxP), ties broken by the smaller chunk_idx.
    "bm25_passages" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |ch AS (SELECT doc_id, g.c AS chunk_idx,
        |         toks[g.c * 24 + 1 : least(g.c * 24 + 32, len(toks))] AS ctoks
        |       FROM t, unnest(generate_series(0, (CASE WHEN (len(toks) - 1) < 0 THEN -((-(len(toks) - 1)) // (24)) ELSE (len(toks) - 1) // (24) END))) AS g(c)),
        |corpus AS (SELECT count(*) AS n, sum(len(ctoks)) AS tot_len FROM ch),
        |tf AS (SELECT doc_id, chunk_idx, len(ctoks) AS dl, u.t, count(*) AS tf
        |       FROM ch, unnest(ctoks) AS u(t)
        |       WHERE u.t IN ('spark', 'window', 'agg')
        |       GROUP BY doc_id, chunk_idx, len(ctoks), u.t),
        |dfq AS (SELECT t, count(*) AS doc_freq FROM tf GROUP BY t),
        |sc AS (SELECT tf.doc_id, tf.chunk_idx,
        |         CAST(round(ln((CAST(n AS DOUBLE) - CAST(doc_freq AS DOUBLE) + 0.5e0)
        |             / (CAST(doc_freq AS DOUBLE) + 0.5e0) + 1.0e0)
        |           * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0))
        |           / (CAST(tf AS DOUBLE) + 1.2e0 * ((1.0e0 - 0.75e0) + 0.75e0
        |               * CAST(dl AS DOUBLE) / (CAST(tot_len AS DOUBLE) / CAST(n AS DOUBLE))))
        |           * 1000000.0, 0) AS BIGINT) AS s6
        |       FROM tf JOIN dfq USING (t), corpus),
        |agg AS (SELECT doc_id, chunk_idx, CAST(count(*) AS BIGINT) AS nqt,
        |          sum(s6) AS s6 FROM sc GROUP BY doc_id, chunk_idx),
        |best AS (SELECT doc_id, chunk_idx, nqt, s6,
        |           row_number() OVER (PARTITION BY doc_id
        |                              ORDER BY s6 DESC, chunk_idx) AS rn
        |         FROM agg)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS best_chunk,
        |  nqt AS n_query_terms,
        |  CAST(s6 AS DOUBLE) / 1000000.0 AS bm25
        |FROM best WHERE rn = 1
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    // mirrors bm25_passages_retire: the passage-MaxP chain over the
    // takedown survivors (default query-term set).
    "bm25_passages_retire" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |       WHERE ${h60("'ret_' || doc_id")} % 100 < 90),
        |ch AS (SELECT doc_id, g.c AS chunk_idx,
        |         toks[g.c * 24 + 1 : least(g.c * 24 + 32, len(toks))] AS ctoks
        |       FROM t, unnest(generate_series(0, (CASE WHEN (len(toks) - 1) < 0 THEN -((-(len(toks) - 1)) // (24)) ELSE (len(toks) - 1) // (24) END))) AS g(c)),
        |corpus AS (SELECT count(*) AS n, sum(len(ctoks)) AS tot_len FROM ch),
        |tf AS (SELECT doc_id, chunk_idx, len(ctoks) AS dl, u.t, count(*) AS tf
        |       FROM ch, unnest(ctoks) AS u(t)
        |       WHERE u.t IN ('spark', 'window', 'agg')
        |       GROUP BY doc_id, chunk_idx, len(ctoks), u.t),
        |dfq AS (SELECT t, count(*) AS doc_freq FROM tf GROUP BY t),
        |sc AS (SELECT tf.doc_id, tf.chunk_idx,
        |         CAST(round(ln((CAST(n AS DOUBLE) - CAST(doc_freq AS DOUBLE) + 0.5e0)
        |             / (CAST(doc_freq AS DOUBLE) + 0.5e0) + 1.0e0)
        |           * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0))
        |           / (CAST(tf AS DOUBLE) + 1.2e0 * ((1.0e0 - 0.75e0) + 0.75e0
        |               * CAST(dl AS DOUBLE) / (CAST(tot_len AS DOUBLE) / CAST(n AS DOUBLE))))
        |           * 1000000.0, 0) AS BIGINT) AS s6
        |       FROM tf JOIN dfq USING (t), corpus),
        |agg AS (SELECT doc_id, chunk_idx, CAST(count(*) AS BIGINT) AS nqt,
        |          sum(s6) AS s6 FROM sc GROUP BY doc_id, chunk_idx),
        |best AS (SELECT doc_id, chunk_idx, nqt, s6,
        |           row_number() OVER (PARTITION BY doc_id
        |                              ORDER BY s6 DESC, chunk_idx) AS rn
        |         FROM agg)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS best_chunk,
        |  nqt AS n_query_terms,
        |  CAST(s6 AS DOUBLE) / 1000000.0 AS bm25
        |FROM best WHERE rn = 1
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    // mirrors TextAnalysis.bm25QueryPassageIndex over the refreshed
    // chunk index: refresh(index(hist), delta) reproduces the
    // full-corpus chunk postings exactly (delta doc_ids disjoint), so
    // the oracle is the full passage-MaxP computation with the second
    // query-term set.
    "bm25_passages_incremental" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |ch AS (SELECT doc_id, g.c AS chunk_idx,
        |         toks[g.c * 24 + 1 : least(g.c * 24 + 32, len(toks))] AS ctoks
        |       FROM t, unnest(generate_series(0, (CASE WHEN (len(toks) - 1) < 0 THEN -((-(len(toks) - 1)) // (24)) ELSE (len(toks) - 1) // (24) END))) AS g(c)),
        |corpus AS (SELECT count(*) AS n, sum(len(ctoks)) AS tot_len FROM ch),
        |tf AS (SELECT doc_id, chunk_idx, len(ctoks) AS dl, u.t, count(*) AS tf
        |       FROM ch, unnest(ctoks) AS u(t)
        |       WHERE u.t IN ('stream', 'merge', 'batch')
        |       GROUP BY doc_id, chunk_idx, len(ctoks), u.t),
        |dfq AS (SELECT t, count(*) AS doc_freq FROM tf GROUP BY t),
        |sc AS (SELECT tf.doc_id, tf.chunk_idx,
        |         CAST(round(ln((CAST(n AS DOUBLE) - CAST(doc_freq AS DOUBLE) + 0.5e0)
        |             / (CAST(doc_freq AS DOUBLE) + 0.5e0) + 1.0e0)
        |           * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0))
        |           / (CAST(tf AS DOUBLE) + 1.2e0 * ((1.0e0 - 0.75e0) + 0.75e0
        |               * CAST(dl AS DOUBLE) / (CAST(tot_len AS DOUBLE) / CAST(n AS DOUBLE))))
        |           * 1000000.0, 0) AS BIGINT) AS s6
        |       FROM tf JOIN dfq USING (t), corpus),
        |agg AS (SELECT doc_id, chunk_idx, CAST(count(*) AS BIGINT) AS nqt,
        |          sum(s6) AS s6 FROM sc GROUP BY doc_id, chunk_idx),
        |best AS (SELECT doc_id, chunk_idx, nqt, s6,
        |           row_number() OVER (PARTITION BY doc_id
        |                              ORDER BY s6 DESC, chunk_idx) AS rn
        |         FROM agg)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS best_chunk,
        |  nqt AS n_query_terms,
        |  CAST(s6 AS DOUBLE) / 1000000.0 AS bm25
        |FROM best WHERE rn = 1
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    // mirrors TextAnalysis.bm25QueryIndex over the refreshed index:
    // because refresh(index(hist), delta) reproduces exactly the
    // full-corpus postings (delta doc_ids are disjoint from history),
    // the oracle is the same BM25 computation over all documents with
    // the second query-term set — the strongest possible check that the
    // incremental path loses nothing.
    "bm25_incremental" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |corpus AS (SELECT count(*) AS n, sum(len(toks)) AS tot_len FROM t),
        |tf AS (SELECT doc_id, len(toks) AS dl, u.t, count(*) AS tf
        |       FROM t, unnest(toks) AS u(t)
        |       WHERE u.t IN ('stream', 'merge', 'batch')
        |       GROUP BY doc_id, len(toks), u.t),
        |dfq AS (SELECT t, count(*) AS doc_freq FROM tf GROUP BY t),
        |sc AS (SELECT tf.doc_id,
        |         CAST(round(ln((CAST(n AS DOUBLE) - CAST(doc_freq AS DOUBLE) + 0.5e0)
        |             / (CAST(doc_freq AS DOUBLE) + 0.5e0) + 1.0e0)
        |           * (CAST(tf AS DOUBLE) * (1.2e0 + 1.0e0))
        |           / (CAST(tf AS DOUBLE) + 1.2e0 * ((1.0e0 - 0.75e0) + 0.75e0
        |               * CAST(dl AS DOUBLE) / (CAST(tot_len AS DOUBLE) / CAST(n AS DOUBLE))))
        |           * 1000000.0, 0) AS BIGINT) AS s6
        |       FROM tf JOIN dfq USING (t), corpus)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_query_terms,
        |  CAST(sum(s6) AS DOUBLE) / 1000000.0 AS bm25
        |FROM sc GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    // mirrors TextAnalysis.splitAudit: same salted-hash split as
    // decontaminate; shares are raw exact-integer quotients.
    "split_audit" ->
      s"""WITH b AS (SELECT lang,
         |        CASE WHEN ${h60("'split_' || doc_id")} % 100 < 10 THEN 'test'
         |             WHEN ${h60("'split_' || doc_id")} % 100 < 20 THEN 'val'
         |             ELSE 'train' END AS split
         |      FROM documents),
         |g AS (SELECT split, lang, count(*) AS n FROM b GROUP BY split, lang)
         |SELECT split, lang, n,
         |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY split) AS DOUBLE) AS share
         |FROM g ORDER BY split, lang""".stripMargin,

    // mirrors TextAnalysis.qualityDrift: fixed-width score deciles,
    // per-source shares of two salted halves, exact-integer quotients.
    "quality_drift" ->
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
         |q AS (SELECT doc_id, source,
         |  round((CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
         |    * (1.0 - CAST(len(list_filter(toks, tk -> list_contains(['the','a','of','and','to','in','is','on','for','with'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
         |    * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
       |    * 1.0e6, 0) / 1.0e6 AS quality_score
         |  FROM t),
         |b AS (SELECT source,
         |        ${h60("'drift_' || doc_id")} % 2 AS sp,
         |        least(CAST(floor(quality_score * 10.0) AS INT), 9) AS decile
         |      FROM q),
         |g AS (SELECT source, decile,
         |        CAST(sum(CASE WHEN sp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |        CAST(sum(CASE WHEN sp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
         |      FROM b GROUP BY source, decile),
         |s AS (SELECT source, decile, n_a, n_b,
         |        CASE WHEN sum(n_a) OVER (PARTITION BY source) > 0
         |          THEN CAST(n_a AS DOUBLE) / CAST(sum(n_a) OVER (PARTITION BY source) AS DOUBLE) END AS share_a,
         |        CASE WHEN sum(n_b) OVER (PARTITION BY source) > 0
         |          THEN CAST(n_b AS DOUBLE) / CAST(sum(n_b) OVER (PARTITION BY source) AS DOUBLE) END AS share_b
         |      FROM g)
         |SELECT source, decile, n_a, n_b, share_a, share_b,
         |  abs(share_a - share_b) AS abs_drift
         |FROM s ORDER BY source, decile""".stripMargin,

    // mirrors TextAnalysis.chunkDupes: chunk stream grouped by md5.
    "dedup_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id,
        |        md5(array_to_string(list_slice(toks, g.s, g.s + 127), ' ')) AS chunk_md5
        |      FROM t, unnest(generate_series(1, len(toks), 96)) AS g(s))
        |SELECT chunk_md5, count(*) AS n_chunks,
        |  count(DISTINCT doc_id) AS n_docs, min(doc_id) AS rep_doc
        |FROM c GROUP BY chunk_md5 HAVING count(*) > 1
        |ORDER BY chunk_md5""".stripMargin,

    // mirrors TextAnalysis.duplicatedSpans (k=8, maxOcc=10000): k-token
    // positional shingles, per-shingle occurrence count, overlapping
    // duplicated windows merged into maximal spans (gap ≤ k).
    "dedup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |p AS (SELECT doc_id, g.i AS i,
        |        CAST('0x' || substr(md5(array_to_string(list_slice(toks, g.i, g.i + 7), ' ')), 1, 15) AS BIGINT) AS h
        |      FROM t, unnest(generate_series(1, len(toks) - 7)) AS g(i)),
        |d AS (SELECT doc_id, i, count(*) OVER (PARTITION BY h) AS cnt FROM p),
        |f AS (SELECT doc_id, i FROM d WHERE cnt > 1 AND cnt <= 10000),
        |isl AS (SELECT doc_id, i,
        |          CASE WHEN i > lag(i) OVER w + 8 THEN 1 ELSE 0 END AS brk
        |        FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |g2 AS (SELECT doc_id, i,
        |         sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
        |       FROM isl)
        |SELECT doc_id, min(i) AS span_start, max(i) + 7 AS span_end,
        |  max(i) + 8 - min(i) AS span_tokens, count(*) AS n_windows
        |FROM g2 GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    // mirrors TextAnalysis.incrementalSpans: delta windows kept iff
    // their hash exists in the history index; islands merged per doc.
    "dedup_spans_incremental" ->
      s"""WITH hist AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |        WHERE ${h60("'inc_' || doc_id")} % 100 < 80),
         |delta AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |        WHERE ${h60("'inc_' || doc_id")} % 100 >= 80),
         |hidx AS (SELECT DISTINCT CAST('0x' || substr(md5(array_to_string(list_slice(toks, g.i, g.i + 7), ' ')), 1, 15) AS BIGINT) AS h
         |         FROM hist, unnest(generate_series(1, len(toks) - 7)) AS g(i)),
         |dw AS (SELECT doc_id, g.i AS i,
         |         CAST('0x' || substr(md5(array_to_string(list_slice(toks, g.i, g.i + 7), ' ')), 1, 15) AS BIGINT) AS h
         |       FROM delta, unnest(generate_series(1, len(toks) - 7)) AS g(i)),
         |f AS (SELECT doc_id, i FROM dw WHERE h IN (SELECT h FROM hidx)),
         |isl AS (SELECT doc_id, i,
         |          CASE WHEN i > lag(i) OVER w + 8 THEN 1 ELSE 0 END AS brk
         |        FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
         |g2 AS (SELECT doc_id, i,
         |         sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
         |       FROM isl)
         |SELECT doc_id, min(i) AS span_start, max(i) + 7 AS span_end,
         |  max(i) + 8 - min(i) AS span_tokens, count(*) AS n_windows
         |FROM g2 GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin,

    // mirrors TextAnalysis.noveltySpanScores: same split and window
    // hashes as dedup_spans_incremental; novelty is an exact-integer
    // quotient (never rounded).
    "novelty_score" ->
      s"""WITH hist AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |        WHERE ${h60("'inc_' || doc_id")} % 100 < 80),
         |delta AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |        WHERE ${h60("'inc_' || doc_id")} % 100 >= 80),
         |hidx AS (SELECT DISTINCT CAST('0x' || substr(md5(array_to_string(list_slice(toks, g.i, g.i + 7), ' ')), 1, 15) AS BIGINT) AS h
         |         FROM hist, unnest(generate_series(1, len(toks) - 7)) AS g(i)),
         |dw AS (SELECT doc_id,
         |         CASE WHEN CAST('0x' || substr(md5(array_to_string(list_slice(toks, g.i, g.i + 7), ' ')), 1, 15) AS BIGINT)
         |           IN (SELECT h FROM hidx) THEN 1 ELSE 0 END AS seen
         |       FROM delta, unnest(generate_series(1, len(toks) - 7)) AS g(i))
         |SELECT doc_id, count(*) AS n_windows, CAST(sum(seen) AS BIGINT) AS n_seen,
         |  CAST(count(*) - sum(seen) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
         |FROM dw GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    // mirrors TextAnalysis.spanScrub: every duplicated span cut from
    // every copy; md5 of the space-joined kept tokens.
    "dedup_span_scrub" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |p AS (SELECT doc_id, g.i AS i,
        |        CAST('0x' || substr(md5(array_to_string(list_slice(toks, g.i, g.i + 7), ' ')), 1, 15) AS BIGINT) AS h
        |      FROM t, unnest(generate_series(1, len(toks) - 7)) AS g(i)),
        |d AS (SELECT doc_id, i, count(*) OVER (PARTITION BY h) AS cnt FROM p),
        |f AS (SELECT doc_id, i FROM d WHERE cnt > 1 AND cnt <= 10000),
        |isl AS (SELECT doc_id, i,
        |          CASE WHEN i > lag(i) OVER w + 8 THEN 1 ELSE 0 END AS brk
        |        FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |g2 AS (SELECT doc_id, i,
        |         sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
        |       FROM isl),
        |sp AS (SELECT doc_id, min(i) AS s, max(i) + 7 AS e
        |       FROM g2 GROUP BY doc_id, island),
        |pos AS (SELECT doc_id, g.i AS i, toks[g.i] AS tok
        |        FROM t, unnest(generate_series(1, len(toks))) AS g(i)),
        |kept AS (SELECT pos.doc_id, pos.i, pos.tok FROM pos
        |         WHERE NOT EXISTS (SELECT 1 FROM sp
        |           WHERE sp.doc_id = pos.doc_id
        |             AND pos.i BETWEEN sp.s AND sp.e)),
        |agg AS (SELECT doc_id, count(*) AS n_kept,
        |          md5(string_agg(tok, ' ' ORDER BY i)) AS scrubbed_md5
        |        FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, len(t.toks) AS n_tokens,
        |  coalesce(agg.n_kept, 0) AS n_kept,
        |  len(t.toks) - coalesce(agg.n_kept, 0) AS n_cut,
        |  coalesce(agg.scrubbed_md5, md5('')) AS scrubbed_md5
        |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "dedup_span_stats" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |p AS (SELECT doc_id, g.i AS i,
        |        CAST('0x' || substr(md5(array_to_string(list_slice(toks, g.i, g.i + 7), ' ')), 1, 15) AS BIGINT) AS h
        |      FROM t, unnest(generate_series(1, len(toks) - 7)) AS g(i)),
        |d AS (SELECT doc_id, i, count(*) OVER (PARTITION BY h) AS cnt FROM p),
        |f AS (SELECT doc_id, i FROM d WHERE cnt > 1 AND cnt <= 10000),
        |isl AS (SELECT doc_id, i,
        |          CASE WHEN i > lag(i) OVER w + 8 THEN 1 ELSE 0 END AS brk
        |        FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |g2 AS (SELECT doc_id, i,
        |         sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS island
        |       FROM isl),
        |sp AS (SELECT doc_id, max(i) + 8 - min(i) AS span_tokens
        |       FROM g2 GROUP BY doc_id, island),
        |agg AS (SELECT doc_id, count(*) AS n_spans,
        |          sum(span_tokens) AS dup_tokens
        |        FROM sp GROUP BY doc_id)
        |SELECT t.doc_id, len(t.toks) AS n_tokens,
        |  coalesce(agg.n_spans, 0) AS n_spans,
        |  CAST(coalesce(agg.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  CAST(coalesce(agg.dup_tokens, 0) AS DOUBLE)
        |    / CAST(len(t.toks) AS DOUBLE) AS dup_ratio
        |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // mirrors TextAnalysis.lmScore: unigram counts over the lang='en'
    // slice, Laplace-smoothed log-probs rounded+scaled to exact longs
    // BEFORE the per-doc sum (order-independent aggregation).
    // mirrors Sessions.sessionPaths: same gap rule as the sessions
    // oracle (floored epoch seconds), trigram leads gated to one session.
    "session_paths" ->
      """WITH s AS (SELECT user_id, event_id, ts, event_type,
        |        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |          AS prev_ts
        |      FROM events),
        |s2 AS (SELECT *, sum(CASE WHEN prev_ts IS NULL
        |          OR CAST(floor(epoch(ts)) AS BIGINT)
        |           - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
        |          THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS session_id
        |       FROM s),
        |t AS (SELECT user_id, session_id, event_type,
        |        lead(event_type, 1) OVER w AS t2,
        |        lead(session_id, 1) OVER w AS sid2,
        |        lead(event_type, 2) OVER w AS t3,
        |        lead(session_id, 2) OVER w AS sid3
        |      FROM s2
        |      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_type || '>' || t2 || '>' || t3 AS path,
        |  count(*) AS n,
        |  count(DISTINCT (user_id, session_id)) AS n_sessions
        |FROM t WHERE sid2 = session_id AND sid3 = session_id
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 50""".stripMargin,

    // mirrors Analytics.medianDespike: sorted-window two-middle
    // average, identical double arithmetic (no quantile interpolation).
    "bar_median_despike" ->
      s"""$tradesCte,
         |${barsBodyCte.replace("INTERVAL 1 MINUTE", "INTERVAL 1 HOUR")},
         |r AS (SELECT symbol, bar_start, close,
         |        list_sort(list(close) OVER (PARTITION BY symbol
         |          ORDER BY bar_start
         |          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS arr
         |      FROM bars),
         |m AS (SELECT symbol, bar_start, close,
         |        CASE WHEN len(arr) % 2 = 1 THEN arr[(len(arr) + 1) // 2]
         |          ELSE (arr[len(arr) // 2] + arr[len(arr) // 2 + 1]) / 2.0
         |          END AS median_close,
         |        len(arr) AS n_in_window
         |      FROM r)
         |SELECT symbol, bar_start, close, median_close,
         |  CAST(n_in_window AS INT) AS n_in_window,
         |  CASE WHEN median_close > 0
         |    THEN abs(close - median_close) / median_close > 0.05
         |  END AS spiked
         |FROM m ORDER BY symbol, bar_start""".stripMargin,

    // mirrors Analytics.theilSenTrend: banded equi-join via exploded
    // lag offsets on exact µs targets, slopes rounded to 12 before
    // list_sort, the despike median pick, round 6 at the boundary.
    "theilsen_trend" ->
      s"""$tradesCte,
         |${barsBodyCte.replace("INTERVAL 1 MINUTE", "INTERVAL 1 HOUR")},
         |b AS (SELECT symbol, epoch_us(bar_start) AS u, close FROM bars),
         |pr AS (SELECT b1.symbol,
         |         round((b2.close - b1.close) / CAST(g.l AS DOUBLE)
         |             * 1.0e12, 0) / 1.0e12
         |           AS slope
         |       FROM b b1, unnest(generate_series(1, 24)) AS g(l)
         |       JOIN b b2 ON b2.symbol = b1.symbol
         |         AND b2.u = b1.u + g.l * 3600000000),
         |m AS (SELECT symbol, CAST(count(*) AS BIGINT) AS n_pairs,
         |        list_sort(list(slope)) AS ss
         |      FROM pr GROUP BY symbol)
         |SELECT symbol, n_pairs,
         |  round((CASE WHEN n_pairs % 2 = 1
         |      THEN ss[CAST((n_pairs + 1) // 2 AS INT)]
         |      ELSE (ss[CAST(n_pairs // 2 AS INT)]
         |        + ss[CAST(n_pairs // 2 AS INT) + 1]) / 2.0
         |    END) * 1.0e6, 0) / 1.0e6 AS ts_slope
         |FROM m ORDER BY symbol""".stripMargin,

    // mirrors Analytics.weightedMedianPrice: decimal cumulative sizes,
    // the 2·cum >= tot half test with no division, min qualifying price.
    "symbol_wmedian" ->
      s"""$tradesCte,
         |c AS (SELECT symbol, price,
         |        CAST(size AS DECIMAL(20,6)) AS sz,
         |        sum(CAST(size AS DECIMAL(20,6))) OVER (
         |          PARTITION BY symbol ORDER BY price, event_time
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |          AS cum,
         |        sum(CAST(size AS DECIMAL(20,6)))
         |          OVER (PARTITION BY symbol) AS tot,
         |        CAST(price * CAST(size AS DECIMAL(20,6))
         |          AS DECIMAL(28,10)) AS pv
         |      FROM trades)
         |SELECT symbol, count(*) AS n_trades,
         |  CAST(max(tot) AS DOUBLE) AS volume,
         |  CAST(sum(pv) AS DOUBLE) / CAST(max(tot) AS DOUBLE) AS vwap,
         |  min(CASE WHEN cum * 2 >= tot THEN price END) AS wmedian_price
         |FROM c GROUP BY symbol ORDER BY symbol""".stripMargin,

    // mirrors Analytics.donchian: trailing-w extrema over stored
    // doubles (no arithmetic -> no rounding), full windows only.
    "bar_donchian" ->
      s"""$tradesCte,
         |${barsBodyCte.replace("INTERVAL 1 MINUTE", "INTERVAL 1 HOUR")},
         |d AS (SELECT symbol, bar_start, close,
         |        count(*) OVER w AS n_win,
         |        max(high) OVER w AS ch_high,
         |        min(low) OVER w AS ch_low
         |      FROM bars WINDOW w AS (PARTITION BY symbol
         |        ORDER BY bar_start ROWS BETWEEN 20 PRECEDING
         |        AND 1 PRECEDING))
         |SELECT symbol, bar_start, close, ch_high, ch_low,
         |  close > ch_high AS breakout_up,
         |  close < ch_low AS breakout_down
         |FROM d WHERE n_win = 20 ORDER BY symbol, bar_start""".stripMargin,

    // mirrors TextAnalysis.tokenPmi: exact counts, one ln rounded to 6
    // BEFORE the ordering so libm ulps cannot reorder the top-k.
    "token_pmi" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |pr AS (SELECT toks[g.i] AS t1, toks[g.i + 1] AS t2, count(*) AS n_pair
        |       FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)
        |       GROUP BY toks[g.i], toks[g.i + 1]),
        |uni AS (SELECT u.t AS t, count(*) AS c
        |        FROM t, unnest(toks) AS u(t) GROUP BY u.t),
        |tot AS (SELECT sum(c) AS n FROM uni)
        |SELECT pr.t1, pr.t2, pr.n_pair,
        |  round(ln((CAST(n_pair AS DOUBLE) * CAST(n AS DOUBLE))
        |    / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))) * 1.0e6, 0) / 1.0e6 AS pmi
        |FROM pr
        |JOIN uni a ON a.t = pr.t1
        |JOIN uni b ON b.t = pr.t2, tot
        |WHERE n_pair >= 5
        |ORDER BY pmi DESC, t1, t2 LIMIT 50""".stripMargin,

    // mirrors TextAnalysis.rakeKeyphrases: stopword-run segmentation
    // via a positional window cumsum, integer micro-unit word ratios
    // (deg*1e12 // freq), long-sum phrase scores — no doubles.
    "rake_keyphrases" -> {
      val stops = graft.functions.TextFunctions.stopwords
        .map(s => s"'$s'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |           FROM documents),
         |tk AS (SELECT doc_id, g.i AS pos, toks[g.i] AS tok
         |       FROM t, unnest(generate_series(1, len(toks))) AS g(i)),
         |st AS (SELECT doc_id, pos, tok,
         |         tok IN ($stops) AS is_stop FROM tk),
         |sg AS (SELECT doc_id, pos, tok, is_stop,
         |         sum(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
         |           PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS seg
         |       FROM st),
         |ph0 AS (SELECT doc_id, seg,
         |          string_agg(tok, ' ' ORDER BY pos) AS phrase,
         |          CAST(count(*) AS INT) AS n_words
         |        FROM sg WHERE NOT is_stop AND length(tok) > 0
         |        GROUP BY doc_id, seg),
         |ph AS (SELECT phrase, n_words FROM ph0 WHERE n_words <= 4),
         |wstat AS (SELECT u.wd AS word, CAST(count(*) AS BIGINT) AS freq,
         |            CAST(sum(n_words) AS BIGINT) AS deg
         |          FROM (SELECT n_words, string_split(phrase, ' ') AS ws
         |                FROM ph), unnest(ws) AS u(wd)
         |          GROUP BY u.wd),
         |wr AS (SELECT word,
         |         CAST((deg * 1000000000000) // freq AS BIGINT)
         |           AS ratio_micro
         |       FROM wstat),
         |occ AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
         |          CAST(min(n_words) AS INT) AS n_words
         |        FROM ph GROUP BY phrase),
         |ow AS (SELECT phrase, n_occurrences, n_words, u.wd AS word
         |       FROM (SELECT phrase, n_occurrences, n_words,
         |               string_split(phrase, ' ') AS ws FROM occ),
         |            unnest(ws) AS u(wd)),
         |sc AS (SELECT ow.phrase, ow.n_occurrences, ow.n_words,
         |         CAST(sum(wr.ratio_micro) AS BIGINT) AS score_micro
         |       FROM ow JOIN wr ON wr.word = ow.word
         |       GROUP BY ow.phrase, ow.n_occurrences, ow.n_words)
         |SELECT phrase, n_words, n_occurrences, score_micro
         |FROM sc ORDER BY score_micro DESC, phrase LIMIT 50""".stripMargin
    },

    // mirrors TextAnalysis.assocRules: distinct per-doc items, length
    // + df gates, rarest-12 cap (ties by token), pair/single supports
    // on the SAME capped itemsets, integer-ordered top-k. The self-join
    // pair generation equals the in-row sorted-array combinations.
    "assoc_rules" ->
      """WITH it AS (
        |  SELECT DISTINCT doc_id, u.t AS item
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents) d, unnest(toks) AS u(t)
        |  WHERE length(u.t) >= 4),
        |dfreq AS (SELECT item, count(*) AS df FROM it GROUP BY item),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |el AS (SELECT it.doc_id, it.item, dfreq.df
        |       FROM it JOIN dfreq USING (item), n
        |       WHERE dfreq.df >= 5 AND dfreq.df <= n.n_docs * 0.9),
        |cap AS (SELECT doc_id, item FROM (
        |          SELECT doc_id, item, row_number() OVER (
        |            PARTITION BY doc_id ORDER BY df, item) AS rn
        |          FROM el) WHERE rn <= 12),
        |sup AS (SELECT item, count(*) AS supp FROM cap GROUP BY item),
        |pr AS (SELECT a.item AS item_a, b.item AS item_b,
        |         count(*) AS supp_ab
        |       FROM cap a JOIN cap b
        |         ON a.doc_id = b.doc_id AND a.item < b.item
        |       GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT item_a, item_b, supp_ab,
        |  sa.supp AS supp_a, sb.supp AS supp_b,
        |  round(CAST(supp_ab AS DOUBLE) / sa.supp * 1.0e6, 0) / 1.0e6 AS conf_a_b,
        |  round(CAST(supp_ab AS DOUBLE) / sb.supp * 1.0e6, 0) / 1.0e6 AS conf_b_a,
        |  round(CAST(supp_ab AS DOUBLE) * n_docs /
        |        (CAST(sa.supp AS DOUBLE) * sb.supp) * 1.0e6, 0) / 1.0e6 AS lift
        |FROM pr
        |JOIN sup sa ON sa.item = pr.item_a
        |JOIN sup sb ON sb.item = pr.item_b, n
        |ORDER BY supp_ab DESC, item_a, item_b LIMIT 100""".stripMargin,

    // mirrors Analytics.cusum: prefix-extrema closed form, exact
    // decimal arithmetic end-to-end, double casts only at the boundary.
    "symbol_cusum" ->
      s"""$tradesCte,
         |${barsBodyCte.replace("INTERVAL 1 MINUTE", "INTERVAL 1 HOUR")},
         |rr AS (SELECT symbol, bar_start, close,
         |         lag(close) OVER (PARTITION BY symbol ORDER BY bar_start)
         |           AS prev
         |       FROM bars),
         |r AS (SELECT symbol, bar_start,
         |        CAST(round(ln(close / prev) * 1.0e6, 0) / 1.0e6 AS DECIMAL(18,6)) AS ret
         |      FROM rr WHERE prev IS NOT NULL AND prev > 0 AND close > 0),
         |st0 AS (SELECT symbol, count(*) AS n, sum(ret) AS s,
         |          sum(CAST(ret * ret AS DECIMAL(38,12))) AS s2
         |        FROM r GROUP BY symbol),
         |st1 AS (SELECT symbol,
         |          CAST(round(sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
         |            - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
         |              * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
         |            * 1.0e6, 0) / 1.0e6
         |            AS DECIMAL(18,6)) AS sigma6
         |        FROM st0),
         |st AS (SELECT symbol,
         |         sigma6 * CAST(0.5 AS DECIMAL(2,1)) AS k,
         |         CAST(sigma6 * 4 AS DOUBLE) AS h
         |       FROM st1),
         |p AS (SELECT r.symbol, bar_start, k, h,
         |        sum(ret - k) OVER w AS p_pos,
         |        sum(ret + k) OVER w AS p_neg
         |      FROM r JOIN st ON st.symbol = r.symbol
         |      WINDOW w AS (PARTITION BY r.symbol ORDER BY bar_start
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |e AS (SELECT symbol, bar_start, h, p_pos, p_neg,
         |        min(p_pos) OVER w AS mn, max(p_neg) OVER w AS mx
         |      FROM p WINDOW w AS (PARTITION BY symbol ORDER BY bar_start
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |c AS (SELECT symbol, bar_start, h,
         |        -- CASE keeps DECIMAL: DuckDB least/greatest over two
         |        -- DECIMALs returns DOUBLE and breaks exactness
         |        CAST(p_pos - (CASE WHEN mn < CAST(0 AS DECIMAL(20,7))
         |          THEN mn ELSE CAST(0 AS DECIMAL(20,7)) END) AS DOUBLE)
         |          AS cusum_pos,
         |        CAST((CASE WHEN mx > CAST(0 AS DECIMAL(20,7))
         |          THEN mx ELSE CAST(0 AS DECIMAL(20,7)) END) - p_neg
         |          AS DOUBLE) AS cusum_neg
         |      FROM e)
         |SELECT symbol, bar_start, cusum_pos, cusum_neg, h,
         |  (cusum_pos > h OR cusum_neg > h) AS alarmed
         |FROM c ORDER BY symbol, bar_start""".stripMargin,

    // mirrors Similarity.embedPcaPower: one Gram-matrix CTE, then the
    // fixed-K recurrence UNROLLED as K dims^2-sized stages — after
    // exactly K steps the loadings are a pure function of the data, so
    // no convergence test is needed for the hash-match.
    "embed_pca_power" -> {
      val k = 6
      val iterCtes = (1 to k).map { i =>
        val pv = if (i == 1) "v0" else s"v${i - 1}"
        s"""w$i AS (SELECT j,
           |  CAST(round(sum(CAST(c * vi AS DECIMAL(38,12))),
           |    6) AS DECIMAL(18,6)) AS w6
           |  FROM gram JOIN (SELECT pos AS i, v AS vi FROM $pv) USING (i)
           |  GROUP BY j),
           |nn$i AS (SELECT sqrt(CAST(sum(CAST(w6 * w6 AS DECIMAL(38,12)))
           |    AS DOUBLE)) AS nrm FROM w$i),
           |v$i AS (SELECT j AS pos, CAST(CASE WHEN nrm > 0
           |    THEN round(CAST(w6 AS DOUBLE) / nrm * 1.0e6, 0) / 1.0e6
           |    ELSE 0.0 END
           |    AS DECIMAL(18,6)) AS v FROM w$i, nn$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT * FROM embeddings
         |  WHERE ${h60("'pca_' || vec_id")} % 100 < 25),
         |x AS (SELECT vec_id, CAST(g.pos AS INT) AS pos,
         |    CAST(round(CAST(embedding[g.pos] AS DOUBLE) * 1.0e6, 0)
         |      / 1.0e6 AS DECIMAL(18,6)) AS xr
         |  FROM e,
         |    unnest(generate_series(1, len(embedding))) AS g(pos)),
         |mu AS (SELECT pos, CAST(round(CAST(sum(xr) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) * 1.0e6, 0) / 1.0e6
         |    AS DECIMAL(18,6)) AS mur
         |  FROM x GROUP BY pos),
         |xcu AS (SELECT vec_id, pos,
         |    CAST((xr - mur) * 1000000 AS BIGINT) AS u
         |  FROM x JOIN mu USING (pos)),
         |gram AS (SELECT a.pos AS i, b.pos AS j,
         |    CAST(round(CAST(sum(a.u * b.u) AS DECIMAL(20,0))
         |        * CAST(0.000000000001 AS DECIMAL(13,12)), 6)
         |      AS DECIMAL(18,6)) AS c
         |  FROM xcu a JOIN xcu b USING (vec_id) GROUP BY a.pos, b.pos),
         |v0 AS (SELECT pos, CAST(0.125 AS DECIMAL(18,6)) AS v FROM mu),
         |$iterCtes,
         |nv AS (SELECT count(*) AS nv FROM e),
         |lam AS (SELECT CAST(sum(CAST(vi * c * vj AS DECIMAL(38,18)))
         |    AS DOUBLE) / CAST(max(nv) AS DOUBLE) AS eigenvalue
         |  FROM gram
         |  JOIN (SELECT pos AS i, CAST(v AS DECIMAL(8,6)) AS vi FROM v$k)
         |    USING (i)
         |  JOIN (SELECT pos AS j, CAST(v AS DECIMAL(8,6)) AS vj FROM v$k)
         |    USING (j), nv),
         |tot AS (SELECT CAST(sum(c) AS DOUBLE) / CAST(max(nv) AS DOUBLE)
         |    AS total_var
         |  FROM gram, nv WHERE i = j)
         |SELECT pos AS dim, CAST(v AS DOUBLE) AS loading, eigenvalue,
         |  eigenvalue / total_var AS explained_share
         |FROM v$k, lam, tot ORDER BY dim""".stripMargin
    },

    // mirrors Similarity.embedDimStats: 6-decimal DECIMAL element sums,
    // boundary-order mean/variance, fixed collapse threshold.
    // mirrors Similarity.embedOutliers: per-label scaled-long dim-sum
    // centroids (cosine is scale-invariant — no mean division), the
    // shared sequential dot, bottom-20 per label by (cos, vec_id).
    "embed_outliers" ->
      s"""$embCte,
         |cx AS (SELECT label, g.pos AS pos,
         |    sum(CAST(round(v[g.pos] * 1000000.0, 0) AS BIGINT)) AS sx,
         |    count(*) AS cn
         |  FROM n, unnest(generate_series(1, len(v))) AS g(pos)
         |  GROUP BY label, g.pos),
         |ct AS (SELECT label, max(cn) AS n_label,
         |    list(CAST(sx AS DOUBLE) ORDER BY pos) AS cv
         |  FROM cx GROUP BY label),
         |c2 AS (SELECT label, n_label, cv,
         |    sqrt(list_sum(list_transform(cv, x -> x * x))) AS c_nrm
         |  FROM ct),
         |s AS (SELECT n.label, c2.n_label, n.vec_id,
         |    ${safe6(dotSql("n.v", "c2.cv") + " / (n.nrm * c2.c_nrm)")}
         |      AS centroid_cos
         |  FROM n JOIN c2 USING (label)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY label
         |    ORDER BY centroid_cos, vec_id) AS rank FROM s)
         |SELECT label, CAST(rank AS INT) AS rank, vec_id, centroid_cos,
         |  CAST(n_label AS BIGINT) AS n_label
         |FROM r WHERE rank <= 20 ORDER BY label, rank""".stripMargin,

    "embed_dim_stats" ->
      """WITH x AS (SELECT CAST(g.pos AS INT) AS dim,
        |    CAST(round(CAST(embedding[g.pos] AS DOUBLE) * 1.0e6, 0)
        |      / 1.0e6 AS DECIMAL(28,6)) AS xv,
        |    CASE WHEN embedding[g.pos] = 0 THEN 1 ELSE 0 END AS z
        |  FROM embeddings,
        |    unnest(generate_series(1, len(embedding))) AS g(pos)),
        |g AS (SELECT dim, count(*) AS n, sum(xv) AS sx,
        |        sum(CAST(xv * xv AS DECIMAL(38,12))) AS sxx,
        |        CAST(sum(z) AS BIGINT) AS n_zero
        |      FROM x GROUP BY dim),
        |v AS (SELECT dim, n,
        |        round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
        |          * 1.0e6, 0) / 1.0e6 AS mean,
        |        round((CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
        |          - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |            * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
        |          * 1.0e6, 0) / 1.0e6
        |          AS variance,
        |        CAST(n_zero AS DOUBLE) / CAST(n AS DOUBLE) AS zero_share
        |      FROM g)
        |SELECT dim, n, mean, variance, zero_share,
        |  variance < 0.0001 AS collapsed
        |FROM v ORDER BY dim""".stripMargin,

    // mirrors TextAnalysis.curriculumOrder: the readability CTE's
    // fk_grade cut into fixed bands, epoch_order ranks within
    // (band, shard).
    "curriculum_order" ->
      s"""WITH base AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
         |      AS BIGINT)) AS n_sentences,
         |    CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
         |      AS BIGINT) AS n_syllables
         |  FROM documents),
         |rd AS (SELECT doc_id,
         |    0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
         |      + 11.8 * (CAST(n_syllables AS DOUBLE)
         |        / CAST(n_words AS DOUBLE))
         |      - 15.59 AS fk_grade
         |  FROM base WHERE n_words > 0),
         |t AS (SELECT CASE WHEN fk_grade < 8.0 THEN 0
         |          WHEN fk_grade < 12.0 THEN 1 ELSE 2 END AS band,
         |        ${h60("'shard_' || doc_id")} % 8 AS shard,
         |        doc_id,
         |        ${h60("'epoch0_' || doc_id")} AS okey
         |      FROM rd)
         |SELECT band, shard,
         |  CAST(row_number() OVER (PARTITION BY band, shard
         |    ORDER BY okey, doc_id) AS INT) AS band_pos,
         |  doc_id
         |FROM t ORDER BY band, shard, band_pos""".stripMargin,

    // mirrors TextAnalysis.readability: identical regex counters and
    // association order, raw doubles (exact-integer inputs need no
    // rounding).
    "readability" ->
      """WITH base AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
        |      AS BIGINT)) AS n_sentences,
        |    CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  206.835 - 1.015 * (CAST(n_words AS DOUBLE)
        |      / CAST(n_sentences AS DOUBLE))
        |    - 84.6 * (CAST(n_syllables AS DOUBLE)
        |      / CAST(n_words AS DOUBLE)) AS flesch_ease,
        |  0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |    - 15.59 AS fk_grade
        |FROM base WHERE n_words > 0 ORDER BY doc_id""".stripMargin,

    // mirrors TextAnalysis.ccnetBuckets: the lm_score chain, then
    // per-language ntile(3) terciles over (avg_logprob DESC, doc_id)
    // and integer basis-point token shares.
    "ccnet_buckets" ->
      """WITH k AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
        |       FROM documents),
        |tr AS (SELECT t, count(*) AS c FROM k WHERE lang = 'en' GROUP BY t),
        |m AS (SELECT CAST(sum(c) AS DOUBLE) AS tt, CAST(count(*) AS DOUBLE) AS vv
        |      FROM tr),
        |sc AS (SELECT k.doc_id,
        |         CAST(round(ln((CAST(coalesce(tr.c, 0) AS DOUBLE) + 1.0)
        |           / (m.tt + m.vv + 1.0)) * 1000000.0, 0) AS BIGINT) AS lp6
        |       FROM k LEFT JOIN tr ON k.t = tr.t, m),
        |d AS (SELECT doc_id, count(*) AS n_tokens,
        |        CAST(sum(lp6) AS DOUBLE) / 1000000.0
        |          / CAST(count(*) AS DOUBLE) AS avg_logprob
        |      FROM sc GROUP BY doc_id),
        |b AS (SELECT dd.lang, d.n_tokens, d.avg_logprob,
        |        ntile(3) OVER (PARTITION BY dd.lang
        |          ORDER BY d.avg_logprob DESC, d.doc_id) AS bucket_no
        |      FROM d JOIN documents dd USING (doc_id)),
        |g AS (SELECT lang, bucket_no, count(*) AS n_docs,
        |        CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |        min(avg_logprob) AS cut_logprob
        |      FROM b GROUP BY lang, bucket_no)
        |SELECT lang, bucket_no,
        |  CASE bucket_no WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |    ELSE 'tail' END AS bucket,
        |  CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
        |  (n_tokens * 10000)
        |    // CAST(sum(n_tokens) OVER (PARTITION BY lang) AS BIGINT)
        |    AS token_share_bp,
        |  cut_logprob
        |FROM g ORDER BY lang, bucket_no""".stripMargin,

    // mirrors TextAnalysis.qualityRankCorr: the budget_select quality
    // expression + the lm_score chain, two row_number rank windows
    // (doc_id tie-breaks), exact integer sum of squared rank gaps,
    // one output division.
    "quality_rank_corr" ->
      """WITH k AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
        |       FROM documents),
        |tr AS (SELECT t, count(*) AS c FROM k WHERE lang = 'en' GROUP BY t),
        |m AS (SELECT CAST(sum(c) AS DOUBLE) AS tt, CAST(count(*) AS DOUBLE) AS vv
        |      FROM tr),
        |sc AS (SELECT k.doc_id,
        |         CAST(round(ln((CAST(coalesce(tr.c, 0) AS DOUBLE) + 1.0)
        |           / (m.tt + m.vv + 1.0)) * 1000000.0, 0) AS BIGINT) AS lp6
        |       FROM k LEFT JOIN tr ON k.t = tr.t, m),
        |d AS (SELECT doc_id, CAST(sum(lp6) AS DOUBLE) / 1000000.0
        |        / CAST(count(*) AS DOUBLE) AS avg_logprob
        |      FROM sc GROUP BY doc_id),
        |q AS (SELECT doc_id, lang,
        |    round((CAST(len(list_distinct(toks)) AS DOUBLE)
        |        / CAST(len(toks) AS DOUBLE))
        |      * (1.0 - CAST(len(list_filter(toks, tk -> list_contains(
        |          ['the','a','of','and','to','in','is','on','for','with'],
        |          tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
        |      * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
        |      * 1.0e6, 0) / 1.0e6
        |      AS quality_score
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
        |        FROM documents)),
        |r AS (SELECT q.lang,
        |    row_number() OVER (PARTITION BY q.lang
        |      ORDER BY q.quality_score DESC, q.doc_id) AS rq,
        |    row_number() OVER (PARTITION BY q.lang
        |      ORDER BY d.avg_logprob DESC, q.doc_id) AS rl
        |  FROM q JOIN d USING (doc_id)),
        |a AS (SELECT lang, count(*) AS n_docs,
        |    CAST(sum((rq - rl) * (rq - rl)) AS BIGINT) AS sum_d2
        |  FROM r GROUP BY lang)
        |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, sum_d2,
        |  CASE WHEN n_docs > 1 THEN round((1.0
        |    - 6.0 * CAST(sum_d2 AS DOUBLE)
        |      / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)
        |        * CAST(n_docs AS DOUBLE) - CAST(n_docs AS DOUBLE)))
        |    * 1.0e6, 0) / 1.0e6
        |  END AS spearman_rho
        |FROM a ORDER BY lang""".stripMargin,

    // mirrors TextAnalysis.boilerplateAudit (nTok=5, topK=3): fixed
    // 5-token prefix/suffix slices (whole doc when shorter), one
    // (source, kind, snippet) count, top-3 per (source, kind) by
    // (cnt DESC, snippet), integer basis-point rates.
    "boilerplate_audit" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
        |           FROM documents),
        |base AS (SELECT source,
        |    CASE WHEN len(toks) >= 5
        |      THEN array_to_string(list_slice(toks, 1, 5), ' ')
        |      ELSE array_to_string(toks, ' ') END AS header,
        |    CASE WHEN len(toks) >= 5
        |      THEN array_to_string(
        |        list_slice(toks, len(toks) - 4, len(toks)), ' ')
        |      ELSE array_to_string(toks, ' ') END AS footer
        |  FROM t),
        |cand AS (SELECT source, 'header' AS kind, header AS snippet
        |           FROM base
        |         UNION ALL
        |         SELECT source, 'footer', footer FROM base),
        |nd AS (SELECT source, count(*) AS n_docs FROM t GROUP BY source),
        |c AS (SELECT source, kind, snippet, count(*) AS cnt,
        |        row_number() OVER (PARTITION BY source, kind
        |          ORDER BY count(*) DESC, snippet) AS rank
        |      FROM cand GROUP BY source, kind, snippet)
        |SELECT c.source, kind, CAST(rank AS INT) AS rank, snippet, cnt,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  (cnt * 10000) // n_docs AS rate_bp
        |FROM c JOIN nd USING (source)
        |WHERE rank <= 3 ORDER BY c.source, kind, rank""".stripMargin,

    "lm_score" ->
      """WITH k AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
        |       FROM documents),
        |tr AS (SELECT t, count(*) AS c FROM k WHERE lang = 'en' GROUP BY t),
        |m AS (SELECT CAST(sum(c) AS DOUBLE) AS tt, CAST(count(*) AS DOUBLE) AS vv
        |      FROM tr),
        |sc AS (SELECT k.doc_id,
        |         CASE WHEN tr.c IS NULL THEN 1 ELSE 0 END AS oov,
        |         CAST(round(ln((CAST(coalesce(tr.c, 0) AS DOUBLE) + 1.0)
        |           / (m.tt + m.vv + 1.0)) * 1000000.0, 0) AS BIGINT) AS lp6
        |       FROM k LEFT JOIN tr ON k.t = tr.t, m),
        |d AS (SELECT doc_id, count(*) AS n_tokens, sum(lp6) AS s6,
        |        sum(oov) AS n_oov
        |      FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |  CAST(s6 AS DOUBLE) / 1000000.0 / CAST(n_tokens AS DOUBLE) AS avg_logprob,
        |  CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
        |FROM d ORDER BY doc_id""".stripMargin,

    // mirrors TextAnalysis.lmScoreIndexed over the history postings
    // index: train counts from the 80% 'en' slice, delta docs scored
    // under the frozen model (Σ tf per term == direct token counts).
    "lm_score_incremental" ->
      s"""WITH k AS (SELECT doc_id, lang,
         |        unnest(string_split(text, ' ')) AS t,
         |        (${h60("'inc_' || doc_id")} % 100) < 80 AS is_hist
         |      FROM documents),
         |tr AS (SELECT t, count(*) AS c FROM k
         |       WHERE lang = 'en' AND is_hist GROUP BY t),
         |m AS (SELECT CAST(sum(c) AS DOUBLE) AS tt,
         |        CAST(count(*) AS DOUBLE) AS vv FROM tr),
         |sc AS (SELECT k.doc_id,
         |         CASE WHEN tr.c IS NULL THEN 1 ELSE 0 END AS oov,
         |         CAST(round(ln((CAST(coalesce(tr.c, 0) AS DOUBLE) + 1.0)
         |           / (m.tt + m.vv + 1.0)) * 1000000.0, 0) AS BIGINT) AS lp6
         |       FROM k LEFT JOIN tr ON k.t = tr.t, m
         |       WHERE NOT k.is_hist),
         |d AS (SELECT doc_id, count(*) AS n_tokens, sum(lp6) AS s6,
         |        sum(oov) AS n_oov
         |      FROM sc GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |  CAST(s6 AS DOUBLE) / 1000000.0 / CAST(n_tokens AS DOUBLE)
         |    AS avg_logprob,
         |  CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
         |FROM d ORDER BY doc_id""".stripMargin,

    // full-recompute-minus-retired parity: lm_score over the surviving
    // 90% only (train slice and scored docs both drop the takedowns).
    "lm_retire" ->
      s"""WITH surv AS (SELECT * FROM documents
         |        WHERE ${h60("'ret_' || doc_id")} % 100 < 90),
         |k AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
         |      FROM surv),
         |tr AS (SELECT t, count(*) AS c FROM k WHERE lang = 'en' GROUP BY t),
         |m AS (SELECT CAST(sum(c) AS DOUBLE) AS tt,
         |        CAST(count(*) AS DOUBLE) AS vv FROM tr),
         |sc AS (SELECT k.doc_id,
         |         CASE WHEN tr.c IS NULL THEN 1 ELSE 0 END AS oov,
         |         CAST(round(ln((CAST(coalesce(tr.c, 0) AS DOUBLE) + 1.0)
         |           / (m.tt + m.vv + 1.0)) * 1000000.0, 0) AS BIGINT) AS lp6
         |       FROM k LEFT JOIN tr ON k.t = tr.t, m),
         |d AS (SELECT doc_id, count(*) AS n_tokens, sum(lp6) AS s6,
         |        sum(oov) AS n_oov
         |      FROM sc GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |  CAST(s6 AS DOUBLE) / 1000000.0 / CAST(n_tokens AS DOUBLE)
         |    AS avg_logprob,
         |  CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
         |FROM d ORDER BY doc_id""".stripMargin,

    // mirrors TextAnalysis.lmDrift: both slices' tokens scored under
    // the frozen history model, slice-level exact-integer roll-up.
    "lm_ppl_drift" ->
      s"""WITH k AS (SELECT doc_id, lang,
         |        unnest(string_split(text, ' ')) AS t,
         |        (${h60("'inc_' || doc_id")} % 100) < 80 AS is_hist
         |      FROM documents),
         |tr AS (SELECT t, count(*) AS c FROM k
         |       WHERE lang = 'en' AND is_hist GROUP BY t),
         |m AS (SELECT CAST(sum(c) AS DOUBLE) AS tt,
         |        CAST(count(*) AS DOUBLE) AS vv FROM tr),
         |sc AS (SELECT CASE WHEN k.is_hist THEN 'history'
         |           ELSE 'delta' END AS slice,
         |         k.doc_id,
         |         CASE WHEN tr.c IS NULL THEN 1 ELSE 0 END AS oov,
         |         CAST(round(ln((CAST(coalesce(tr.c, 0) AS DOUBLE) + 1.0)
         |           / (m.tt + m.vv + 1.0)) * 1000000.0, 0) AS BIGINT) AS lp6
         |       FROM k LEFT JOIN tr ON k.t = tr.t, m)
         |SELECT slice, count(DISTINCT doc_id) AS n_docs,
         |  count(*) AS n_tokens,
         |  CAST(sum(lp6) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE)
         |    AS avg_logprob,
         |  CAST(sum(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
         |FROM sc GROUP BY slice ORDER BY slice""".stripMargin,

    "decontaminate" ->
      s"""$docsCte,
         |$sh8Cte,
         |f AS (SELECT doc_id, shingle,
         |        (${h60("'split_' || doc_id")} % 100) < 10 AS is_test
         |      FROM sh8),
         |p AS (SELECT shingle,
         |        count(*) FILTER (WHERE is_test) AS nt,
         |        count(*) FILTER (WHERE NOT is_test) AS nr
         |      FROM f GROUP BY shingle
         |      HAVING nt > 0 AND nr > 0 AND nt + nr <= ${Dedup.MaxShingleDf})
         |SELECT r.doc_id AS doc_id, count(*) AS n_collisions,
         |  count(DISTINCT tt.doc_id) AS n_test_docs
         |FROM f r JOIN p ON p.shingle = r.shingle
         |JOIN f tt ON tt.shingle = r.shingle
         |WHERE NOT r.is_test AND tt.is_test
         |GROUP BY r.doc_id ORDER BY doc_id""".stripMargin,

    "balanced_sample" ->
      """WITH r AS (SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY md5('bs_' || doc_id), doc_id) AS INT) AS samp_rank
        |  FROM documents)
        |SELECT doc_id, source, samp_rank FROM r
        |WHERE samp_rank <= 10
        |ORDER BY source, samp_rank""".stripMargin,

    // the composed 4-stage pipeline: quality gate -> near-dup removal
    // (over the filtered corpus) -> decontamination (over the kept
    // corpus) -> balanced per-source sample. Stage order is semantic
    // and pinned here (chain shared with corpus_curate_gated, which
    // runs it over the domain-admitted slice).
    "corpus_curate" ->
      s"""WITH RECURSIVE ${curateSqlOver("documents")}""".stripMargin,

    // mirrors TextAnalysis.domainProfile: per-source doc/token shares,
    // exact-fingerprint and capped-near-dup participation rates, mean
    // quality from the exact 1e-6-integer sum.
    "domain_profile" -> domainProfileOracleSql,

    // TextAnalysis.domainProfileIncremental folds the delta into the
    // persisted additive stats / fingerprint provenance / participant
    // set (near-dup blast radius via the posting index) — exact
    // full-rebuild parity, so the oracle is domain_profile verbatim.
    "domain_profile_incremental" -> domainProfileOracleSql,


    // mirrors TextAnalysis.curateGated: the domain gate (integer
    // threshold comparisons over the RAW-corpus per-source profile +
    // the explicit denylist) admits sources, then the corpus_curate
    // chain runs over the admitted slice only.
    "corpus_curate_gated" ->
      s"""WITH RECURSIVE
         |gt AS (SELECT doc_id, source, text,
         |         string_split(text, ' ') AS toks FROM documents),
         |gq AS (SELECT doc_id, source,
         |         CAST(round($curateQualitySql * 1.0e6, 0) AS BIGINT) AS q6
         |       FROM gt),
         |gsh AS (SELECT DISTINCT doc_id,
         |          ${h60("concat_ws(' ', toks[i], toks[i+1], toks[i+2])")}
         |            AS shingle
         |        FROM gt, unnest(generate_series(1, len(toks) - 2)) AS g(i)),
         |gshc AS (SELECT doc_id, shingle FROM gsh
         |         QUALIFY count(*) OVER (PARTITION BY shingle)
         |           <= ${Dedup.MaxShingleDf}),
         |gcand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |          FROM gshc x JOIN gshc y
         |            ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
         |gcnt AS (SELECT doc_id, count(*) AS n FROM gshc GROUP BY doc_id),
         |ginter AS (SELECT c.d1, c.d2, count(*) AS i
         |           FROM gcand c
         |           JOIN gshc s1 ON s1.doc_id = c.d1
         |           JOIN gshc s2 ON s2.doc_id = c.d2
         |             AND s2.shingle = s1.shingle
         |           GROUP BY c.d1, c.d2),
         |gp AS (SELECT d1, d2 FROM ginter
         |       JOIN gcnt c1 ON c1.doc_id = d1
         |       JOIN gcnt c2 ON c2.doc_id = d2
         |       WHERE round(CAST(i AS DOUBLE)
         |         / CAST(c1.n + c2.n - i AS DOUBLE) * 1.0e6, 0) / 1.0e6
         |         >= 0.5),
         |gnd AS (SELECT DISTINCT doc_id FROM
         |         (SELECT d1 AS doc_id FROM gp
         |          UNION ALL SELECT d2 FROM gp)),
         |gs AS (SELECT source, count(*) AS n_docs, sum(q6) AS q6_sum,
         |         sum(CASE WHEN gnd.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |           AS n_nd
         |       FROM gq LEFT JOIN gnd USING (doc_id) GROUP BY source),
         |gallow AS (SELECT source FROM gs
         |           WHERE q6_sum >= 330000 * n_docs
         |             AND n_nd * 100 <= 16 * n_docs
         |             AND source NOT IN ('src19')),
         |docs_g AS (SELECT d.* FROM documents d JOIN gallow USING (source)),
         |${curateSqlOver("docs_g")}""".stripMargin,

    // per-doc ledger over the same cascade: stage CTEs identical to
    // corpus_curate's, re-emitted per input doc with NULL verdicts for
    // stages never reached; 'shipped' rows == corpus_curate's output.
    "curation_ledger" ->
      s"""$curationLedgerCtes
         |SELECT * FROM led ORDER BY doc_id""".stripMargin,

    // the ledger reduced to per-stage drop counts in cascade order.
    "curation_funnel" ->
      s"""$curationLedgerCtes,
         |fcnt AS (SELECT status, count(*) AS n_docs FROM led GROUP BY status)
         |SELECT CAST(CASE status WHEN 'quality' THEN 0 WHEN 'near_dup' THEN 1
         |    WHEN 'test_split' THEN 2 WHEN 'contaminated' THEN 3
         |    WHEN 'source_cap' THEN 4 ELSE 5 END AS INT) AS stage_order,
         |  status, n_docs
         |FROM fcnt ORDER BY stage_order""".stripMargin,

    "dedup_cross_modal" ->
      s"""$docsCte,
         |$shCappedCte,
         |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |         FROM shc x JOIN shc y
         |           ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
         |${jaccardCte("shc")},
         |jp AS (SELECT d1, d2, jaccard FROM jac WHERE jaccard >= 0.5),
         |${embCte.replaceFirst("WITH ", "")}
         |SELECT jp.d1, jp.d2, jp.jaccard,
         |  ${safe6(dotSql("x.v", "y.v") + " / (x.nrm * y.nrm)")} AS cosine
         |FROM jp JOIN n x ON x.vec_id = jp.d1 JOIN n y ON y.vec_id = jp.d2
         |ORDER BY jp.d1, jp.d2""".stripMargin,

    "tfidf_top_terms" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |td AS (SELECT doc_id, len(toks) AS doc_len, u.term, count(*) AS tf_raw
        |       FROM t, unnest(toks) AS u(term) GROUP BY doc_id, len(toks), u.term),
        |dfq AS (SELECT term, count(*) AS doc_freq FROM td GROUP BY term),
        |nn AS (SELECT count(*) AS n FROM documents),
        |sc AS (SELECT td.doc_id, td.term,
        |         round((CAST(tf_raw AS DOUBLE) / CAST(doc_len AS DOUBLE))
        |           * ln(CAST(nn.n AS DOUBLE) / CAST(doc_freq AS DOUBLE)) * 1.0e6, 0) / 1.0e6 AS tfidf
        |       FROM td JOIN dfq USING (term), nn),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        |      FROM sc)
        |SELECT doc_id, term, tfidf, rank FROM r WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    "top_bigrams" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (SELECT DISTINCT doc_id, concat_ws(' ', toks[i], toks[i+1]) AS bigram
        |       FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i))
        |SELECT bigram, count(*) AS doc_freq FROM bg GROUP BY bigram
        |ORDER BY doc_freq DESC, bigram LIMIT 50""".stripMargin,

    "minhash_signatures" ->
      s"""$docsCte,
         |$sigCte
         |SELECT * FROM sig ORDER BY doc_id""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""$docsCte,
         |$sigCte,
         |$bandsCte,
         |bst AS (SELECT doc_id, b, bkey,
         |          count(*) OVER (PARTITION BY b, bkey) AS bn,
         |          min(doc_id) OVER (PARTITION BY b, bkey) AS bmin
         |        FROM bands),
         |cand AS (SELECT a.doc_id AS d1, b2.doc_id AS d2
         |         FROM bst a JOIN bst b2
         |           ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id
         |         WHERE a.bn <= ${Dedup.MaxBucketSize}
         |         UNION
         |         SELECT bmin AS d1, doc_id AS d2
         |         FROM bst WHERE bn > ${Dedup.MaxBucketSize} AND doc_id > bmin),
         |${jaccardCte()}
         |SELECT d1, d2, jaccard FROM jac WHERE jaccard >= 0.5 ORDER BY d1, d2""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""$docsCte,
         |$shCappedCte,
         |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |         FROM shc x JOIN shc y
         |           ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
         |${jaccardCte("shc")}
         |SELECT d1, d2, jaccard FROM jac WHERE jaccard >= 0.5 ORDER BY d1, d2""".stripMargin,

    // mirrors Dedup.lshRecallAudit: uncapped inverted-index truth at
    // J >= 0.05, the capped minhash band candidates, per-band recall +
    // 12-decimal DECIMAL S-curve means.
    "lsh_recall_audit" ->
      s"""$docsCte,
         |$sigCte,
         |$bandsCte,
         |bst AS (SELECT doc_id, b, bkey,
         |          count(*) OVER (PARTITION BY b, bkey) AS bn,
         |          min(doc_id) OVER (PARTITION BY b, bkey) AS bmin
         |        FROM bands),
         |cand AS (SELECT a.doc_id AS d1, b2.doc_id AS d2
         |         FROM bst a JOIN bst b2
         |           ON a.b = b2.b AND a.bkey = b2.bkey AND a.doc_id < b2.doc_id
         |         WHERE a.bn <= ${Dedup.MaxBucketSize}
         |         UNION
         |         SELECT bmin AS d1, doc_id AS d2
         |         FROM bst WHERE bn > ${Dedup.MaxBucketSize} AND doc_id > bmin),
         |tp AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |       FROM sh x JOIN sh y
         |         ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
         |tc AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |ti AS (SELECT t.d1, t.d2, count(*) AS i
         |       FROM tp t JOIN sh s1 ON s1.doc_id = t.d1
         |       JOIN sh s2 ON s2.doc_id = t.d2 AND s2.shingle = s1.shingle
         |       GROUP BY t.d1, t.d2),
         |tj AS (SELECT ti.d1, ti.d2,
         |         round(CAST(i AS DOUBLE) / CAST(c1.n + c2.n - i AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS jaccard
         |       FROM ti JOIN tc c1 ON c1.doc_id = ti.d1
         |       JOIN tc c2 ON c2.doc_id = ti.d2),
         |truth AS (SELECT * FROM tj WHERE jaccard >= 0.05),
         |j AS (SELECT truth.d1, truth.d2, truth.jaccard,
         |        CAST(least(floor(jaccard * 10), 9) AS INT) AS jband,
         |        CAST(round((1.0 - pow(1.0 - pow(jaccard, 4), 4)) * 1.0e12, 0) AS BIGINT) AS scurve_u,
         |        c.d1 IS NOT NULL AS hit
         |      FROM truth LEFT JOIN cand c
         |        ON c.d1 = truth.d1 AND c.d2 = truth.d2)
         |SELECT jband, count(*) AS n_truth,
         |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_detected,
         |  round(CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS recall,
         |  round(CAST(sum(scurve_u) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1.0e12) * 1.0e6, 0) / 1.0e6 AS recall_theoretical
         |FROM j GROUP BY jband ORDER BY jband""".stripMargin,

    // mirrors Dedup.containmentPairs over the capped index: same
    // posting-pair counts, containment vs min, Jaccard alongside.
    "dedup_containment" ->
      s"""$docsCte,
         |$shCappedCte,
         |inter AS (SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS inter
         |          FROM shc x JOIN shc y
         |            ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |          GROUP BY 1, 2),
         |cnt AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
         |j AS (SELECT d1, d2, c1.n AS n1, c2.n AS n2,
         |        round(CAST(inter AS DOUBLE) / CAST(least(c1.n, c2.n) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS containment,
         |        round(CAST(inter AS DOUBLE) / CAST(c1.n + c2.n - inter AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS jaccard
         |      FROM inter
         |      JOIN cnt c1 ON c1.doc_id = d1
         |      JOIN cnt c2 ON c2.doc_id = d2)
         |SELECT d1, d2, n1, n2, containment, jaccard FROM j
         |WHERE containment >= 0.6 ORDER BY d1, d2""".stripMargin,

    // mirrors TextAnalysis.zipfFit: exact freq/rank, log10 on ints,
    // 12-decimal DECIMAL OLS term sums, slope/intercept at boundary.
    // mirrors TextAnalysis.dsirSelect (B=64, target src0-src3):
    // unigram+bigram features WITH multiplicity, hashed buckets, the
    // Laplace-smoothed lambda grid rounded at the 9-grid per bucket,
    // exact decimal per-doc sums, top-50 by (logw DESC, doc_id).
    "dsir_select" ->
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
         |           FROM documents),
         |uni AS (SELECT doc_id, source, toks[i] AS gram
         |        FROM t, unnest(generate_series(1, len(toks))) g(i)),
         |bi AS (SELECT doc_id, source,
         |         concat_ws(' ', toks[i], toks[i+1]) AS gram
         |       FROM t, unnest(generate_series(1, len(toks) - 1)) g(i)),
         |g AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
         |f AS (SELECT doc_id, source,
         |        CAST(${h60("'dsir_' || gram")} % 64 AS INT) AS b
         |      FROM g),
         |agg AS (SELECT b,
         |    sum(CASE WHEN source IN ('src0','src1','src2','src3')
         |      THEN 1 ELSE 0 END) AS ct,
         |    sum(CASE WHEN source IN ('src0','src1','src2','src3')
         |      THEN 0 ELSE 1 END) AS cr
         |  FROM f GROUP BY b),
         |tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM agg),
         |lam AS (SELECT b, CAST(round(ln(((ct + 1) * (tr + 64))
         |      / ((cr + 1) * (tt + 64))) * 1000000000.0, 0)
         |      AS BIGINT) AS lam9
         |  FROM agg, tot),
         |dc AS (SELECT doc_id, b, count(*) AS n FROM f
         |  WHERE source NOT IN ('src0','src1','src2','src3')
         |  GROUP BY doc_id, b),
         |w AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_feats,
         |    CAST(sum(n * lam9) AS BIGINT) AS s9
         |  FROM dc JOIN lam USING (b) GROUP BY doc_id)
         |SELECT w.doc_id, d.source, n_feats,
         |  CAST(s9 AS DOUBLE) / 1000000000.0 AS logw
         |FROM w JOIN documents d ON d.doc_id = w.doc_id
         |ORDER BY s9 DESC, w.doc_id LIMIT 50""".stripMargin,

    // mirrors TextAnalysis.budgetSelect: the shared quality formula,
    // a quality-ranked cumulative token spend per source, integer
    // budgets (pct*total) // 100, pure integer admission.
    "budget_select" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
        |           FROM documents),
        |q AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tok,
        |  round((CAST(len(list_distinct(toks)) AS DOUBLE)
        |      / CAST(len(toks) AS DOUBLE))
        |    * (1.0 - CAST(len(list_filter(toks, tk -> list_contains(
        |        ['the','a','of','and','to','in','is','on','for','with'],
        |        tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
        |    * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
        |    * 1.0e6, 0) / 1.0e6
        |    AS quality_score
        |  FROM t),
        |r AS (SELECT *,
        |    CAST(sum(n_tok) OVER (PARTITION BY source
        |      ORDER BY quality_score DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY source) AS BIGINT)
        |      AS tot_tok
        |  FROM q),
        |s AS (SELECT *, (30 * tot_tok) // 100 AS budget_tokens,
        |        cum_tok <= (30 * tot_tok) // 100 AS selected
        |      FROM r)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  max(tot_tok) AS total_tokens,
        |  max(budget_tokens) AS budget_tokens,
        |  CAST(sum(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_selected,
        |  CAST(sum(CASE WHEN selected THEN n_tok ELSE 0 END) AS BIGINT)
        |    AS tokens_selected,
        |  min(CASE WHEN selected THEN quality_score END) AS quality_bar,
        |  round(CAST(sum(CASE WHEN selected THEN n_tok ELSE 0 END)
        |      AS DOUBLE) / CAST(max(budget_tokens) AS DOUBLE)
        |    * 1.0e6, 0) / 1.0e6 AS utilization
        |FROM s GROUP BY source ORDER BY source""".stripMargin,

    // mirrors TextAnalysis.stratifiedSplit: salted-hash rank within
    // (lang, source), exact integer quota boundaries (p·n+99)//100.
    "stratified_split" ->
      s"""WITH r AS (SELECT doc_id, lang, source,
         |        ${h60("'split_' || doc_id")} AS okey
         |      FROM documents),
         |rk AS (SELECT doc_id, lang, source,
         |         CAST(row_number() OVER (PARTITION BY lang, source
         |           ORDER BY okey, doc_id) AS BIGINT) AS rank_in_stratum,
         |         CAST(count(*) OVER (PARTITION BY lang, source)
         |           AS BIGINT) AS n
         |       FROM r)
         |SELECT doc_id, lang, source, rank_in_stratum,
         |  CASE WHEN rank_in_stratum <= (80 * n + 99) // 100 THEN 'train'
         |       WHEN rank_in_stratum <= (90 * n + 99) // 100 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM rk ORDER BY lang, source, rank_in_stratum""".stripMargin,

    // mirrors DataQuality.seasonalDecompose: (type, hour) counts, a
    // complete-25-point centered RANGE mean, per-(type, hod) detrended
    // means, all as truncating micro-integer divisions.
    "seasonal_decompose" ->
      s"""WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour_ts,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |h2 AS (SELECT *, CAST(floor(epoch(hour_ts)) AS BIGINT) AS ts_s
        |  FROM h),
        |t AS (SELECT *,
        |    CASE WHEN count(*) OVER w = 25
        |      THEN (sum(n) OVER w * 1000000) // 25 END AS trend6
        |  FROM h2
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts_s
        |    RANGE BETWEEN 43200 PRECEDING AND 43200 FOLLOWING)),
        |d AS (SELECT *, n * 1000000 - trend6 AS det6 FROM t),
        |s AS (SELECT *,
        |    CASE WHEN count(det6) OVER wh > 0
        |      THEN ${tdiv("sum(det6) OVER wh", "count(det6) OVER wh")}
        |      END AS seas6
        |  FROM d
        |  WINDOW wh AS (PARTITION BY event_type, hour(hour_ts)))
        |SELECT event_type, hour_ts, n AS n_events,
        |  ${microD("CAST(trend6 AS BIGINT)")} AS trend,
        |  ${microD("CAST(seas6 AS BIGINT)")} AS seasonal,
        |  ${microD("CAST(det6 - seas6 AS BIGINT)")} AS remainder
        |FROM s WHERE trend6 IS NOT NULL
        |ORDER BY event_type, hour_ts""".stripMargin,

    // mirrors DataQuality.upliftBySegment: per-user fold with the
    // heavy-buyer outcome + salted arms, activity segments, truncating
    // micro-integer rates (exact uplift difference), z pinned as
    // round(z*1e6, 0).
    "uplift_by_segment" ->
      s"""WITH f AS (SELECT user_id,
         |    count(DISTINCT CASE WHEN event_type <> 'purchase'
         |      THEN CAST(ts AS DATE) END) AS n_days,
         |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1
         |      ELSE 0 END) > 13 THEN 1 ELSE 0 END AS y,
         |    (${h60("'ab_' || user_id")} % 2) AS arm
         |  FROM events GROUP BY user_id),
         |s AS (SELECT CASE WHEN n_days <= 10 THEN 'low'
         |        WHEN n_days <= 20 THEN 'mid' ELSE 'high' END
         |        AS segment, arm, y
         |      FROM f),
         |g AS (SELECT segment,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_t,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_c,
         |    CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT)
         |      AS x_t,
         |    CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT)
         |      AS x_c
         |  FROM s GROUP BY segment),
         |t AS (SELECT *, x_t + x_c AS x, n_t + n_c AS n FROM g),
         |z AS (SELECT *,
         |    CASE WHEN x > 0 AND x < n AND n_t > 0 AND n_c > 0 THEN
         |      CAST(round(CAST(x_t * n_c - x_c * n_t AS DOUBLE)
         |        / sqrt(CAST(x * (n - x) AS DOUBLE)
         |          * CAST(n_t * n_c AS DOUBLE) / n) * 1000000.0, 0)
         |        AS BIGINT) END AS z6
         |  FROM t)
         |SELECT segment, n_t, n_c, x_t, x_c,
         |  CASE WHEN n_t > 0 THEN ${microD("(x_t * 1000000) // n_t")}
         |    END AS rate_t,
         |  CASE WHEN n_c > 0 THEN ${microD("(x_c * 1000000) // n_c")}
         |    END AS rate_c,
         |  CASE WHEN n_t > 0 AND n_c > 0 THEN
         |    ${microD("(x_t * 1000000) // n_t - (x_c * 1000000) // n_c")}
         |    END AS uplift,
         |  ${microD("z6")} AS z,
         |  (z6 IS NOT NULL AND abs(z6) > 1960000) AS significant
         |FROM z ORDER BY segment""".stripMargin,

    // mirrors DataQuality.abTestCmh: per-user fold to (cohort-week
    // stratum, arm, conv), per-stratum 2x2 counts, E/V as exact
    // 1e-12-unit truncating integer divisions, chi2 micro-truncated
    // over the exact integer sums, doubles out.
    "ab_test_cmh" ->
      s"""WITH per AS (SELECT user_id, min(ts) AS first_ts,
         |        max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |          AS conv
         |      FROM events GROUP BY user_id),
         |ua AS (SELECT CAST(date_trunc('week', first_ts) AS DATE)
         |         AS stratum, conv,
         |         CAST(${h60("'ab_' || user_id")} % 2 AS BIGINT) AS arm
         |       FROM per),
         |tab0 AS (SELECT stratum,
         |    CAST(sum(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS a,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n1,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n0,
         |    CAST(sum(CASE WHEN conv = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS m1
         |  FROM ua GROUP BY stratum),
         |tab AS (SELECT *, n1 + n0 AS t, (n1 + n0) - m1 AS m0
         |        FROM tab0 WHERE n1 + n0 > 1),
         |ev0 AS (SELECT *,
         |    CAST(n1 AS DECIMAL(8,0)) * m1 * 1000000000000 AS e_num,
         |    CAST(n1 AS DECIMAL(8,0)) * n0 * m1 * m0
         |      * 1000000000000 AS v_num,
         |    t * t * (t - 1) AS v_den
         |  FROM tab),
         |${wdivStages("ev", "ev0", Seq(
              WDiv("e_num", "t", "e12", 19, 8),
              WDiv("v_num", "v_den", "v12", 17, 19)))},
         |tot AS (SELECT CAST(sum(a) AS BIGINT) AS sum_a,
         |          sum(CAST(e12 AS DECIMAL(38,0))) AS se12,
         |          sum(CAST(v12 AS DECIMAL(38,0))) AS sv12 FROM ev),
         |${wdivStages("dd", "tot", Seq(
              WDiv("CAST(sum_a AS DECIMAL(20,0)) * 1000000000000" +
                   " - se12", "1000000", "d6", 17, 7)))},
         |cx AS (SELECT ev.stratum, ev.a, ev.n1, ev.n0, ev.m1,
         |    ev.m0, ev.e12, ev.v12, dd.d6, dd.sv12 FROM ev, dd),
         |${wdivStages("cf", "cx", Seq(
              WDiv("CAST(d6 AS DECIMAL(16,0)) * d6 * 1000000",
                   "sv12", "chi2u", 12, 24)))}
         |SELECT stratum, a, n1, n0, m1, m0,
         |  CAST(e12 AS DOUBLE) / 1e12 AS e,
         |  CAST(v12 AS DOUBLE) / 1e12 AS v,
         |  ${microD("chi2u")} AS cmh_chi2
         |FROM cf ORDER BY stratum""".stripMargin,

    // mirrors DataQuality.targetEncodeOof: cv_folds' salted user fold,
    // exact decimal value sums, OOF mean = (S-S_f)/(N-N_f) with one
    // double division at the boundary.
    "target_encode_oof" ->
      s"""WITH t AS (SELECT event_type,
         |        CAST(${h60("'fold_' || user_id")} % 5 AS INT) AS fold,
         |        CAST(round(value * 1.0e6, 0) AS BIGINT) AS vu
         |      FROM events),
         |pf AS (SELECT event_type, fold,
         |         CAST(count(*) AS BIGINT) AS n_f, sum(vu) AS s_f
         |       FROM t GROUP BY event_type, fold),
         |tt AS (SELECT event_type, fold, n_f, s_f,
         |         CAST(sum(n_f) OVER (PARTITION BY event_type)
         |           AS BIGINT) AS n_tot,
         |         sum(s_f) OVER (PARTITION BY event_type) AS s_tot
         |       FROM pf)
         |SELECT event_type, fold, n_f AS n_in_fold,
         |  n_tot - n_f AS n_oof,
         |  CASE WHEN n_tot - n_f > 0 THEN
         |    round(CAST(s_tot - s_f AS DOUBLE) / 1.0e6
         |      / CAST(n_tot - n_f AS DOUBLE) * 1.0e6, 0) / 1.0e6 END AS oof_mean
         |FROM tt ORDER BY event_type, fold""".stripMargin,

    // mirrors TextAnalysis.heapsFit: per-doc token counts + per-token
    // first-doc vocabulary contributions, two prefix windows over the
    // doc-ordered point table, the zipf_fit exact-decimal log-log OLS.
    "heaps_fit" ->
      """WITH pd AS (SELECT doc_id,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |      FROM documents),
        |ft AS (SELECT u.t AS t, min(doc_id) AS doc_id
        |       FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |             FROM documents) d, unnest(toks) AS u(t)
        |       GROUP BY u.t),
        |nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS new_types
        |       FROM ft GROUP BY doc_id),
        |pts0 AS (SELECT pd.doc_id, pd.n_tok,
        |           coalesce(nt.new_types, 0) AS new_types
        |         FROM pd LEFT JOIN nt USING (doc_id)),
        |pts AS (SELECT doc_id,
        |    CAST(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_tokens,
        |    CAST(sum(new_types) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_types
        |  FROM pts0),
        |terms AS (SELECT cum_tokens, cum_types,
        |    log10(CAST(cum_tokens AS DOUBLE)) AS x,
        |    log10(CAST(cum_types AS DOUBLE)) AS y
        |  FROM pts WHERE cum_tokens > 0 AND cum_types > 0),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
        |    max(cum_tokens) AS n_tokens, max(cum_types) AS n_types,
        |    sum(CAST(round(x * 1.0e12, 0) AS DECIMAL(38,0))) AS sx,
        |    sum(CAST(round(y * 1.0e12, 0) AS DECIMAL(38,0))) AS sy,
        |    sum(CAST(round(x * y * 1.0e12, 0) AS DECIMAL(38,0))) AS sxy,
        |    sum(CAST(round(x * x * 1.0e12, 0) AS DECIMAL(38,0))) AS sxx
        |  FROM terms),
        |gd AS (SELECT n_points, n_tokens, n_types,
        |    CAST(n_points AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) / 1.0e12 AS sxd,
        |    CAST(sy AS DOUBLE) / 1.0e12 AS syd,
        |    CAST(sxy AS DOUBLE) / 1.0e12 AS sxyd,
        |    CAST(sxx AS DOUBLE) / 1.0e12 AS sxxd
        |  FROM g)
        |SELECT n_points, n_tokens, n_types,
        |  CASE WHEN (nd * sxxd - sxd * sxd) > 0
        |    THEN round((nd * sxyd - sxd * syd)
        |      / (nd * sxxd - sxd * sxd) * 1.0e6, 0) / 1.0e6
        |  END AS heaps_beta,
        |  CASE WHEN (nd * sxxd - sxd * sxd) > 0
        |    THEN round((syd - (nd * sxyd - sxd * syd)
        |        / (nd * sxxd - sxd * sxd)
        |        * sxd) / nd * 1.0e6, 0) / 1.0e6
        |  END AS heaps_log10k
        |FROM gd""".stripMargin,

    // mirrors TextAnalysis.zipfFit: 1e-6-pinned log10 terms, exact
    // integer OLS moments (wide ones in DECIMAL(38,0); envelope:
    // vocab <= ~1e7 types/lang, |slope| < 1e3 — loud beyond), wide
    // truncating divisions via wdivStages, micro doubles out.
    "zipf_fit" ->
      s"""WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents),
        |freq AS (SELECT lang, t, count(*) AS f FROM toks GROUP BY 1, 2),
        |ranked AS (SELECT lang, f,
        |    row_number() OVER (PARTITION BY lang ORDER BY f DESC, t) AS rank
        |  FROM freq),
        |terms AS (SELECT lang, f,
        |    CAST(round(log10(CAST(rank AS DOUBLE)) * 1000000.0, 0)
        |      AS BIGINT) AS x6,
        |    CAST(round(log10(CAST(f AS DOUBLE)) * 1000000.0, 0)
        |      AS BIGINT) AS y6
        |  FROM ranked),
        |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(f) AS BIGINT) AS n_tokens,
        |    CAST(sum(x6) AS BIGINT) AS sx6,
        |    CAST(sum(y6) AS BIGINT) AS sy6,
        |    sum(CAST(x6 * y6 AS DECIMAL(38,0))) AS sxy12,
        |    sum(CAST(x6 * x6 AS DECIMAL(38,0))) AS sxx12
        |  FROM terms GROUP BY lang),
        |d AS (SELECT lang, n_types, n_tokens, sx6, sy6,
        |    CAST(n_types AS DECIMAL(9,0)) * sxy12
        |      - CAST(sx6 AS DECIMAL(16,0)) * sy6 AS num12,
        |    CAST(n_types AS DECIMAL(9,0)) * sxx12
        |      - CAST(sx6 AS DECIMAL(16,0)) * sx6 AS den12
        |  FROM g),
        |${wdivStages("sl", "d", Seq(
             WDiv("num12 * 1000000", "den12", "slope_mu", 9, 29)))},
        |${wdivStages("ic", "sl", Seq(
             WDiv("CAST(sy6 AS DECIMAL(20,0)) * 1000000" +
                  " - CAST(slope_mu AS DECIMAL(10,0)) * sx6",
                  "CAST(n_types AS DECIMAL(9,0)) * 1000000",
                  "icept_mu", 12, 16)))}
        |SELECT lang, n_types, n_tokens,
        |  CAST(slope_mu AS DOUBLE) / 1000000.0 AS zipf_slope,
        |  CAST(icept_mu AS DOUBLE) / 1000000.0 AS zipf_intercept
        |FROM ic ORDER BY lang""".stripMargin,

    // oracle for Dedup.prefixSimJoin: the EXACT uncapped all-pairs
    // Jaccard — deliberately not mirroring the prefix technique, so a
    // green row proves the filter's zero-false-negative guarantee.
    "simjoin_prefix" ->
      s"""$docsCte,
         |sets AS (SELECT doc_id, list_sort(list(shingle)) AS ss
         |         FROM sh GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
         |        len(list_intersect(a.ss, b.ss)) AS inter,
         |        len(a.ss) AS n1, len(b.ss) AS n2
         |      FROM sets a JOIN sets b ON a.doc_id < b.doc_id),
         |j AS (SELECT d1, d2,
         |        round(CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS jaccard
         |      FROM p)
         |SELECT d1, d2, jaccard FROM j WHERE jaccard >= 0.5
         |ORDER BY d1, d2""".stripMargin,

    "dedup_clusters" ->
      s"""${docsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$shCappedCte,
         |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |         FROM shc x JOIN shc y
         |           ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
         |${jaccardCte("shc")},
         |p AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.5),
         |e AS (SELECT d1 AS a, d2 AS b FROM p UNION SELECT d2, d1 FROM p),
         |nodes AS (SELECT DISTINCT a AS id FROM e),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b
         |)
         |SELECT id AS doc_id, min(r) AS cluster_rep
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // mirrors Dedup.clusterSafeSplit: the dedup_clusters chain, then
    // group_key = cluster rep (own id for singletons) and the salted
    // group-keyed fold hash.
    "cluster_safe_split" ->
      s"""${docsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$shCappedCte,
         |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |         FROM shc x JOIN shc y
         |           ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
         |${jaccardCte("shc")},
         |p AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.5),
         |e AS (SELECT d1 AS a, d2 AS b FROM p UNION SELECT d2, d1 FROM p),
         |nodes AS (SELECT DISTINCT a AS id FROM e),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b
         |),
         |assign AS (SELECT id AS doc_id, min(r) AS rep FROM reach GROUP BY id)
         |SELECT t.doc_id, coalesce(a.rep, t.doc_id) AS group_key,
         |  CASE WHEN ${h60("'csplit_' || coalesce(a.rep, t.doc_id)")}
         |         % 100 < 80
         |       THEN 'train' ELSE 'test' END AS fold
         |FROM t LEFT JOIN assign a ON a.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin,

    // mirrors Dedup.splitLeakAudit: the near-dup pairs annotated with
    // naive per-doc folds and cluster-safe group folds, rolled up.
    "split_leak_audit" ->
      s"""${docsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$shCappedCte,
         |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |         FROM shc x JOIN shc y
         |           ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
         |${jaccardCte("shc")},
         |p AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.5),
         |e AS (SELECT d1 AS a, d2 AS b FROM p UNION SELECT d2, d1 FROM p),
         |nodes AS (SELECT DISTINCT a AS id FROM e),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b
         |),
         |assign AS (SELECT id AS doc_id, min(r) AS rep FROM reach GROUP BY id),
         |sp AS (SELECT p.d1, p.d2,
         |         coalesce(a1.rep, p.d1) AS g1, coalesce(a2.rep, p.d2) AS g2
         |       FROM p LEFT JOIN assign a1 ON a1.doc_id = p.d1
         |              LEFT JOIN assign a2 ON a2.doc_id = p.d2),
         |sf AS (SELECT
         |         CASE WHEN (${h60("'csplit_' || d1")} % 100 < 80)
         |                <> (${h60("'csplit_' || d2")} % 100 < 80)
         |              THEN 1 ELSE 0 END AS ns,
         |         CASE WHEN (${h60("'csplit_' || g1")} % 100 < 80)
         |                <> (${h60("'csplit_' || g2")} % 100 < 80)
         |              THEN 1 ELSE 0 END AS ss
         |       FROM sp)
         |SELECT count(*) AS n_dup_pairs,
         |  CAST(sum(ns) AS BIGINT) AS naive_straddle,
         |  CAST(sum(ss) AS BIGINT) AS safe_straddle,
         |  round(CAST(sum(ns) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    * 1.0e6, 0) / 1.0e6 AS naive_leak_frac
         |FROM sf""".stripMargin,

    // mirrors Dedup.incrementalClusters: history (80%) clustered over
    // its own capped index, then the delta's new pairs (combined capped
    // index, >=1 delta end, exact jaccard) lifted to the contracted
    // cluster graph, a second CC over that graph, reps remapped.
    "dedup_clusters_incremental" ->
      s"""$dedupIncAssignCtes
         |SELECT doc_id, cluster_rep FROM hist_out
         |UNION ALL SELECT doc_id, cluster_rep FROM new_out
         |ORDER BY doc_id""".stripMargin,

    // mirrors Dedup.clusterSafeSplitIncremental: the updated cluster
    // assignment (shared chain above), yesterday's hist folds from the
    // hist-only CC, the train-wins / test-holds / hash-else group rule.
    "cluster_safe_split_incremental" ->
      s"""$dedupIncAssignCtes,
         |th AS (SELECT doc_id FROM t
         |       WHERE ${h60("'inc_' || doc_id")} % 100 < 80),
         |upd AS (SELECT doc_id, cluster_rep FROM hist_out
         |        UNION ALL SELECT doc_id, cluster_rep FROM new_out),
         |gk AS (SELECT t.doc_id, coalesce(u.cluster_rep, t.doc_id)
         |         AS group_key
         |       FROM t LEFT JOIN upd u ON u.doc_id = t.doc_id),
         |hfold AS (SELECT th.doc_id,
         |            CASE WHEN ${h60(
                        "'csplit_' || coalesce(a.rep, th.doc_id)")}
         |                   % 100 < 80
         |                 THEN 'train' ELSE 'test' END AS hf
         |          FROM th LEFT JOIN assign a ON a.doc_id = th.doc_id),
         |gfold AS (SELECT g.group_key,
         |            CASE WHEN max(CASE WHEN h.hf = 'train'
         |                          THEN 1 ELSE 0 END) = 1 THEN 'train'
         |                 WHEN max(CASE WHEN h.hf = 'test'
         |                          THEN 1 ELSE 0 END) = 1 THEN 'test'
         |            END AS gf
         |          FROM gk g LEFT JOIN hfold h ON h.doc_id = g.doc_id
         |          GROUP BY g.group_key)
         |SELECT g.doc_id, g.group_key,
         |  coalesce(gf.gf,
         |    CASE WHEN ${h60("'csplit_' || g.group_key")} % 100 < 80
         |         THEN 'train' ELSE 'test' END) AS fold
         |FROM gk g JOIN gfold gf ON gf.group_key = g.group_key
         |ORDER BY g.doc_id""".stripMargin,

    // the streamed split hop must land exactly the batch incremental
    // fold — the oracle IS the cluster_safe_split_incremental chain
    // (the pipeline_er_e2e convention).
    "pipeline_split_e2e" ->
      s"""$dedupIncAssignCtes,
         |th AS (SELECT doc_id FROM t
         |       WHERE ${h60("'inc_' || doc_id")} % 100 < 80),
         |upd AS (SELECT doc_id, cluster_rep FROM hist_out
         |        UNION ALL SELECT doc_id, cluster_rep FROM new_out),
         |gk AS (SELECT t.doc_id, coalesce(u.cluster_rep, t.doc_id)
         |         AS group_key
         |       FROM t LEFT JOIN upd u ON u.doc_id = t.doc_id),
         |hfold AS (SELECT th.doc_id,
         |            CASE WHEN ${h60(
                        "'csplit_' || coalesce(a.rep, th.doc_id)")}
         |                   % 100 < 80
         |                 THEN 'train' ELSE 'test' END AS hf
         |          FROM th LEFT JOIN assign a ON a.doc_id = th.doc_id),
         |gfold AS (SELECT g.group_key,
         |            CASE WHEN max(CASE WHEN h.hf = 'train'
         |                          THEN 1 ELSE 0 END) = 1 THEN 'train'
         |                 WHEN max(CASE WHEN h.hf = 'test'
         |                          THEN 1 ELSE 0 END) = 1 THEN 'test'
         |            END AS gf
         |          FROM gk g LEFT JOIN hfold h ON h.doc_id = g.doc_id
         |          GROUP BY g.group_key)
         |SELECT g.doc_id, g.group_key,
         |  coalesce(gf.gf,
         |    CASE WHEN ${h60("'csplit_' || g.group_key")} % 100 < 80
         |         THEN 'train' ELSE 'test' END) AS fold
         |FROM gk g JOIN gfold gf ON gf.group_key = g.group_key
         |ORDER BY g.doc_id""".stripMargin,

    "dedup_keep_reps" ->
      s"""${docsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$shCappedCte,
         |cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
         |         FROM shc x JOIN shc y
         |           ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
         |${jaccardCte("shc")},
         |p AS (SELECT d1, d2 FROM jac WHERE jaccard >= 0.5),
         |e AS (SELECT d1 AS a, d2 AS b FROM p UNION SELECT d2, d1 FROM p),
         |nodes AS (SELECT DISTINCT a AS id FROM e),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b
         |),
         |cl AS (SELECT id AS doc_id, min(r) AS rep FROM reach GROUP BY id),
         |dropd AS (SELECT doc_id FROM cl WHERE doc_id <> rep)
         |SELECT d.doc_id FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM dropd)
         |ORDER BY d.doc_id""".stripMargin,

    // mirrors Dedup.incrementalNearDups: 80/20 salted history/delta
    // split, signatures for both, band-key join, history buckets capped
    // at the 64 smallest doc_ids, signature-agreement estimate >= 8/16.
    "dedup_incremental" ->
      s"""$incChainCte
         |SELECT hist_doc, delta_doc, n_matching,
         |  CAST(n_matching AS DOUBLE) / ${Dedup.NumHashes}.0 AS est_jaccard
         |FROM cand WHERE n_matching >= ${Dedup.NumHashes / 2}
         |ORDER BY hist_doc, delta_doc""".stripMargin,

    // same chain, decontaminate's salted split: test docs are the index.
    "decontaminate_fuzzy" ->
      s"""${incChainCteFor("split_", 10)}
         |SELECT hist_doc AS test_doc, delta_doc AS doc_id, n_matching,
         |  CAST(n_matching AS DOUBLE) / ${Dedup.NumHashes}.0 AS est_jaccard
         |FROM cand WHERE n_matching >= ${Dedup.NumHashes / 2}
         |ORDER BY test_doc, doc_id""".stripMargin,

    // mirrors Pipeline.corpusE2E: the streaming corpus path is
    // qualityFilter ∘ incremental near-dup flag — delta docs passing
    // the in-row quality gate and not flagged against the persisted
    // history signature index (same chain as dedup_incremental).
    "pipeline_corpus_e2e" ->
      s"""$incChainCte,
         |qv AS (SELECT doc_id,
         |  round((CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
         |    * (1.0 - CAST(len(list_filter(toks, tk -> list_contains(['the','a','of','and','to','in','is','on','for','with'], tk))) AS DOUBLE) / CAST(len(toks) AS DOUBLE))
         |    * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
       |    * 1.0e6, 0) / 1.0e6 AS quality_score
         |  FROM t)
         |SELECT qv.doc_id, qv.quality_score
         |FROM qv
         |WHERE ${h60("'inc_' || qv.doc_id")} % 100 >= 80
         |  AND qv.quality_score >= 0.35
         |  AND qv.doc_id NOT IN (SELECT delta_doc FROM cand
         |                        WHERE n_matching >= ${Dedup.NumHashes / 2})
         |ORDER BY qv.doc_id""".stripMargin,

    // mirrors Dedup.incrementalApply: the delta minus the flagged set.
    "dedup_incremental_apply" ->
      s"""$incChainCte
         |SELECT d0.doc_id FROM documents d0
         |WHERE ${h60("'inc_' || d0.doc_id")} % 100 >= 80
         |  AND d0.doc_id NOT IN (SELECT delta_doc FROM cand
         |                        WHERE n_matching >= ${Dedup.NumHashes / 2})
         |ORDER BY d0.doc_id""".stripMargin,

    // mirrors TextAnalysis.chunkClusters: docs sharing a duplicated
    // chunk are edges (hot chunks degrade to star pairs vs the chunk's
    // minimum doc), connected components assign representatives.
    "dedup_chunk_clusters" ->
      s"""${docsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |c AS (SELECT DISTINCT doc_id,
         |        md5(array_to_string(list_slice(toks, g.s, g.s + 127), ' ')) AS chunk_md5
         |      FROM t, unnest(generate_series(1, len(toks), 96)) AS g(s)),
         |st AS (SELECT doc_id, chunk_md5,
         |         count(*) OVER (PARTITION BY chunk_md5) AS bn,
         |         min(doc_id) OVER (PARTITION BY chunk_md5) AS bmin
         |       FROM c),
         |p AS (SELECT a.doc_id AS d1, b2.doc_id AS d2
         |      FROM st a JOIN st b2
         |        ON a.chunk_md5 = b2.chunk_md5 AND a.doc_id < b2.doc_id
         |      WHERE a.bn <= ${Dedup.MaxBucketSize}
         |      UNION
         |      SELECT bmin AS d1, doc_id AS d2
         |      FROM st WHERE bn > ${Dedup.MaxBucketSize} AND doc_id > bmin),
         |e AS (SELECT d1 AS a, d2 AS b FROM p UNION SELECT d2, d1 FROM p),
         |nodes AS (SELECT DISTINCT a AS id FROM e),
         |reach AS (
         |  SELECT id, id AS r FROM nodes
         |  UNION
         |  SELECT e.a AS id, reach.r FROM e JOIN reach ON reach.id = e.b
         |)
         |SELECT id AS doc_id, min(r) AS cluster_rep
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    "embed_quantize" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |    greatest(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 1e-12) AS mx
        |  FROM e),
        |q AS (SELECT vec_id, v, mx / 127 AS scale,
        |    list_transform(v, x -> CAST(round(x / (mx / 127)) AS INT)) AS qv
        |  FROM m)
        |SELECT vec_id, round(scale * 1.0e6, 0) / 1.0e6 AS scale,
        |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
        |  round(list_aggregate(
        |    list_transform(list_zip(v, qv), z -> abs(z[1] - z[2] * scale)),
        |    'max') * 1.0e6, 0) / 1.0e6 AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,

    "dedup_edit_distance" ->
      s"""$docsCte,
         |$shCappedCte,
         |cand AS (SELECT x.doc_id AS d1, y.doc_id AS d2
         |         FROM shc x JOIN shc y
         |           ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |         GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT d1, d2,
         |  CAST(levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) AS INT) AS edit_dist
         |FROM cand
         |JOIN documents a ON a.doc_id = d1
         |JOIN documents b ON b.doc_id = d2
         |WHERE levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) <= 10
         |ORDER BY d1, d2""".stripMargin,

    "dedup_cap_stats" ->
      s"""$docsCte,
         |$sigCte,
         |$bandsCte,
         |dfx AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
         |s1 AS (SELECT count(*) AS n_shingles,
         |         CAST(coalesce(sum(CASE WHEN df > ${Dedup.MaxShingleDf} THEN 1 END), 0) AS BIGINT) AS n_hot_shingles,
         |         CAST(coalesce(sum(CASE WHEN df > ${Dedup.MaxShingleDf} THEN df END), 0) AS BIGINT) AS n_postings_dropped
         |       FROM dfx),
         |bk AS (SELECT b, bkey, count(*) AS bn FROM bands GROUP BY b, bkey),
         |s2 AS (SELECT count(*) AS n_buckets,
         |         CAST(coalesce(sum(CASE WHEN bn > ${Dedup.MaxBucketSize} THEN 1 END), 0) AS BIGINT) AS n_hot_buckets
         |       FROM bk)
         |SELECT * FROM s1, s2""".stripMargin,

    // mirrors Dedup.sourceOverlap: rare-shingle (df ≤ cap) overlap per
    // source pair.
    "source_overlap" ->
      s"""$docsCte,
         |dfx AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
         |ss AS (SELECT DISTINCT sh.shingle, d.source
         |       FROM sh JOIN documents d USING (doc_id)),
         |k AS (SELECT ss.shingle, ss.source FROM ss
         |      JOIN dfx ON ss.shingle = dfx.shingle
         |        AND dfx.df <= ${Dedup.MaxShingleDf})
         |SELECT a.source AS source1, b.source AS source2,
         |  count(*) AS n_shared_shingles
         |FROM k a JOIN k b ON a.shingle = b.shingle AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY source1, source2""".stripMargin,

    "dedup_simhash" ->
      s"""$docsCte,
         |$simhashCte
         |SELECT doc_id, simhash FROM shh ORDER BY doc_id""".stripMargin,

    "dedup_simhash_hamming" ->
      s"""$docsCte,
         |$simhashCte,
         |sbands AS (SELECT doc_id, u.b,
         |             (simhash >> (15 * u.b)) & 32767 AS bval
         |           FROM shh, unnest([0, 1, 2, 3]) AS u(b)),
         |sbst AS (SELECT doc_id, b, bval,
         |           count(*) OVER (PARTITION BY b, bval) AS bn,
         |           min(doc_id) OVER (PARTITION BY b, bval) AS bmin
         |         FROM sbands),
         |scand AS (SELECT a.doc_id AS d1, c.doc_id AS d2
         |          FROM sbst a JOIN sbst c
         |            ON a.b = c.b AND a.bval = c.bval AND a.doc_id < c.doc_id
         |          WHERE a.bn <= ${Dedup.MaxBucketSize}
         |          UNION
         |          SELECT bmin AS d1, doc_id AS d2
         |          FROM sbst WHERE bn > ${Dedup.MaxBucketSize} AND doc_id > bmin)
         |SELECT d1, d2,
         |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
         |FROM scand JOIN shh x ON x.doc_id = d1 JOIN shh y ON y.doc_id = d2
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
         |ORDER BY d1, d2""".stripMargin,

    // mirrors Coreset.kcenter: seed = min vec_id, then 7 unrolled
    // greedy stages (1-row pick ORDER BY dmin6 DESC, vec_id LIMIT 1;
    // least-fold state update), distances 1e-6-pinned BIGINTs,
    // MATERIALIZED per stage (the BT-oracle lesson).
    "coreset_kcenter" -> kcenterSelectSql,

    // mirrors Coreset.assign: the same 8 selected centers, every point
    // assigned to its nearest center (integer distance, ties to the
    // smaller center id), per-center count + max/mean radius.
    "coreset_assign" ->
      s"""$embCte,
         |${kcBaseSql("n")},
         |${kcStagesSql(1, 7)},
         |ctr AS MATERIALIZED (SELECT vec_id, v, nrm FROM seed
         |${(1 to 7).map(i =>
             s"  UNION ALL SELECT vec_id, v, nrm FROM p$i").mkString("\n")}),
         |sc AS (SELECT x.vec_id, c.vec_id AS cid,
         |    1000000 - CAST(round(${dotSql("x.v", "c.v")}
         |      / (x.nrm * c.nrm) * 1.0e6, 0) AS BIGINT) AS d6
         |  FROM n x, ctr c),
         |a AS (SELECT *, row_number() OVER (PARTITION BY vec_id
         |        ORDER BY d6, cid) AS rn FROM sc)
         |SELECT cid AS center_id, CAST(count(*) AS BIGINT) AS n_points,
         |  CAST(max(d6) AS DOUBLE) / 1.0e6 AS max_radius,
         |  round(CAST(sum(d6) AS DOUBLE) / count(*), 0) / 1.0e6
         |    AS mean_radius
         |FROM a WHERE rn = 1 GROUP BY cid ORDER BY center_id""".stripMargin,

    // mirrors Coreset.extend: the 8-stage history chain, the delta's
    // min-over-centers entry fold, then 4 more stages over the union —
    // the PHASED chain, pinned exactly (append-only selection is the
    // production contract; it differs from a fresh 12-center run by
    // construction).
    "coreset_extend" ->
      s"""$embCte,
         |h AS MATERIALIZED (SELECT vec_id, v, nrm FROM n
         |  WHERE ${h60("'cs_' || vec_id")} % 100 < 80),
         |${kcBaseSql("h")},
         |${kcStagesSql(1, 7)},
         |ctr AS MATERIALIZED (SELECT vec_id, v, nrm FROM seed
         |${(1 to 7).map(i =>
             s"  UNION ALL SELECT vec_id, v, nrm FROM p$i").mkString("\n")}),
         |d0 AS MATERIALIZED (SELECT x.vec_id, x.v, x.nrm,
         |    min(1000000 - CAST(round(${dotSql("x.v", "c.v")}
         |      / (x.nrm * c.nrm) * 1.0e6, 0) AS BIGINT)) AS dmin6
         |  FROM (SELECT vec_id, v, nrm FROM n
         |        WHERE ${h60("'cs_' || vec_id")} % 100 >= 80) x, ctr c
         |  GROUP BY x.vec_id, x.v, x.nrm),
         |s9 AS MATERIALIZED (SELECT * FROM s8 UNION ALL SELECT * FROM d0),
         |${kcStagesSql(9, 12)}
         |SELECT rank, vec_id, radius,
         |  CASE WHEN rank <= 8 THEN 'base' ELSE 'extend' END AS phase
         |FROM (${kcPicksUnionSql(Seq(1, 2, 3, 4, 5, 6, 7, 9, 10, 11, 12))}
         |) ORDER BY rank""".stripMargin,

    "ann_topk" ->
      s"""$embCte,
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
         |p AS (SELECT q.query_id, n.vec_id AS neighbor_id,
         |        ${safe6(dotSql("q.qv", "n.v") + " / (q.qn * n.nrm)")} AS cosine
         |      FROM q, n WHERE n.vec_id <> q.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |      FROM p)
         |SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    "embed_top_pairs" ->
      s"""$embCte,
         |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
         |        ${safe6(dotSql("a.v", "b.v") + " / (a.nrm * b.nrm)")} AS cosine
         |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |SELECT id1, id2, cosine FROM p ORDER BY cosine DESC, id1, id2 LIMIT 20""".stripMargin,

    "dedup_embed_cosine" ->
      s"""$embCte,
         |p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
         |        ${safe6(dotSql("a.v", "b.v") + " / (a.nrm * b.nrm)")} AS cosine
         |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |SELECT id1, id2, cosine FROM p WHERE cosine >= 0.45
         |ORDER BY id1, id2""".stripMargin,

    // mirrors Similarity.hardNegatives: annBruteForce with a
    // per-(query, role) top-k split on label match.
    "embed_hard_negatives" ->
      s"""$embCte,
         |q AS (SELECT vec_id AS query_id, label AS q_label, v AS qv, nrm AS qn
         |      FROM n WHERE vec_id < 10),
         |p AS (SELECT q.query_id, n.vec_id AS neighbor_id,
         |        CASE WHEN n.label = q.q_label THEN 'pos' ELSE 'neg' END AS role,
         |        ${safe6(dotSql("q.qv", "n.v") + " / (q.qn * n.nrm)")} AS cosine
         |      FROM q, n WHERE n.vec_id <> q.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id, role ORDER BY cosine DESC, neighbor_id) AS rank
         |      FROM p)
         |SELECT query_id, neighbor_id, role, cosine, rank FROM r WHERE rank <= 3
         |ORDER BY query_id, role, rank""".stripMargin,

    // mirrors Similarity.clusterProfile: same k-means chain, per-cell
    // compactness from 6-decimal-scaled exact cosine sums.
    "cluster_profile" ->
      s"""$embCte,
         |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv, nrm AS c_nrm
         |       FROM n WHERE vec_id < 8),
         |${kmAssignCte("a1", "c0")},
         |${kmMeansCte("c1", "a1")},
         |${kmAssignCte("a2", "c1")},
         |${kmMeansCte("c2", "a2")},
         |${kmAssignCte("cells", "c2")},
         |j AS (SELECT cells.cell,
         |        CAST(round(${dotSql("cells.v", "c2.cv")}
         |          / (cells.nrm * c2.c_nrm) * 1000000.0, 0) AS BIGINT) AS c6
         |      FROM cells JOIN c2 ON cells.cell = c2.cell)
         |SELECT cell, count(*) AS n_vectors,
         |  CAST(sum(c6) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE) AS avg_centroid_cos,
         |  CAST(min(c6) AS DOUBLE) / 1000000.0 AS min_centroid_cos
         |FROM j GROUP BY cell ORDER BY cell""".stripMargin,

    // mirrors Similarity.diversitySample: cluster_profile's chain with a
    // per-cell rank cut.
    "diversity_sample" ->
      s"""$embCte,
         |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv, nrm AS c_nrm
         |       FROM n WHERE vec_id < 8),
         |${kmAssignCte("a1", "c0")},
         |${kmMeansCte("c1", "a1")},
         |${kmAssignCte("a2", "c1")},
         |${kmMeansCte("c2", "a2")},
         |${kmAssignCte("cells", "c2")},
         |j AS (SELECT cells.cell, cells.vec_id,
         |        CAST(round(${dotSql("cells.v", "c2.cv")}
         |          / (cells.nrm * c2.c_nrm) * 1000000.0, 0) AS BIGINT) AS c6
         |      FROM cells JOIN c2 ON cells.cell = c2.cell),
         |r AS (SELECT cell, vec_id, c6,
         |        row_number() OVER (PARTITION BY cell ORDER BY c6 DESC, vec_id) AS rk
         |      FROM j)
         |SELECT cell, rk, vec_id, CAST(c6 AS DOUBLE) / 1000000.0 AS centroid_cos
         |FROM r WHERE rk <= 4 ORDER BY cell, rk""".stripMargin,

    // mirrors Similarity.semanticDedup: the ann_ivf_kmeans centroid
    // chain, then within-cell pairs (star pairs past the 256 cap), drop
    // every id2 of a qualifying pair.
    "dedup_semantic" ->
      s"""$embCte,
         |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv, nrm AS c_nrm
         |       FROM n WHERE vec_id < 8),
         |${kmAssignCte("a1", "c0")},
         |${kmMeansCte("c1", "a1")},
         |${kmAssignCte("a2", "c1")},
         |${kmMeansCte("c2", "a2")},
         |${kmAssignCte("cells", "c2")},
         |cs AS (SELECT vec_id, cell, v, nrm,
         |         count(*) OVER (PARTITION BY cell) AS cn,
         |         min(vec_id) OVER (PARTITION BY cell) AS cmin
         |       FROM cells),
         |cand AS (SELECT a.vec_id AS id1, b.vec_id AS id2
         |         FROM cs a JOIN cs b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |         WHERE a.cn <= 256
         |         UNION ALL
         |         SELECT cmin AS id1, vec_id AS id2
         |         FROM cs WHERE cn > 256 AND vec_id > cmin),
         |p AS (SELECT cand.id1, cand.id2,
         |        ${safe6(dotSql("x.v", "y.v") + " / (x.nrm * y.nrm)")} AS cosine
         |      FROM cand JOIN n x ON x.vec_id = cand.id1
         |                JOIN n y ON y.vec_id = cand.id2),
         |dup AS (SELECT DISTINCT id2 FROM p WHERE cosine >= 0.45)
         |SELECT cs.vec_id, cs.cell, (dup.id2 IS NULL) AS kept
         |FROM cs LEFT JOIN dup ON cs.vec_id = dup.id2
         |ORDER BY cs.vec_id""".stripMargin,

    // mirrors the dedup_semantic chain, then ships the surviving docs.
    "dedup_semantic_docs" ->
      s"""$embCte,
         |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv, nrm AS c_nrm
         |       FROM n WHERE vec_id < 8),
         |${kmAssignCte("a1", "c0")},
         |${kmMeansCte("c1", "a1")},
         |${kmAssignCte("a2", "c1")},
         |${kmMeansCte("c2", "a2")},
         |${kmAssignCte("cells", "c2")},
         |cs AS (SELECT vec_id, cell, v, nrm,
         |         count(*) OVER (PARTITION BY cell) AS cn,
         |         min(vec_id) OVER (PARTITION BY cell) AS cmin
         |       FROM cells),
         |cand AS (SELECT a.vec_id AS id1, b.vec_id AS id2
         |         FROM cs a JOIN cs b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |         WHERE a.cn <= 256
         |         UNION ALL
         |         SELECT cmin AS id1, vec_id AS id2
         |         FROM cs WHERE cn > 256 AND vec_id > cmin),
         |p AS (SELECT cand.id1, cand.id2,
         |        ${safe6(dotSql("x.v", "y.v") + " / (x.nrm * y.nrm)")} AS cosine
         |      FROM cand JOIN n x ON x.vec_id = cand.id1
         |                JOIN n y ON y.vec_id = cand.id2),
         |dup AS (SELECT DISTINCT id2 FROM p WHERE cosine >= 0.45)
         |SELECT d.doc_id, d.source, d.lang
         |FROM documents d
         |JOIN cs ON cs.vec_id = d.doc_id
         |LEFT JOIN dup ON cs.vec_id = dup.id2
         |WHERE dup.id2 IS NULL
         |ORDER BY d.doc_id""".stripMargin,

    "dedup_embed_lsh" ->
      s"""$embLshPairsCte
         |SELECT id1, id2, cosine FROM p WHERE cosine >= 0.45
         |ORDER BY id1, id2""".stripMargin,

    // mirrors Similarity.knnPagerank: 5 unrolled bulk-synchronous
    // iterations over the symmetrized LSH near-dup graph — per-edge
    // contributions rounded to 12 decimals and summed EXACTLY, the
    // teleport+damp update in doubles with the engine's expression
    // shape (0.15e0 / 0.85e0 literals, never 1−d).
    "knn_pagerank" -> {
      val iters = (1 to 5).map { i =>
        s""",
           |c$i AS (SELECT ed.dst AS id,
           |          CAST(round(CAST(r${i - 1}.r AS DOUBLE)
           |            / CAST(dg.deg AS DOUBLE) * 1.0e12, 0) / 1.0e12
           |            AS DECIMAL(28,12)) AS c
           |        FROM ed JOIN r${i - 1} ON r${i - 1}.id = ed.src
           |        JOIN dg ON dg.id = ed.src),
           |r$i AS (SELECT s.id,
           |          CAST(round((0.15e0 / CAST(nn.n AS DOUBLE)
           |            + 0.85e0 * CAST(s.sc AS DOUBLE)) * 1.0e12, 0)
           |            / 1.0e12 AS DECIMAL(28,12)) AS r
           |        FROM (SELECT id, sum(c) AS sc FROM c$i GROUP BY id) s
           |        CROSS JOIN nn)""".stripMargin
      }.mkString
      s"""$embLshPairsCte,
         |ep AS (SELECT id1, id2 FROM p WHERE cosine >= 0.45),
         |ed AS (SELECT id1 AS src, id2 AS dst FROM ep
         |       UNION ALL SELECT id2, id1 FROM ep),
         |dg AS (SELECT src AS id, count(*) AS deg FROM ed GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS id FROM ed),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |r0 AS (SELECT id, CAST(round(1.0e0 / CAST(nn.n AS DOUBLE)
         |           * 1.0e12, 0) / 1.0e12 AS DECIMAL(28,12)) AS r
         |       FROM nodes CROSS JOIN nn)$iters
         |SELECT r5.id AS vec_id, CAST(r5.r AS DOUBLE) AS rank, dg.deg
         |FROM r5 JOIN dg ON dg.id = r5.id
         |ORDER BY vec_id""".stripMargin
    },

    // mirrors Similarity.lshThresholdSweep: the shared LSH pair CTE is
    // threshold-free; each pair explodes to the thresholds it clears.
    "lsh_threshold_sweep" ->
      s"""$embLshPairsCte,
         |sw AS (SELECT p.id1, p.id2, th.t AS threshold FROM p,
         |        unnest([CAST(0.35 AS DOUBLE), CAST(0.45 AS DOUBLE),
         |                CAST(0.55 AS DOUBLE), CAST(0.65 AS DOUBLE),
         |                CAST(0.75 AS DOUBLE)]) AS th(t)
         |      WHERE p.cosine >= th.t),
         |ec AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_edges
         |       FROM sw GROUP BY threshold),
         |nc AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_nodes
         |       FROM (SELECT DISTINCT threshold, u.id FROM
         |               (SELECT threshold, [id1, id2] AS ids FROM sw),
         |               unnest(ids) AS u(id))
         |       GROUP BY threshold)
         |SELECT ec.threshold, n_edges, n_nodes,
         |  ${safe6("2.0 * n_edges / n_nodes")} AS mean_degree
         |FROM ec JOIN nc USING (threshold)
         |ORDER BY threshold""".stripMargin,

    // mirrors Similarity.knnBfs: 4 unrolled BFS rounds over the same
    // LSH edge list; frontier i = distinct neighbors of level i-1 not
    // yet visited. Seeds = 5 smallest node ids.
    "knn_bfs" -> {
      val iters = (1 to 4).map { i =>
        s""",
           |f$i AS (SELECT DISTINCT e.dst AS id FROM ed e
           |        JOIN l${i - 1} v ON v.id = e.src AND v.level = ${i - 1}),
           |l$i AS (SELECT id, level FROM l${i - 1}
           |        UNION ALL
           |        SELECT f$i.id, $i FROM f$i
           |        WHERE f$i.id NOT IN (SELECT id FROM l${i - 1}))""".stripMargin
      }.mkString
      s"""$embLshPairsCte,
         |ep AS (SELECT id1, id2 FROM p WHERE cosine >= 0.45),
         |ed AS (SELECT id1 AS src, id2 AS dst FROM ep
         |       UNION ALL SELECT id2, id1 FROM ep),
         |dg AS (SELECT src AS id, count(*) AS deg FROM ed GROUP BY src),
         |l0 AS (SELECT id, 0 AS level FROM
         |        (SELECT DISTINCT src AS id FROM ed)
         |       ORDER BY id LIMIT 5)$iters
         |SELECT l4.id AS vec_id, l4.level, dg.deg
         |FROM l4 JOIN dg ON dg.id = l4.id ORDER BY vec_id""".stripMargin
    },

    // mirrors Similarity.knnLinkPredict: wedges through each middle
    // vertex of the symmetric LSH edge list, 1/ln(deg) pinned per
    // node at 1e-9 integer units, exact integer Adamic-Adar sums,
    // existing edges anti-joined away, top-50 by (score, ids),
    // nano doubles out.
    "knn_link_predict" ->
      s"""$embLshPairsCte,
         |ep AS (SELECT id1, id2 FROM p WHERE cosine >= 0.35),
         |ed AS (SELECT id1 AS src, id2 AS dst FROM ep
         |       UNION ALL SELECT id2, id1 FROM ep),
         |wt AS (SELECT src AS w, CAST(round(1.0
         |          / ln(CAST(count(*) AS DOUBLE)) * 1000000000.0, 0)
         |          AS BIGINT) AS aa9
         |       FROM ed GROUP BY src HAVING count(*) >= 2),
         |wg AS (SELECT a.src AS w, a.dst AS u, b.dst AS v
         |       FROM ed a JOIN ed b ON a.src = b.src AND a.dst < b.dst),
         |cd AS (SELECT u, v, count(*) AS cn,
         |         CAST(sum(aa9) AS BIGINT) AS s9
         |       FROM wg JOIN wt USING (w) GROUP BY u, v),
         |ne AS (SELECT cd.* FROM cd LEFT JOIN ep
         |         ON ep.id1 = cd.u AND ep.id2 = cd.v
         |       WHERE ep.id1 IS NULL)
         |SELECT u AS id1, v AS id2, cn,
         |  CAST(s9 AS DOUBLE) / 1000000000.0 AS aa_score
         |FROM ne
         |ORDER BY s9 DESC, id1, id2 LIMIT 50""".stripMargin,

    // mirrors Similarity.knnCommunities: 4 unrolled synchronous
    // mode-label-propagation rounds over the same LSH edge list plus
    // one self-loop per node, ties broken by smallest label.
    "knn_communities" -> {
      val iters = (1 to 4).map { i =>
        s""",
           |l$i AS (SELECT dst AS id, label FROM (
           |    SELECT ed.dst, l.label, count(*) AS n,
           |      row_number() OVER (PARTITION BY ed.dst
           |        ORDER BY count(*) DESC, l.label) AS rn
           |    FROM ed JOIN l${i - 1} l ON l.id = ed.src
           |    GROUP BY ed.dst, l.label)
           |  WHERE rn = 1)""".stripMargin
      }.mkString
      s"""$embLshPairsCte,
         |ep AS (SELECT id1, id2 FROM p WHERE cosine >= 0.45),
         |sym AS (SELECT id1 AS src, id2 AS dst FROM ep
         |        UNION ALL SELECT id2, id1 FROM ep),
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |ed AS (SELECT * FROM sym UNION ALL SELECT id, id FROM nodes),
         |l0 AS (SELECT id, id AS label FROM nodes)$iters
         |SELECT id AS vec_id, label AS community,
         |  count(*) OVER (PARTITION BY label) AS community_size
         |FROM l4 ORDER BY vec_id""".stripMargin
    },

    "media_stats" ->
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  length(text) AS n_bytes,
        |  CAST(32 + (doc_id % 8) * 16 AS INT) AS width,
        |  CAST(32 + (doc_id % 5) * 32 AS INT) AS height,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'mp4' END AS format,
        |  CAST((length(text) + 255) // 256 AS INT) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin,

    "media_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id, text,
        |    CAST((length(text) + 255) // 256 AS INT) AS nf
        |  FROM documents WHERE CAST(doc_id % 3 AS INT) = 2)
        |SELECT media_id, CAST(g.i AS INT) AS frame_idx,
        |  md5(substr(text, CAST(g.i AS INT) * 256 + 1, 256)) AS frame_md5,
        |  length(substr(text, CAST(g.i AS INT) * 256 + 1, 256)) AS frame_bytes
        |FROM m, unnest(generate_series(0, nf - 1, 4)) AS g(i)
        |ORDER BY media_id, frame_idx""".stripMargin,

    "media_resize" ->
      """SELECT doc_id AS media_id,
        |  CAST((32 + (doc_id % 8) * 16) // 2 AS INT) AS width,
        |  CAST((32 + (doc_id % 5) * 32) // 2 AS INT) AS height,
        |  md5(substr(text, 1, CAST((length(text) + 3) // 4 AS INT))) AS resized_md5,
        |  CAST((length(text) + 3) // 4 AS INT) AS resized_bytes
        |FROM documents ORDER BY media_id""".stripMargin,

    "media_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(32 + (doc_id % 8) * 16 AS INT) AS width,
        |  CAST(32 + (doc_id % 5) * 32 AS INT) AS height,
        |  round(CAST(sum(ascii(substr(text, g.i, 1))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS mean_intensity
        |FROM documents, unnest(generate_series(1, length(text))) AS g(i)
        |GROUP BY doc_id ORDER BY media_id""".stripMargin,

    "media_byte_histogram" ->
      """SELECT doc_id AS media_id,
        |  CAST(ascii(substr(text, g.i, 1)) // 4 AS INT) AS bin,
        |  count(*) AS cnt
        |FROM documents, unnest(generate_series(1, length(text))) AS g(i)
        |GROUP BY 1, 2 ORDER BY media_id, bin""".stripMargin,

    "media_phash" ->
      s"""$phashCte
         |SELECT media_id, phash FROM ph ORDER BY media_id""".stripMargin,

    "media_near_dup" ->
      s"""$phashCte,
         |pbands AS (SELECT media_id, g.b AS b, (phash >> (16 * g.b)) & 65535 AS bval
         |           FROM ph, unnest(generate_series(0, 3)) AS g(b)),
         |pbst AS (SELECT media_id, b, bval,
         |           count(*) OVER (PARTITION BY b, bval) AS bn,
         |           min(media_id) OVER (PARTITION BY b, bval) AS bmin
         |         FROM pbands),
         |pcand AS (SELECT a.media_id AS d1, c.media_id AS d2
         |          FROM pbst a JOIN pbst c
         |            ON a.b = c.b AND a.bval = c.bval AND a.media_id < c.media_id
         |          WHERE a.bn <= ${Dedup.MaxBucketSize}
         |          UNION
         |          SELECT bmin AS d1, media_id AS d2
         |          FROM pbst WHERE bn > ${Dedup.MaxBucketSize} AND media_id > bmin)
         |SELECT d1, d2,
         |  CAST(bit_count(xor(x.phash, y.phash)) AS INT) AS hamming
         |FROM pcand JOIN ph x ON x.media_id = d1 JOIN ph y ON y.media_id = d2
         |WHERE bit_count(xor(x.phash, y.phash)) <= 3
         |ORDER BY d1, d2""".stripMargin,

    // mirrors Multimodal.incrementalNearDups: salted 80/20 history/delta
    // phash split, history bands capped to the MaxBucketSize smallest
    // ids, band join, hamming verify off the joined hashes.
    "media_dup_incremental" ->
      s"""$phashCte,
         |hp AS (SELECT * FROM ph WHERE ${h60("'minc_' || media_id")} % 100 < 80),
         |dp AS (SELECT * FROM ph WHERE ${h60("'minc_' || media_id")} % 100 >= 80),
         |hb0 AS (SELECT media_id, phash, g.b AS b,
         |          (phash >> (16 * g.b)) & 65535 AS bval
         |        FROM hp, unnest(generate_series(0, 3)) AS g(b)),
         |hb AS (SELECT * FROM hb0
         |       QUALIFY row_number() OVER (PARTITION BY b, bval ORDER BY media_id) <= ${Dedup.MaxBucketSize}),
         |db AS (SELECT media_id, phash, g.b AS b,
         |         (phash >> (16 * g.b)) & 65535 AS bval
         |       FROM dp, unnest(generate_series(0, 3)) AS g(b))
         |SELECT DISTINCT h.media_id AS hist_media, d.media_id AS delta_media,
         |  CAST(bit_count(xor(h.phash, d.phash)) AS INT) AS hamming
         |FROM hb h JOIN db d ON h.b = d.b AND h.bval = d.bval
         |WHERE bit_count(xor(h.phash, d.phash)) <= 3
         |ORDER BY hist_media, delta_media""".stripMargin,

    "ann_ivf" ->
      s"""$embCte,
         |cpos AS (SELECT label, g.pos, avg(v[g.pos]) AS cx
         |         FROM n, unnest(generate_series(1, len(v))) AS g(pos)
         |         GROUP BY label, g.pos),
         |cent AS (SELECT label AS c_label, list(round(cx, 6) ORDER BY pos) AS cv
         |         FROM cpos GROUP BY label),
         |cn AS (SELECT c_label, cv,
         |         sqrt(list_sum(list_transform(cv, x -> x * x))) AS c_nrm FROM cent),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
         |pc AS (SELECT q.query_id, q.qv, q.qn, cn.c_label,
         |         ${safe6(dotSql("q.qv", "cn.cv") + " / (q.qn * cn.c_nrm)")} AS c_cos
         |       FROM q, cn),
         |pr AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY c_cos DESC, c_label) AS c_rank
         |       FROM pc),
         |probe AS (SELECT query_id, qv, qn, c_label FROM pr WHERE c_rank <= 2),
         |sc AS (SELECT p.query_id, n.vec_id AS neighbor_id,
         |         ${safe6(dotSql("p.qv", "n.v") + " / (p.qn * n.nrm)")} AS cosine
         |       FROM probe p JOIN n ON n.label = p.c_label AND n.vec_id <> p.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |      FROM sc)
         |SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // mirrors Similarity.retrievalEval: brute-force truth with graded
    // relevance 11-rank, the ann_ivf system ranking, and DCG discounts
    // / reciprocal ranks joined from VALUES tables built from the SAME
    // Scala sequences the Spark plan embeds — literal-identical.
    "retrieval_eval" -> {
      val discVals = Similarity.dcgDiscounts(10).zipWithIndex.map {
        case (d, i) =>
          s"(${i + 1}, CAST(${d.toPlainString} AS DECIMAL(14,12)))"
      }.mkString(", ")
      val recipVals = Similarity.recipRanks(10).zipWithIndex.map {
        case (d, i) =>
          s"(${i + 1}, CAST(${d.toPlainString} AS DECIMAL(14,12)))"
      }.mkString(", ")
      s"""$embCte,
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
         |      FROM n WHERE vec_id < 10),
         |tsc AS (SELECT q.query_id, n.vec_id AS neighbor_id,
         |          ${safe6(dotSql("q.qv", "n.v") + " / (q.qn * n.nrm)")}
         |            AS cosine
         |        FROM q JOIN n ON n.vec_id <> q.query_id),
         |tr AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY cosine DESC, neighbor_id) AS rank FROM tsc),
         |truth AS (SELECT query_id, neighbor_id,
         |            CAST(11 - rank AS DECIMAL(4,0)) AS rel, rank
         |          FROM tr WHERE rank <= 10),
         |disc AS (SELECT * FROM (VALUES $discVals) AS t(r, d)),
         |recip AS (SELECT * FROM (VALUES $recipVals) AS t(r, rd)),
         |idcg AS (SELECT query_id, sum(rel * d.d) AS idcg,
         |           CAST(count(*) AS BIGINT) AS n_truth
         |         FROM truth JOIN disc d ON d.r = truth.rank
         |         GROUP BY query_id),
         |cpos AS (SELECT label, g.pos, avg(v[g.pos]) AS cx
         |         FROM n, unnest(generate_series(1, len(v))) AS g(pos)
         |         GROUP BY label, g.pos),
         |cent AS (SELECT label AS c_label,
         |           list(round(cx, 6) ORDER BY pos) AS cv
         |         FROM cpos GROUP BY label),
         |cn AS (SELECT c_label, cv,
         |         sqrt(list_sum(list_transform(cv, x -> x * x)))
         |           AS c_nrm FROM cent),
         |pc AS (SELECT q.query_id, q.qv, q.qn, cn.c_label,
         |         ${safe6(dotSql("q.qv", "cn.cv") + " / (q.qn * cn.c_nrm)")}
         |           AS c_cos
         |       FROM q, cn),
         |pr AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY c_cos DESC, c_label) AS c_rank
         |       FROM pc),
         |probe AS (SELECT query_id, qv, qn, c_label FROM pr
         |          WHERE c_rank <= 2),
         |sc AS (SELECT p.query_id, n.vec_id AS neighbor_id,
         |         ${safe6(dotSql("p.qv", "n.v") + " / (p.qn * n.nrm)")}
         |           AS cosine
         |       FROM probe p JOIN n ON n.label = p.c_label
         |         AND n.vec_id <> p.query_id),
         |sr AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |         ORDER BY cosine DESC, neighbor_id) AS rank FROM sc),
         |sys AS (SELECT query_id, neighbor_id, rank AS sys_rank
         |        FROM sr WHERE rank <= 10),
         |hits AS (SELECT s.query_id, t.rel, s.sys_rank
         |         FROM sys s JOIN truth t ON t.query_id = s.query_id
         |           AND t.neighbor_id = s.neighbor_id),
         |dcg AS (SELECT query_id, sum(rel * d.d) AS dcg,
         |          CAST(count(*) AS BIGINT) AS n_hits,
         |          min(sys_rank) AS first_hit_rank
         |        FROM hits JOIN disc d ON d.r = hits.sys_rank
         |        GROUP BY query_id)
         |SELECT i.query_id, i.n_truth,
         |  coalesce(g.n_hits, 0) AS n_hits, g.first_hit_rank,
         |  ${safe6("""CAST(coalesce(g.dcg, 0) AS DOUBLE)
         |    / CAST(i.idcg AS DOUBLE)""")} AS ndcg,
         |  coalesce(CAST(rc.rd AS DOUBLE), 0.0) AS rr
         |FROM idcg i LEFT JOIN dcg g USING (query_id)
         |LEFT JOIN recip rc ON rc.r = g.first_hit_rank
         |ORDER BY query_id""".stripMargin
    },

    "ann_ivf_kmeans" ->
      s"""$embCte,
         |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv, nrm AS c_nrm
         |       FROM n WHERE vec_id < 8),
         |${kmAssignCte("a1", "c0")},
         |${kmMeansCte("c1", "a1")},
         |${kmAssignCte("a2", "c1")},
         |${kmMeansCte("c2", "a2")},
         |${kmAssignCte("cells", "c2")},
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
         |      FROM cells WHERE vec_id < 10),
         |pc AS (SELECT q.query_id, q.qv, q.qn, c.cell,
         |         ${safe6(dotSql("q.qv", "c.cv") + " / (q.qn * c.c_nrm)")} AS c_cos
         |       FROM q, c2 c),
         |pr AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY c_cos DESC, cell) AS c_rank
         |       FROM pc),
         |probe AS (SELECT query_id, qv, qn, cell FROM pr WHERE c_rank <= 2),
         |sc AS (SELECT p.query_id, cl.vec_id AS neighbor_id,
         |         ${safe6(dotSql("p.qv", "cl.v") + " / (p.qn * cl.nrm)")} AS cosine
         |       FROM probe p JOIN cells cl ON cl.cell = p.cell AND cl.vec_id <> p.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |      FROM sc)
         |SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // mirrors Similarity.annQueryIvf over refreshIvfAssignments: kmeans
    // trained on the salted 80% history slice only (init = hist vectors
    // with vec_id < 8), every vector assigned to those FROZEN centroids
    // (history via the index build, delta via the refresh — identical
    // assignment rule, so the union equals assigning all), then the
    // standard probe/score tail.
    "ann_incremental" ->
      s"""$embCte,
         |h AS (SELECT * FROM n
         |      WHERE ${h60("'ann_' || vec_id")} % 100 < 80),
         |d AS (SELECT * FROM n
         |      WHERE ${h60("'ann_' || vec_id")} % 100 >= 80),
         |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv, nrm AS c_nrm
         |       FROM h WHERE vec_id < 8),
         |${kmAssignCte("a1", "c0", "h")},
         |${kmMeansCte("c1", "a1")},
         |${kmAssignCte("a2", "c1", "h")},
         |${kmMeansCte("c2", "a2")},
         |${kmAssignCte("ah", "c2", "h")},
         |${kmAssignCte("ad", "c2", "d")},
         |cells AS (SELECT * FROM ah UNION ALL SELECT * FROM ad),
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
         |      FROM cells WHERE vec_id < 10),
         |pc AS (SELECT q.query_id, q.qv, q.qn, c.cell,
         |         ${safe6(dotSql("q.qv", "c.cv") + " / (q.qn * c.c_nrm)")} AS c_cos
         |       FROM q, c2 c),
         |pr AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY c_cos DESC, cell) AS c_rank
         |       FROM pc),
         |probe AS (SELECT query_id, qv, qn, cell FROM pr WHERE c_rank <= 2),
         |sc AS (SELECT p.query_id, cl.vec_id AS neighbor_id,
         |         ${safe6(dotSql("p.qv", "cl.v") + " / (p.qn * cl.nrm)")} AS cosine
         |       FROM probe p JOIN cells cl ON cl.cell = p.cell AND cl.vec_id <> p.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |      FROM sc)
         |SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // mirrors Similarity.ivfDriftAudit over the ann_incremental chain:
    // per cell, hist/new member counts and scaled-long cosine means.
    "ivf_drift_audit" ->
      s"""$embCte,
         |h AS (SELECT * FROM n
         |      WHERE ${h60("'ann_' || vec_id")} % 100 < 80),
         |d AS (SELECT * FROM n
         |      WHERE ${h60("'ann_' || vec_id")} % 100 >= 80),
         |c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS cv, nrm AS c_nrm
         |       FROM h WHERE vec_id < 8),
         |${kmAssignCte("a1", "c0", "h")},
         |${kmMeansCte("c1", "a1")},
         |${kmAssignCte("a2", "c1", "h")},
         |${kmMeansCte("c2", "a2")},
         |${kmAssignCte("ah", "c2", "h")},
         |${kmAssignCte("ad", "c2", "d")},
         |cells AS (SELECT *, TRUE AS is_hist FROM ah
         |          UNION ALL SELECT *, FALSE AS is_hist FROM ad),
         |j AS (SELECT cells.cell, cells.is_hist,
         |        CAST(round(${dotSql("cells.v", "c2.cv")}
         |          / (cells.nrm * c2.c_nrm) * 1000000.0, 0) AS BIGINT) AS c6
         |      FROM cells JOIN c2 ON cells.cell = c2.cell),
         |g AS (SELECT cell,
         |        sum(CASE WHEN is_hist THEN 1 ELSE 0 END) AS n_hist,
         |        sum(CASE WHEN is_hist THEN 0 ELSE 1 END) AS n_new,
         |        sum(CASE WHEN is_hist THEN c6 ELSE 0 END) AS s6_hist,
         |        sum(CASE WHEN is_hist THEN 0 ELSE c6 END) AS s6_new
         |      FROM j GROUP BY cell)
         |SELECT cell, CAST(n_hist AS BIGINT) AS n_hist,
         |  CAST(n_new AS BIGINT) AS n_new,
         |  CASE WHEN n_hist > 0
         |    THEN CAST(n_new AS DOUBLE) / CAST(n_hist AS DOUBLE) END AS growth_ratio,
         |  CASE WHEN n_hist > 0
         |    THEN CAST(s6_hist AS DOUBLE) / 1000000.0 / CAST(n_hist AS DOUBLE) END AS mean_cos_hist,
         |  CASE WHEN n_new > 0
         |    THEN CAST(s6_new AS DOUBLE) / 1000000.0 / CAST(n_new AS DOUBLE) END AS mean_cos_new,
         |  CASE WHEN n_hist > 0 AND n_new > 0
         |    THEN CAST(s6_hist AS DOUBLE) / 1000000.0 / CAST(n_hist AS DOUBLE)
         |       - CAST(s6_new AS DOUBLE) / 1000000.0 / CAST(n_new AS DOUBLE) END AS cos_drift
         |FROM g ORDER BY cell""".stripMargin,

    "ann_pq_adc" ->
      s"""$pqChainCte,
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx_dist, neighbor_id) AS rank
         |      FROM sc)
         |SELECT query_id, neighbor_id, approx_dist, rank FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    "ann_pq_rerank" ->
      s"""$pqChainCte,
         |pr AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY approx_dist, neighbor_id) AS prank
         |       FROM sc),
         |cand AS (SELECT query_id, neighbor_id FROM pr WHERE prank <= 30),
         |rr AS (SELECT c.query_id, c.neighbor_id,
         |         ${safe6(dotSql("q.v", "x.v") + " / (q.nrm * x.nrm)")} AS cosine
         |       FROM cand c
         |       JOIN n x ON x.vec_id = c.neighbor_id
         |       JOIN n q ON q.vec_id = c.query_id),
         |r2 AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |       FROM rr)
         |SELECT query_id, neighbor_id, cosine, rank FROM r2 WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        |  count(*) AS count_order,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_price
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_revenue_topk" ->
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 20""".stripMargin,

    // bucketed twin: bucketing is pure layout, so the oracle is the
    // plain unbucketed join — identical results IS the check.
    "bucketed_order_revenue" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "region_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6))) AS DOUBLE) AS total_revenue,
        |  count(*) AS order_count
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    // mirrors DataQuality.standardChecks one UNION-ALL branch per check:
    // RowCheck violations use `(valid) IS NOT TRUE` (null-as-violation,
    // the same semantics as when(valid,0).otherwise(1)); uniqueness is
    // rows − distinct keys; inclusion counts NOT EXISTS danglers (the
    // left-anti convention — a NULL parent key never matches).
    // mirrors DataQuality.seasonalAnomaly: full type×date×hour grid
    // (silent hours = 0), exact integer Σc/Σc², same double ops.
    "seasonal_anomaly" ->
      """WITH base AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(date_part('hour', CAST(ts AS TIMESTAMP)) AS INT) AS hod
        |  FROM events),
        |grid AS (SELECT t.event_type, d.day, CAST(g.h AS INT) AS hod
        |  FROM (SELECT DISTINCT event_type FROM base) t,
        |       (SELECT DISTINCT day FROM base) d,
        |       generate_series(0, 23) AS g(h)),
        |counts AS (SELECT event_type, day, hod, count(*) AS cnt
        |  FROM base GROUP BY 1, 2, 3),
        |f AS (SELECT g.event_type, g.day, g.hod, coalesce(cnt, 0) AS c
        |  FROM grid g LEFT JOIN counts USING (event_type, day, hod)),
        |bl AS (SELECT event_type, hod, count(*) AS n_slots,
        |    sum(c) AS sc, sum(c * c) AS sc2
        |  FROM f WHERE date_part('day', day) <= 21 GROUP BY 1, 2),
        |sc AS (SELECT f.event_type, f.day, f.hod, f.c,
        |    CAST(sc AS DOUBLE) / CAST(n_slots AS DOUBLE) AS mu,
        |    (CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
        |       / CAST(n_slots AS DOUBLE)) / (CAST(n_slots AS DOUBLE) - 1.0) AS var_
        |  FROM f JOIN bl USING (event_type, hod)
        |  WHERE date_part('day', f.day) > 21),
        |zz AS (SELECT event_type, day, hod, c, mu,
        |    CASE WHEN var_ > 0 THEN sqrt(var_) END AS sd
        |  FROM sc),
        |z2 AS (SELECT *,
        |    CASE WHEN sd IS NOT NULL
        |      THEN round((CAST(c AS DOUBLE) - mu) / sd * 1.0e6, 0) / 1.0e6
        |      END AS z
        |  FROM zz)
        |SELECT event_type, day, hod AS hour, c AS n_events,
        |  round(mu * 1.0e6, 0) / 1.0e6 AS mu,
        |  round(sd * 1.0e6, 0) / 1.0e6 AS sd, z,
        |  coalesce(abs(z) >= 3.0, false) AS anomalous
        |FROM z2 ORDER BY event_type, day, hour""".stripMargin,

    // mirrors DataQuality.benfordAudit: cents-integer first digit via
    // the string form, full 1..9 grid, 12-decimal DECIMAL term sums.
    "dq_benford" ->
      """WITH base AS (SELECT event_type,
        |    CAST(substr(CAST(CAST(round(value * 100, 0) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM events WHERE value > 0),
        |counts AS (SELECT event_type, digit, count(*) AS cnt FROM base GROUP BY 1, 2),
        |totals AS (SELECT event_type, count(*) AS n FROM base GROUP BY 1),
        |grid AS (SELECT DISTINCT event_type, CAST(g.d AS INT) AS digit
        |         FROM base, generate_series(1, 9) AS g(d)),
        |j AS (SELECT g.event_type, g.digit, n,
        |        CAST(coalesce(cnt, 0) AS DOUBLE) / CAST(n AS DOUBLE) AS obs,
        |        log10(1.0 + 1.0 / CAST(g.digit AS DOUBLE)) AS expd
        |      FROM grid g
        |      LEFT JOIN counts USING (event_type, digit)
        |      JOIN totals USING (event_type)),
        |t AS (SELECT event_type, n,
        |        CAST(round(pow(obs - expd, 2) / expd * 1.0e12, 0) AS BIGINT) AS chi_term_u,
        |        CAST(round(abs(obs - expd) * 1.0e12, 0) AS BIGINT) AS mad_term_u
        |      FROM j)
        |SELECT event_type, max(n) AS n,
        |  round(CAST(sum(chi_term_u) AS DOUBLE) / 1.0e12
        |    * CAST(max(n) AS DOUBLE) * 1.0e6, 0) / 1.0e6 AS chi2,
        |  round(CAST(sum(mad_term_u) AS DOUBLE) / 1.0e12 / 9 * 1.0e6, 0) / 1.0e6 AS mad,
        |  round(CAST(sum(mad_term_u) AS DOUBLE) / 1.0e12 / 9 * 1.0e6, 0) / 1.0e6 <= 0.015 AS conforms
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,

    // mirrors DataQuality.ksTest twice: the oracle uses the simple
    // single-window pooled-CDF form; the engine's bucketed parallel-
    // prefix form must produce identical cumulative counts.
    "ks_drift" -> Seq("click", "error").map { other =>
      s"""(WITH v AS (SELECT value,
         |        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
         |      FROM events WHERE event_type IN ('purchase', '$other')),
         |d AS (SELECT value, CAST(sum(a) AS BIGINT) AS ca,
         |        CAST(count(*) - sum(a) AS BIGINT) AS cb
         |      FROM v GROUP BY value),
         |c AS (SELECT sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b
         |      FROM d WINDOW w AS (ORDER BY value
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
         |        CAST(sum(cb) AS BIGINT) AS nb FROM d)
         |SELECT 'purchase' AS type_a, '$other' AS type_b,
         |  na AS n_a, nb AS n_b,
         |  CASE WHEN na > 0 AND nb > 0 THEN
         |    (SELECT max(abs(CAST(cum_a AS DOUBLE) / CAST(na AS DOUBLE)
         |       - CAST(cum_b AS DOUBLE) / CAST(nb AS DOUBLE))) FROM c)
         |  END AS ks_stat,
         |  CASE WHEN na > 0 AND nb > 0 THEN
         |    1.358 * sqrt(CAST(na + nb AS DOUBLE)
         |      / CAST(na * nb AS DOUBLE))
         |  END AS ks_crit,
         |  CASE WHEN na > 0 AND nb > 0 THEN
         |    (SELECT max(abs(CAST(cum_a AS DOUBLE) / CAST(na AS DOUBLE)
         |       - CAST(cum_b AS DOUBLE) / CAST(nb AS DOUBLE))) FROM c)
         |     > 1.358 * sqrt(CAST(na + nb AS DOUBLE)
         |       / CAST(na * nb AS DOUBLE))
         |  END AS rejected
         |FROM t)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY type_b"),

    // mirrors TextAnalysis.corpusGini: ascending-token-count ranks with
    // doc_id tie-break, exact integer sums, pinned boundary arithmetic.
    "corpus_gini" ->
      """WITH x AS (SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |r AS (SELECT lang, n_tok,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY n_tok, doc_id) AS BIGINT) AS i
        |  FROM x),
        |g AS (SELECT lang, count(*) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |    CAST(sum(i * n_tok) AS BIGINT) AS swx
        |  FROM r GROUP BY lang)
        |SELECT lang, n_docs, n_tokens,
        |  2.0 * CAST(swx AS DOUBLE) / CAST(n_docs * n_tokens AS DOUBLE)
        |    - CAST(n_docs + 1 AS DOUBLE) / CAST(n_docs AS DOUBLE) AS gini
        |FROM g ORDER BY lang""".stripMargin,

    // mirrors DataQuality.cvFolds: salted grouped fold hash, exact
    // integer share quotient, leak count over per-user fold spans.
    "cv_folds" ->
      s"""WITH tagged AS (
         |  SELECT CAST(${h60("'fold_' || user_id")} % 5 AS INT) AS fold,
         |         user_id
         |  FROM events),
         |pf AS (SELECT fold, count(DISTINCT user_id) AS n_users,
         |         count(*) AS n_events
         |       FROM tagged GROUP BY fold),
         |leak AS (SELECT count(*) FILTER (WHERE nf > 1) AS n_leaky_users
         |         FROM (SELECT user_id, count(DISTINCT fold) AS nf
         |               FROM tagged GROUP BY user_id)),
         |tot AS (SELECT sum(n_events) AS tot FROM pf)
         |SELECT fold, n_users, n_events,
         |  CAST(n_events AS DOUBLE) / CAST(tot AS DOUBLE) AS event_share,
         |  n_leaky_users
         |FROM pf, leak, tot ORDER BY fold""".stripMargin,

    // mirrors DataQuality.abTestZ: salted-hash arms, distinct
    // (user, type) conversions, the pooled z as ONE double expression
    // over exact integer products in the same order; significance from
    // the rounded z. CASTs pin DuckDB HUGEINT sums to BIGINT.
    "ab_test_z" ->
      s"""WITH users AS (SELECT DISTINCT user_id FROM events),
         |ua AS (SELECT user_id,
         |         CAST(${h60("'ab_' || user_id")} % 2 AS BIGINT) AS arm
         |       FROM users),
         |arms AS (SELECT
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b
         |  FROM ua),
         |x AS (SELECT event_type,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS x_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS x_b
         |  FROM (SELECT DISTINCT user_id, event_type FROM events) ut
         |  JOIN ua USING (user_id) GROUP BY event_type)
         |SELECT event_type, n_a, n_b, x_a, x_b,
         |  round(CAST(x_a AS DOUBLE) / n_a * 1.0e6, 0) / 1.0e6 AS rate_a,
         |  round(CAST(x_b AS DOUBLE) / n_b * 1.0e6, 0) / 1.0e6 AS rate_b,
         |  CASE WHEN (x_a + x_b) > 0 AND (x_a + x_b) < (n_a + n_b) THEN
         |    round(CAST(x_a * n_b - x_b * n_a AS DOUBLE) /
         |      sqrt(CAST((x_a + x_b) * ((n_a + n_b) - (x_a + x_b))
         |             AS DOUBLE) *
         |           CAST(n_a * n_b AS DOUBLE) / (n_a + n_b))
         |      * 1.0e6, 0) / 1.0e6
         |  END AS z,
         |  coalesce(abs(CASE WHEN (x_a + x_b) > 0
         |        AND (x_a + x_b) < (n_a + n_b) THEN
         |      round(CAST(x_a * n_b - x_b * n_a AS DOUBLE) /
         |        sqrt(CAST((x_a + x_b) * ((n_a + n_b) - (x_a + x_b))
         |               AS DOUBLE) *
         |             CAST(n_a * n_b AS DOUBLE) / (n_a + n_b))
         |        * 1.0e6, 0) / 1.0e6
         |    END) > 1.96, false) AS significant
         |FROM x, arms ORDER BY event_type""".stripMargin,

    "dq_audit" ->
      """WITH checks AS (
        |SELECT 'orders_pk_unique' AS check_id, 'orders' AS table_name,
        |  (SELECT count(*) FROM orders) AS n_rows,
        |  (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) AS n_violations
        |UNION ALL SELECT 'orders_custkey_complete', 'orders',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders WHERE (o_custkey IS NOT NULL) IS NOT TRUE)
        |UNION ALL SELECT 'orders_totalprice_positive', 'orders',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders WHERE (o_totalprice > 0) IS NOT TRUE)
        |UNION ALL SELECT 'orders_status_domain', 'orders',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders WHERE (o_orderstatus IN ('F','O','P')) IS NOT TRUE)
        |UNION ALL SELECT 'orders_custkey_in_customer', 'orders',
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL),
        |  (SELECT count(*) FROM orders o WHERE o_custkey IS NOT NULL
        |     AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |UNION ALL SELECT 'customer_pk_unique', 'customer',
        |  (SELECT count(*) FROM customer),
        |  (SELECT count(*) - count(DISTINCT c_custkey) FROM customer)
        |UNION ALL SELECT 'customer_name_pattern', 'customer',
        |  (SELECT count(*) FROM customer),
        |  (SELECT count(*) FROM customer WHERE regexp_matches(c_name, '^Customer#[0-9]+$') IS NOT TRUE)
        |UNION ALL SELECT 'customer_nation_in_nation', 'customer',
        |  (SELECT count(*) FROM customer WHERE c_nationkey IS NOT NULL),
        |  (SELECT count(*) FROM customer c WHERE c_nationkey IS NOT NULL
        |     AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
        |UNION ALL SELECT 'lineitem_pk_unique', 'lineitem',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem)
        |    - (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
        |UNION ALL SELECT 'lineitem_discount_range', 'lineitem',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem WHERE (l_discount >= 0 AND l_discount <= 1) IS NOT TRUE)
        |UNION ALL SELECT 'lineitem_quantity_positive', 'lineitem',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem WHERE (l_quantity > 0) IS NOT TRUE)
        |UNION ALL SELECT 'lineitem_ship_after_1990', 'lineitem',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem WHERE (l_shipdate >= TIMESTAMP '1990-01-01') IS NOT TRUE)
        |UNION ALL SELECT 'lineitem_order_in_orders', 'lineitem',
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL),
        |  (SELECT count(*) FROM lineitem l WHERE l_orderkey IS NOT NULL
        |     AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |UNION ALL SELECT 'events_pk_unique', 'events',
        |  (SELECT count(*) FROM events),
        |  (SELECT count(*) - count(DISTINCT event_id) FROM events)
        |UNION ALL SELECT 'events_ts_complete', 'events',
        |  (SELECT count(*) FROM events),
        |  (SELECT count(*) FROM events WHERE (ts IS NOT NULL) IS NOT TRUE)
        |UNION ALL SELECT 'events_value_complete', 'events',
        |  (SELECT count(*) FROM events),
        |  (SELECT count(*) FROM events WHERE (value IS NOT NULL) IS NOT TRUE)
        |UNION ALL SELECT 'documents_pk_unique', 'documents',
        |  (SELECT count(*) FROM documents),
        |  (SELECT count(*) - count(DISTINCT doc_id) FROM documents)
        |UNION ALL SELECT 'documents_text_complete', 'documents',
        |  (SELECT count(*) FROM documents),
        |  (SELECT count(*) FROM documents WHERE (text IS NOT NULL AND length(text) > 0) IS NOT TRUE)
        |UNION ALL SELECT 'documents_nchars_consistent', 'documents',
        |  (SELECT count(*) FROM documents),
        |  (SELECT count(*) FROM documents WHERE (n_chars = length(text)) IS NOT TRUE)
        |UNION ALL SELECT 'embeddings_pk_unique', 'embeddings',
        |  (SELECT count(*) FROM embeddings),
        |  (SELECT count(*) - count(DISTINCT vec_id) FROM embeddings)
        |UNION ALL SELECT 'embeddings_dim_consistent', 'embeddings',
        |  (SELECT count(*) FROM embeddings),
        |  (SELECT count(*) FROM embeddings WHERE (len(embedding) = 64) IS NOT TRUE)
        |)
        |SELECT check_id, table_name, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_violations AS BIGINT) AS n_violations,
        |  n_violations = 0 AS pass
        |FROM checks ORDER BY check_id""".stripMargin,

    // mirrors Sketches.kmvDistinct (k=64, salt 'kmv_'): distinct salted
    // hash60 per type, k smallest via row_number, estimate (k-1)*2^60/h_k
    // (exact count when fewer than k distinct hashes survive).
    "sketch_kmv_distinct" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
         |    ${h60("'kmv_' || CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |r AS (SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |  FROM h),
         |e AS (SELECT event_type,
         |    CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
         |      ELSE round(63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE) * 1.0e4, 0) / 1.0e4
         |    END AS kmv_est
         |  FROM r WHERE rn <= 64 GROUP BY event_type),
         |x AS (SELECT event_type, count(*) AS n_exact FROM h GROUP BY event_type)
         |SELECT x.event_type, n_exact, kmv_est,
         |  round(abs(kmv_est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE) * 1.0e4, 0) / 1.0e4 AS rel_err
         |FROM x JOIN e USING (event_type) ORDER BY event_type""".stripMargin,

    // mirrors Sketches.kmvMergeDaily (k=32): per-(type, day) k-min
    // partials, unioned + deduped + re-capped = merged sketch; compared
    // against the direct sketch over the whole history.
    "sketch_kmv_merge" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
         |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         |    ${h60("'kmv_' || CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |p AS (SELECT event_type, h FROM (
         |    SELECT event_type, day, h,
         |      row_number() OVER (PARTITION BY event_type, day ORDER BY h) AS rn
         |    FROM h) WHERE rn <= 32),
         |pd AS (SELECT DISTINCT event_type, h FROM p),
         |m AS (SELECT event_type,
         |    CASE WHEN count(*) < 32 THEN CAST(count(*) AS DOUBLE)
         |      ELSE round(31.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE) * 1.0e4, 0) / 1.0e4
         |    END AS merged_est
         |  FROM (SELECT event_type, h,
         |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |    FROM pd) WHERE rn <= 32 GROUP BY event_type),
         |hd AS (SELECT DISTINCT event_type, h FROM h),
         |d AS (SELECT event_type,
         |    CASE WHEN count(*) < 32 THEN CAST(count(*) AS DOUBLE)
         |      ELSE round(31.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE) * 1.0e4, 0) / 1.0e4
         |    END AS direct_est
         |  FROM (SELECT event_type, h,
         |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |    FROM hd) WHERE rn <= 32 GROUP BY event_type)
         |SELECT m.event_type, merged_est, direct_est,
         |  merged_est = direct_est AS merge_consistent
         |FROM m JOIN d USING (event_type) ORDER BY event_type""".stripMargin,

    // mirrors Sketches.hllDistinct (p=8, salt 'hll_'): top-8-bit
    // register index over hash60, rank = 53 − bitlen of the 52-bit
    // suffix (ltrim-bin — both engines strip leading zeros), exact
    // integer harmonic sum via 2^(53−reg) terms, the pinned α·m²·2^53
    // numerator divided once, linear counting under 2.5·m with zeros.
    "sketch_hll_distinct" ->
      s"""WITH h AS (SELECT event_type,
         |    ${h60("'hll_' || CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |b AS (SELECT event_type, h // 4503599627370496 AS idx,
         |    h % 4503599627370496 AS w FROM h),
         |r AS (SELECT event_type, idx,
         |    max(53 - length(ltrim(bin(w), '0'))) AS reg
         |  FROM b GROUP BY event_type, idx),
         |a AS (SELECT event_type,
         |    CAST(sum(CAST(1 AS BIGINT) << (53 - CAST(reg AS INT)))
         |      + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS BIGINT)
         |      AS s_scaled,
         |    CAST(256 - count(*) AS BIGINT) AS v_zero
         |  FROM r GROUP BY event_type),
         |e AS (SELECT event_type, v_zero, s_scaled,
         |    CASE WHEN 4.2399330249068963e20 / CAST(s_scaled AS DOUBLE)
         |        <= 640.0 AND v_zero > 0
         |      THEN round(256.0 * ln(256.0 / CAST(v_zero AS DOUBLE)) * 1.0e4, 0) / 1.0e4
         |      ELSE round(4.2399330249068963e20
         |        / CAST(s_scaled AS DOUBLE) * 1.0e4, 0) / 1.0e4 END AS hll_est
         |  FROM a),
         |x AS (SELECT event_type, CAST(count(DISTINCT h) AS BIGINT)
         |    AS n_exact FROM h GROUP BY event_type)
         |SELECT x.event_type, n_exact, hll_est,
         |  round(abs(hll_est - CAST(n_exact AS DOUBLE))
         |    / CAST(n_exact AS DOUBLE) * 1.0e4, 0) / 1.0e4
         |    AS rel_err, v_zero, s_scaled
         |FROM x JOIN e USING (event_type) ORDER BY event_type""".stripMargin,

    // mirrors Sketches.hllMergeDaily (p=8): per-(type, day) register
    // shards re-maxed per (type, idx) vs the direct registers; the
    // estimates AND exact integer sums must agree.
    "sketch_hll_merge" ->
      s"""WITH h AS (SELECT event_type,
         |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         |    ${h60("'hll_' || CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |b AS (SELECT event_type, day, h // 4503599627370496 AS idx,
         |    h % 4503599627370496 AS w FROM h),
         |daily AS (SELECT event_type, day, idx,
         |    max(53 - length(ltrim(bin(w), '0'))) AS reg
         |  FROM b GROUP BY event_type, day, idx),
         |mr AS (SELECT event_type, idx, max(reg) AS reg
         |  FROM daily GROUP BY event_type, idx),
         |dr AS (SELECT event_type, idx, max(53 - length(ltrim(bin(w),
         |    '0'))) AS reg FROM b GROUP BY event_type, idx),
         |ma AS (SELECT event_type,
         |    CAST(sum(CAST(1 AS BIGINT) << (53 - CAST(reg AS INT)))
         |      + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS BIGINT)
         |      AS s_merged,
         |    CAST(256 - count(*) AS BIGINT) AS v_zero
         |  FROM mr GROUP BY event_type),
         |da AS (SELECT event_type,
         |    CAST(sum(CAST(1 AS BIGINT) << (53 - CAST(reg AS INT)))
         |      + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS BIGINT)
         |      AS s_direct,
         |    CAST(256 - count(*) AS BIGINT) AS v_zero
         |  FROM dr GROUP BY event_type),
         |me AS (SELECT event_type, s_merged,
         |    CASE WHEN 4.2399330249068963e20 / CAST(s_merged AS DOUBLE)
         |        <= 640.0 AND v_zero > 0
         |      THEN round(256.0 * ln(256.0 / CAST(v_zero AS DOUBLE)) * 1.0e4, 0) / 1.0e4
         |      ELSE round(4.2399330249068963e20
         |        / CAST(s_merged AS DOUBLE) * 1.0e4, 0) / 1.0e4 END AS merged_est
         |  FROM ma),
         |de AS (SELECT event_type, s_direct,
         |    CASE WHEN 4.2399330249068963e20 / CAST(s_direct AS DOUBLE)
         |        <= 640.0 AND v_zero > 0
         |      THEN round(256.0 * ln(256.0 / CAST(v_zero AS DOUBLE)) * 1.0e4, 0) / 1.0e4
         |      ELSE round(4.2399330249068963e20
         |        / CAST(s_direct AS DOUBLE) * 1.0e4, 0) / 1.0e4 END AS direct_est
         |  FROM da)
         |SELECT me.event_type, merged_est, direct_est,
         |  merged_est = direct_est AND s_merged = s_direct
         |    AS merge_consistent
         |FROM me JOIN de USING (event_type) ORDER BY event_type""".stripMargin,

    // mirrors Sketches.kmvOverlap (k=64): per-type k-min sketches,
    // pairwise union-merge + coincidence intersection estimator.
    "sketch_kmv_overlap" ->
      s"""WITH h AS (SELECT DISTINCT event_type AS t,
         |    ${h60("'kmv_' || CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |sk AS (SELECT t, h FROM (SELECT t, h,
         |    row_number() OVER (PARTITION BY t ORDER BY h) AS rn FROM h)
         |  WHERE rn <= 64),
         |e AS (SELECT t,
         |    CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
         |      ELSE round(63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE) * 1.0e4, 0) / 1.0e4
         |    END AS est
         |  FROM sk GROUP BY t),
         |pairs AS (SELECT a.t AS type_a, b.t AS type_b,
         |    a.est AS est_a, b.est AS est_b
         |  FROM e a JOIN e b ON a.t < b.t),
         |legs AS (SELECT type_a, type_b, type_a AS t FROM pairs
         |  UNION ALL SELECT type_a, type_b, type_b FROM pairs),
         |mem AS (SELECT type_a, type_b, h,
         |    max(CASE WHEN t = type_a THEN 1 ELSE 0 END) AS in_a,
         |    max(CASE WHEN t = type_b THEN 1 ELSE 0 END) AS in_b
         |  FROM legs JOIN sk USING (t) GROUP BY type_a, type_b, h),
         |u AS (SELECT * FROM (SELECT *,
         |    row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
         |  FROM mem) WHERE rn <= 64),
         |ag AS (SELECT type_a, type_b, count(*) AS m, max(h) AS hk,
         |    sum(in_a * in_b) AS n_both
         |  FROM u GROUP BY type_a, type_b),
         |f AS (SELECT type_a, type_b, m, n_both,
         |    CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
         |      ELSE round(63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) * 1.0e4, 0) / 1.0e4
         |    END AS est_union
         |  FROM ag),
         |g AS (SELECT *,
         |    CASE WHEN m < 64 THEN CAST(n_both AS DOUBLE)
         |      ELSE round(CAST(n_both AS DOUBLE) / 64 * est_union * 1.0e4, 0) / 1.0e4
         |    END AS est_intersection
         |  FROM f)
         |SELECT type_a, type_b, est_a, est_b, est_union, est_intersection,
         |  round(est_intersection / est_union * 1.0e6, 0) / 1.0e6 AS est_jaccard
         |FROM g JOIN pairs USING (type_a, type_b)
         |ORDER BY type_a, type_b""".stripMargin,

    // mirrors Layout.skippingAudit (64 files, 16 probes, 8-bit buckets):
    // identical integer/floor arithmetic, the same ntile file cuts, the
    // same stats-overlap probe join.
    // mirrors Layout.scanPushdownStats — the oracle computes the same
    // stats the long way; the engine must answer from parquet footers.
    "scan_pushdown_audit" ->
      """SELECT count(*) AS n_rows,
        |  min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey,
        |  min(l_quantity) AS min_quantity, max(l_quantity) AS max_quantity
        |FROM lineitem""".stripMargin,

    "layout_zorder" ->
      s"""WITH base AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
         |    CAST(floor(value * 100) AS BIGINT) AS vcents FROM events),
         |b AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
         |    min(vcents) AS vmin, max(vcents) AS vmax FROM base),
         |wb AS (SELECT base.*, umin, umax, vmin, vmax,
         |    umax - umin + 1 AS uspan, vmax - vmin + 1 AS vspan FROM base, b),
         |wz AS (SELECT *,
         |    CAST(floor((user_id - umin) * 256 / uspan) AS BIGINT) AS ub,
         |    CAST(floor((vcents - vmin) * 256 / vspan) AS BIGINT) AS vb
         |  FROM wb),
         |z AS (SELECT *, ${graft.operators.Layout.zValueSql("ub", "vb", 8)} AS z
         |  FROM wz),
         |f AS (
         |  SELECT 'time' AS layout, ntile(64) OVER (ORDER BY ts, event_id) AS file_id,
         |    user_id, vcents FROM z
         |  UNION ALL
         |  SELECT 'user', ntile(64) OVER (ORDER BY user_id, event_id),
         |    user_id, vcents FROM z
         |  UNION ALL
         |  SELECT 'zorder', ntile(64) OVER (ORDER BY z.z, event_id),
         |    user_id, vcents FROM z),
         |stats AS (SELECT layout, file_id,
         |    min(user_id) AS f_umin, max(user_id) AS f_umax,
         |    min(vcents) AS f_vmin, max(vcents) AS f_vmax,
         |    count(*) AS f_rows
         |  FROM f GROUP BY layout, file_id),
         |probes AS (SELECT g.p,
         |    CASE WHEN g.p % 2 = 0
         |      THEN umin + CAST(floor(uspan * (2 * g.p + 1) / 32) AS BIGINT)
         |      ELSE umin END AS p_ulo,
         |    CASE WHEN g.p % 2 = 0
         |      THEN umin + CAST(floor(uspan * (2 * g.p + 3) / 32) AS BIGINT) - 1
         |      ELSE umax END AS p_uhi,
         |    vmin + CAST(floor(vspan * (2 * g.p + 1) / 32) AS BIGINT) AS p_vlo,
         |    vmin + CAST(floor(vspan * (2 * g.p + 3) / 32) AS BIGINT) - 1 AS p_vhi
         |  FROM generate_series(0, 15) AS g(p),
         |    (SELECT *, umax - umin + 1 AS uspan, vmax - vmin + 1 AS vspan FROM b)),
         |tot AS (SELECT layout, sum(f_rows) AS rows_total FROM stats GROUP BY layout),
         |hits AS (SELECT layout, count(*) AS files_hit, sum(f_rows) AS rows_scanned
         |  FROM stats JOIN probes ON f_umin <= p_uhi AND f_umax >= p_ulo
         |    AND f_vmin <= p_vhi AND f_vmax >= p_vlo
         |  GROUP BY layout)
         |SELECT h.layout, 64 AS n_files, 16 AS n_probes, files_hit,
         |  CAST(rows_scanned AS BIGINT) AS rows_scanned,
         |  CAST(rows_total AS BIGINT) AS rows_total
         |FROM hits h JOIN tot USING (layout) ORDER BY layout""".stripMargin,

    // mirrors Analytics.twap: piecewise-constant segments via lead with
    // hour-end default, 6-decimal rounded products summed as DECIMAL,
    // doubles only at the final division (the vwap convention).
    "symbol_twap" ->
      s"""$tradesCte,
         |t2 AS (SELECT symbol, event_id, event_time, price, size,
         |    time_bucket(INTERVAL 1 HOUR, event_time) AS hour_start
         |  FROM trades),
         |t3 AS (SELECT *, coalesce(
         |    lead(event_time) OVER (PARTITION BY symbol, hour_start
         |      ORDER BY event_time, event_id),
         |    hour_start + INTERVAL 1 HOUR) AS seg_end FROM t2),
         |t4 AS (SELECT *, epoch_us(seg_end) - epoch_us(event_time) AS dt_us
         |  FROM t3)
         |SELECT symbol, hour_start, count(*) AS n_trades,
         |  round(CAST(SUM(CAST(round(price * CAST(dt_us AS DOUBLE) / 1000000.0
         |        * 1.0e6, 0) / 1.0e6 AS DECIMAL(28,6))) AS DOUBLE)
         |    / CAST(SUM(CAST(round(CAST(dt_us AS DOUBLE) / 1000000.0
         |        * 1.0e6, 0) / 1.0e6 AS DECIMAL(18,6))) AS DOUBLE)
         |    * 1.0e6, 0) / 1.0e6 AS twap,
         |  round(CAST(SUM(CAST(round(price * size, 6) AS DECIMAL(28,6))) AS DOUBLE)
         |    / CAST(SUM(CAST(size AS DECIMAL(20,6))) AS DOUBLE)
         |    * 1.0e6, 0) / 1.0e6 AS vwap
         |FROM t4 GROUP BY symbol, hour_start
         |ORDER BY symbol, hour_start""".stripMargin,

    // mirrors Sessions.rollingActiveUsers: distinct (user, day) set
    // expanded onto its 7 target days, semi-joined to real days.
    "user_active_rolling" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |days AS (SELECT DISTINCT d AS day FROM ud),
        |dau AS (SELECT d AS day, count(DISTINCT user_id) AS dau
        |        FROM ud GROUP BY d),
        |ex AS (SELECT DISTINCT user_id, d + CAST(g.k AS INT) AS day
        |       FROM ud, unnest(generate_series(0, 6)) AS g(k)),
        |wau AS (SELECT ex.day, count(DISTINCT user_id) AS wau
        |        FROM ex JOIN days USING (day) GROUP BY ex.day)
        |SELECT day, dau, wau FROM dau JOIN wau USING (day)
        |ORDER BY day""".stripMargin,

    // mirrors Sketches.kmvRolling (k=64): per-day k-min partials
    // expanded onto their 7 target days, re-capped, estimated.
    "sketch_kmv_rolling" ->
      s"""WITH h AS (SELECT DISTINCT CAST(ts AS DATE) AS d,
         |    ${h60("'kmv_' || CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |days AS (SELECT DISTINCT d AS day FROM h),
         |p AS (SELECT d, h FROM (SELECT d, h,
         |    row_number() OVER (PARTITION BY d ORDER BY h) AS rn FROM h)
         |  WHERE rn <= 64),
         |pe AS (SELECT DISTINCT d + CAST(g.k AS INT) AS day, h
         |       FROM p, unnest(generate_series(0, 6)) AS g(k)),
         |pef AS (SELECT pe.day, pe.h FROM pe JOIN days USING (day)),
         |est AS (SELECT day,
         |    CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
         |      ELSE round(63.0 * 1152921504606846976.0 / CAST(max(h) AS DOUBLE) * 1.0e4, 0) / 1.0e4
         |    END AS wau_est
         |  FROM (SELECT day, h,
         |      row_number() OVER (PARTITION BY day ORDER BY h) AS rn
         |    FROM pef) WHERE rn <= 64 GROUP BY day),
         |he AS (SELECT DISTINCT d + CAST(g.k AS INT) AS day, h
         |       FROM h, unnest(generate_series(0, 6)) AS g(k)),
         |hef AS (SELECT he.day, he.h FROM he JOIN days USING (day)),
         |exact AS (SELECT day, count(*) AS wau_exact FROM hef GROUP BY day)
         |SELECT day, wau_exact, wau_est,
         |  round(abs(wau_est - CAST(wau_exact AS DOUBLE)) / CAST(wau_exact AS DOUBLE) * 1.0e4, 0) / 1.0e4 AS rel_err
         |FROM exact JOIN est USING (day) ORDER BY day""".stripMargin,

    // mirrors Sessions.lastTouchAttribution: last_value IGNORE NULLS
    // carry of the latest touch, 72h window, decimal latency sums.
    "attribution_last_touch" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
        |wt AS (SELECT user_id, event_type, ts,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |        THEN struct_pack(t_ts := ts, t_type := event_type) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        |  FROM e),
        |conv AS (SELECT ts, lt,
        |    lt IS NOT NULL AND lt.t_ts >= ts - INTERVAL 72 HOUR AS in_window
        |  FROM wt WHERE event_type = 'purchase'),
        |cr AS (SELECT
        |    CASE WHEN in_window THEN lt.t_type ELSE 'direct' END AS credited_type,
        |    CASE WHEN in_window
        |      THEN CAST(round(CAST(epoch_us(ts) - epoch_us(lt.t_ts) AS DOUBLE) / 6e7 * 1.0e6, 0) / 1.0e6 AS DECIMAL(18,6))
        |    END AS mins
        |  FROM conv),
        |g AS (SELECT credited_type, count(*) AS n_conversions,
        |    sum(mins) AS mins_sum, count(mins) AS n_attributed
        |  FROM cr GROUP BY 1),
        |t AS (SELECT sum(n_conversions) AS total FROM g)
        |SELECT credited_type, n_conversions,
        |  round(CAST(n_conversions AS DOUBLE) / CAST(total AS DOUBLE)
        |    * 1.0e6, 0) / 1.0e6 AS share,
        |  CASE WHEN n_attributed > 0
        |    THEN round(CAST(mins_sum AS DOUBLE) / CAST(n_attributed AS DOUBLE)
        |      * 1.0e6, 0) / 1.0e6
        |  END AS avg_mins
        |FROM g, t ORDER BY credited_type""".stripMargin,

    // mirrors Learn.btStrengths: per-user consecutive-event
    // comparisons (higher value wins, ties to the smaller type), then
    // 8 unrolled MM rounds — denominator terms pinned at 1e-6
    // integers and summed exactly, strengths re-pinned to the 1e-9
    // grid after the update and after the sum-normalization.
    "bt_strengths" -> btOracleSql,

    // Learn.btIncremental folds the delta's comparisons (with per-user
    // carry rows for the boundary pairs) into the persisted win-count
    // table; counts are additive, so the refreshed strengths equal the
    // full rebuild — the oracle is the bt_strengths chain verbatim.
    "bt_incremental" -> btOracleSql,

    // the streamed delta hop must land exactly the batch comparisons
    // (gated in-pipeline by a multiset compare against the lead
    // window) and the sink-side fold is count-additive — so the
    // bt_strengths full-rebuild chain IS the oracle (the
    // pipeline_er_e2e convention: streaming-vs-batch drift is a
    // correctness failure, not a tolerance).
    "pipeline_bt_e2e" -> btOracleSql,

    // Learn.btRetire subtracts the retired users' provenance counts
    // from the persisted win table (never rescanning events), so the
    // oracle is the bt_strengths chain over the SURVIVING users'
    // events — full-rebuild-minus-retired parity, pinned in SQL.
    "bt_retire" -> btOracleSqlOver(
      s"(SELECT * FROM events WHERE ${h60("'ret_' || user_id")} % 100 < 90)"),

    // mirrors Sessions.eventTransitions: lead over (user, time) order,
    // transition counts + within-from-type shares.
    "event_transitions" ->
      """WITH tr AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
        |  FROM events),
        |p AS (SELECT event_type AS from_type, to_type, count(*) AS n
        |  FROM tr WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
        |t AS (SELECT from_type, sum(n) AS n_out FROM p GROUP BY from_type)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE) / CAST(n_out AS DOUBLE) * 1.0e6, 0)
        |    / 1.0e6 AS p
        |FROM p JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    // mirrors Learn.logitFit: 8 unrolled gradient steps — weights as
    // EXACT 1e-12-unit integers (HUGEINT), exact decimal margins and
    // gradient sums, floor-division updates (matches the driver's
    // BigInt floor); the only libm rounding is sigma at 9.
    // mirrors Learn.olsFit: integer cent/point grids, pseudo-means
    // via //, the ×n computational centering (exact), Cramer with
    // 1e-6-unit truncated betas, intercept from the SAME truncated
    // betas, third-pass integer residuals for R². HUGEINT-free:
    // wide intermediates live in DECIMAL(38,0) (value envelopes per
    // site assume n <= ~2e6 rows — 30x the sf0.01 gate — and fail
    // LOUDLY beyond), wide divisions go through wdivStages.
    "ols_fit" -> {
      // 1e-8-unit integers (micro-cents) → DOUBLE dollars: exact
      // int64 → one IEEE division, the no-DECIMAL-outputs envelope
      def usd(u: String) =
        s"(CAST(CAST($u AS BIGINT) AS DOUBLE) / 100000000.0)"
      s"""WITH b AS (SELECT CAST(round(l_quantity, 0) AS BIGINT) AS x,
         |    CAST(round(l_discount * 100, 0) AS BIGINT) AS y,
         |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS z
         |  FROM lineitem),
         |s1 AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |    sum(z) AS sz FROM b),
         |m AS (SELECT n, sx // n AS mx, sy // n AS my, sz // n AS mz
         |  FROM s1),
         |c AS (SELECT b.x - mx AS u, b.y - my AS v, b.z - mz AS w
         |  FROM b, m),
         |s2 AS (SELECT sum(u*u) AS suu, sum(v*v) AS svv,
         |    sum(u*v) AS suv, sum(u*w) AS suw, sum(v*w) AS svw,
         |    sum(CAST(w * w AS DECIMAL(38,0))) AS sww,
         |    sum(u) AS su, sum(v) AS sv, sum(w) AS sw FROM c),
         |g AS (SELECT m.n, m.mx, m.my, m.mz, s2.*,
         |    m.n*suu - su*su AS ca,
         |    m.n*suv - su*sv AS cb,
         |    m.n*svv - sv*sv AS cc,
         |    CAST(m.n AS DECIMAL(9,0))*suw
         |      - CAST(su AS DECIMAL(10,0))*sw AS cd,
         |    CAST(m.n AS DECIMAL(9,0))*svw
         |      - CAST(sv AS DECIMAL(10,0))*sw AS ce
         |  FROM s2, m),
         |${wdivStages("t", "g", Seq(
              WDiv("(CAST(cd AS DECIMAL(20,0))*cc " +
                   "- CAST(ce AS DECIMAL(20,0))*cb) * 1000000",
                   "CAST(ca AS DECIMAL(17,0))*cc " +
                   "- CAST(cb AS DECIMAL(14,0))*cb", "b1t", 10, 28),
              WDiv("(CAST(ca AS DECIMAL(17,0))*ce " +
                   "- CAST(cb AS DECIMAL(14,0))*cd) * 1000000",
                   "CAST(ca AS DECIMAL(17,0))*cc " +
                   "- CAST(cb AS DECIMAL(14,0))*cb", "b2t", 10, 28)))},
         |${wdivStages("t2", "t", Seq(
              WDiv("CAST(sw AS DECIMAL(16,0))*1000000 - b1t*su - b2t*sv",
                   "n", "ct", 16, 12)))},
         |t3 AS (SELECT *, mz*1000000 + ct - b1t*mx - b2t*my AS b0t
         |  FROM t2),
         |cr AS (SELECT c.u, c.v, c.w, t3.b1t, t3.b2t, t3.ct
         |  FROM c, t3),
         |${wdivStages("rq", "cr", Seq(
              WDiv("b1t*u + b2t*v + ct", "1000000", "fit6", 14, 7)))},
         |r AS (SELECT w - fit6 AS rr FROM rq),
         |s3 AS (SELECT sum(CAST(rr * rr AS DECIMAL(38,0))) AS sse
         |  FROM r),
         |rg AS (SELECT t3.n, t3.b0t, t3.b1t, t3.b2t, t3.sw, t3.sww,
         |    s3.sse FROM t3, s3),
         |${wdivStages("r2q", "rg", Seq(
              WDiv("CAST(n AS DECIMAL(9,0)) * sse * 1000000",
                   "CAST(n AS DECIMAL(9,0)) * sww " +
                   "- CAST(sw AS DECIMAL(10,0)) * sw", "r2d", 9, 29)))}
         |SELECT CAST(n AS BIGINT) AS n_rows,
         |  ${usd("b0t")} AS intercept_usd,
         |  ${usd("b1t")} AS beta_qty_usd,
         |  ${usd("b2t")} AS beta_disc_pt_usd,
         |  ${microD("CAST(1000000 - r2d AS BIGINT)")} AS r2
         |FROM r2q""".stripMargin
    },

    "logit_fit" ->
      s"""${logitChainCte("feats")},
         |sf AS (SELECT f.y, ${logitSguSql("w")} AS sgu
         |       FROM feats f, w8t w),
         |scl AS (SELECT y, sgu,
         |          least(greatest(CAST(sgu AS DOUBLE) / 1000000000.0,
         |            1e-12), 1.0 - 1e-12) AS sc
         |        FROM sf),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
         |        CAST(sum(CASE WHEN (CASE WHEN sgu >= 500000000
         |          THEN 1 ELSE 0 END) = y THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_correct,
         |        sum(CAST(CAST(round((CASE WHEN y = 1 THEN -ln(sc)
         |          ELSE -ln(1.0 - sc) END) * 1000000000.0, 0)
         |          AS BIGINT) AS DECIMAL(38,0))) AS loss9
         |      FROM scl)
         |SELECT m.n_users,
         |  CAST(w.w0u AS DOUBLE) / 1000000000000.0 AS w0,
         |  CAST(w.w1u AS DOUBLE) / 1000000000000.0 AS w1,
         |  CAST(w.w2u AS DOUBLE) / 1000000000000.0 AS w2,
         |  CAST(n_correct AS DOUBLE) / CAST(n_users AS DOUBLE)
         |    AS accuracy,
         |  (CAST(loss9 AS DOUBLE) / 1000000000.0)
         |    / CAST(n_users AS DOUBLE) AS log_loss
         |FROM m, w8t w""".stripMargin,

    // mirrors Sessions.userEntropy: ln(c/n) pinned per (user, type),
    // exact integer per-user entropy, truncating histogram stats.
    "user_entropy" ->
      """WITH tc AS (SELECT user_id, event_type,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY user_id, event_type),
        |w AS (SELECT *, CAST(sum(c) OVER (PARTITION BY user_id)
        |    AS BIGINT) AS n FROM tc),
        |t AS (SELECT user_id, n,
        |    c * CAST(round(ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |      * 1000000.0, 0) AS BIGINT) AS t6
        |  FROM w),
        |ue AS (SELECT user_id, (CASE WHEN (-sum(t6)) < 0 THEN -((-(-sum(t6))) // (max(n))) ELSE (-sum(t6)) // (max(n)) END) AS h6
        |  FROM t GROUP BY user_id),
        |g AS (SELECT h6 // 250000 AS bin,
        |    CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(h6) AS BIGINT) AS sh,
        |    CAST(min(h6) AS BIGINT) AS mn,
        |    CAST(max(h6) AS BIGINT) AS mx
        |  FROM ue GROUP BY bin)
        |SELECT CAST(bin AS BIGINT) AS bin, n_users,
        |  CAST(sh // n_users AS DOUBLE) / 1000000.0 AS mean_entropy,
        |  CAST(mn AS DOUBLE) / 1000000.0 AS min_entropy,
        |  CAST(mx AS DOUBLE) / 1000000.0 AS max_entropy
        |FROM g ORDER BY bin""".stripMargin,

    // mirrors Similarity.knnAssortativity: symmetrized LSH edges,
    // integer degree moment sums, IEEE sqrts over exact variances,
    // Pearson r pinned at micro-units, truncating mean edge degree.
    "knn_assortativity" ->
      s"""$embLshPairsCte,
         |ep AS (SELECT id1, id2 FROM p WHERE cosine >= 0.45),
         |ed AS (SELECT id1 AS src, id2 AS dst FROM ep
         |       UNION ALL SELECT id2, id1 FROM ep),
         |dg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
         |  FROM ed GROUP BY src),
         |mo AS (SELECT CAST(count(*) AS BIGINT) AS m,
         |    CAST(sum(a.deg) AS BIGINT) AS sx,
         |    CAST(sum(b.deg) AS BIGINT) AS sy,
         |    sum(CAST(a.deg * b.deg AS DECIMAL(38,0))) AS sxy,
         |    sum(CAST(a.deg * a.deg AS DECIMAL(38,0))) AS sxx,
         |    sum(CAST(b.deg * b.deg AS DECIMAL(38,0))) AS syy
         |  FROM ed JOIN dg a ON a.id = ed.src
         |    JOIN dg b ON b.id = ed.dst),
         |mw AS (SELECT *,
         |    CAST(m AS DECIMAL(12,0)) * sxy
         |      - CAST(sx AS DECIMAL(13,0)) * sy AS cnum,
         |    CAST(m AS DECIMAL(12,0)) * sxx
         |      - CAST(sx AS DECIMAL(13,0)) * sx AS cdx,
         |    CAST(m AS DECIMAL(12,0)) * syy
         |      - CAST(sy AS DECIMAL(13,0)) * sy AS cdy
         |  FROM mo),
         |${wdivStages("md", "mw", Seq(
              WDiv("CAST(sx AS DECIMAL(20,0)) * 1000000", "m",
                   "med6", 12, 14)))},
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM dg)
         |SELECT nn.n_nodes, CAST(m // 2 AS BIGINT) AS n_edges,
         |  ${microD("med6")} AS mean_edge_degree,
         |  CASE WHEN cdx > 0 AND cdy > 0
         |    THEN ${microD(s"""CAST(round(CAST(cnum AS DOUBLE)
         |      / (sqrt(CAST(cdx AS DOUBLE))
         |        * sqrt(CAST(cdy AS DOUBLE)))
         |      * 1000000.0, 0) AS BIGINT)""")} END
         |    AS assortativity
         |FROM md, nn""".stripMargin,

    // mirrors Analytics.volumeHhi: exact micro-unit integer dollar
    // volumes (the amihud_illiq pin), ppm shares pinned once per
    // (day, symbol), integer HHI, micro doubles out.
    "volume_hhi" ->
      s"""$tradesCte,
         |dv AS (SELECT event_date AS d, symbol,
         |    sum(CAST(round(price * size * 1000000.0, 0) AS BIGINT))
         |      AS dv6
         |  FROM trades WHERE price > 0 GROUP BY event_date, symbol),
         |sh AS (SELECT d,
         |    CAST(round(CAST(dv6 AS DOUBLE) / CAST(sum(dv6) OVER (
         |      PARTITION BY d) AS DOUBLE) * 1000000.0, 0) AS BIGINT)
         |      AS s6
         |  FROM dv),
         |g AS (SELECT d, CAST(count(*) AS BIGINT) AS n_symbols,
         |    CAST(sum(s6 * s6) AS BIGINT) AS ss,
         |    CAST(max(s6) AS BIGINT) AS mx
         |  FROM sh GROUP BY d)
         |SELECT d, n_symbols,
         |  ${microD("ss // 1000000")} AS hhi,
         |  ${microD("mx")} AS top_share
         |FROM g ORDER BY d""".stripMargin,

    // mirrors Backtest.pairsTrading: pinned log prices, exact-integer
    // single-regressor hedge ratio (truncating //), integer spread /
    // mean / z, sigma from an IEEE sqrt over the exact variance
    // numerator.
    "pairs_trading" ->
      s"""$tradesCte,
         |dc AS (SELECT symbol, event_date AS d, price AS close FROM (
         |    SELECT *, row_number() OVER (PARTITION BY symbol,
         |      event_date ORDER BY event_time DESC, event_id DESC)
         |      AS rn
         |    FROM trades
         |    WHERE price > 0 AND symbol IN ('SYM_1', 'SYM_2'))
         |  WHERE rn = 1),
         |lp AS (SELECT symbol, d,
         |    CAST(round(ln(close) * 1000000.0, 0) AS BIGINT) AS lp6
         |  FROM dc),
         |j AS (SELECT a.d, a.lp6 AS pa6, b.lp6 AS pb6
         |  FROM lp a JOIN lp b ON a.d = b.d
         |  WHERE a.symbol = 'SYM_1' AND b.symbol = 'SYM_2'),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(pa6) AS BIGINT) AS sa,
         |    CAST(sum(pb6) AS BIGINT) AS sb,
         |    sum(CAST(pa6 * pb6 AS DECIMAL(38,0))) AS sab,
         |    sum(CAST(pb6 * pb6 AS DECIMAL(38,0))) AS sbb
         |  FROM j),
         |${wdivStages("bt", "m", Seq(
              WDiv("(CAST(n AS DECIMAL(7,0)) * sab" +
                   " - CAST(sa AS DECIMAL(14,0)) * sb) * 1000000",
                   "CAST(n AS DECIMAL(7,0)) * sbb" +
                   " - CAST(sb AS DECIMAL(14,0)) * sb",
                   "b6", 10, 26)))},
         |jb AS (SELECT j.d, j.pa6, j.pb6, bt.b6, bt.n, bt.sa,
         |    bt.sb, bt.sab, bt.sbb FROM j, bt),
         |${wdivStages("sp0", "jb", Seq(
              WDiv("b6 * pb6", "1000000", "hb6", 10, 7)))},
         |sp AS (SELECT d, pa6, pb6, b6, n, pa6 - hb6 AS s6
         |  FROM sp0),
         |st AS (SELECT CAST(sum(s6) AS BIGINT) AS ss,
         |    sum(CAST(s6 * s6 AS DECIMAL(38,0))) AS sss FROM sp),
         |sx AS (SELECT m.n, st.ss, st.sss FROM m, st),
         |${wdivStages("sa0", "sx", Seq(
              WDiv("ss", "n", "a6", 14, 7)))},
         |pars AS (SELECT bt.b6, sa0.n, sa0.a6,
         |    CAST(round(sqrt(CAST(
         |        CAST(sa0.n AS DECIMAL(7,0)) * sa0.sss
         |        - CAST(sa0.ss AS DECIMAL(14,0)) * sa0.ss
         |      AS DOUBLE)) / CAST(sa0.n AS DOUBLE), 0) AS BIGINT)
         |      AS sd6
         |  FROM bt, sa0),
         |zx AS (SELECT sp.d, sp.pa6, sp.pb6, sp.s6, pars.a6,
         |    pars.sd6, pars.b6, pars.n FROM sp, pars),
         |${wdivStages("zf", "zx", Seq(
              WDiv("(s6 - a6) * 1000000", "sd6", "z6", 12, 10)))}
         |SELECT d,
         |  ${microD("pa6")} AS log_price_a,
         |  ${microD("pb6")} AS log_price_b,
         |  ${microD("s6 - a6")} AS spread,
         |  ${microD("z6")} AS z,
         |  ${microD("b6")} AS beta,
         |  CAST(n AS BIGINT) AS n_days
         |FROM zf ORDER BY d""".stripMargin,

    // mirrors Analytics.amihudIlliq: last positive-print close per
    // day, exact decimal dollar volume, the pinned |ln| over prior
    // observed close, per-day ratio pinned at 1e12, truncating mean.
    "amihud_illiq" ->
      s"""$tradesCte,
         |dc AS (SELECT symbol, event_date AS d,
         |    max(CASE WHEN rn = 1 THEN price END) AS close,
         |    sum(CAST(round(price * size * 1000000.0, 0) AS BIGINT))
         |      AS dv6
         |  FROM (SELECT *, row_number() OVER (PARTITION BY symbol,
         |      event_date ORDER BY event_time DESC, event_id DESC)
         |      AS rn
         |    FROM trades WHERE price > 0)
         |  GROUP BY symbol, event_date),
         |lr AS (SELECT symbol,
         |    abs(CAST(round(ln(close / prev) * 1000000.0, 0)
         |      AS BIGINT)) AS alr6, dv6
         |  FROM (SELECT *, lag(close) OVER (PARTITION BY symbol
         |      ORDER BY d) AS prev FROM dc)
         |  WHERE prev IS NOT NULL AND dv6 > 0),
         |rt AS (SELECT symbol,
         |    CAST(round(CAST(alr6 AS DOUBLE)
         |      / (CAST(dv6 AS DOUBLE) / 1000000.0)
         |      * 1000000.0, 0) AS BIGINT) AS ratio6
         |  FROM lr),
         |g AS (SELECT symbol, CAST(count(*) AS BIGINT) AS n_days,
         |    CAST(sum(ratio6) AS BIGINT) AS rs
         |  FROM rt GROUP BY symbol)
         |SELECT symbol, n_days,
         |  ${microD("rs // n_days")} AS illiq
         |FROM g ORDER BY symbol""".stripMargin,

    // mirrors Analytics.runsTest: exact integer run counts over the
    // (event_time, event_id) total order, textbook E/Var in doubles
    // with identical association, z pinned at round(z*1e6, 0), the
    // 2*b*s > n positivity guard.
    "runs_test" ->
      s"""$tradesCte,
         |g AS (SELECT symbol, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_buy,
         |    CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_sell,
         |    CAST(sum(chg) AS BIGINT) AS runs
         |  FROM (SELECT symbol, sgn,
         |      CASE WHEN lag(sgn) OVER w IS NULL
         |        OR lag(sgn) OVER w <> sgn THEN 1 ELSE 0 END AS chg
         |    FROM (SELECT symbol,
         |        CASE WHEN side = 'buy' THEN 1 ELSE -1 END AS sgn,
         |        event_time, event_id FROM trades)
         |    WINDOW w AS (PARTITION BY symbol
         |      ORDER BY event_time, event_id))
         |  GROUP BY symbol),
         |z AS (SELECT *,
         |    CASE WHEN n_buy > 0 AND n_sell > 0 AND n > 1
         |        AND 2 * n_buy * n_sell > n THEN
         |      CAST(round((CAST(runs AS DOUBLE) -
         |        (2.0 * CAST(n_buy AS DOUBLE) * CAST(n_sell AS DOUBLE)
         |          / CAST(n AS DOUBLE) + 1.0)) /
         |        sqrt(2.0 * CAST(n_buy AS DOUBLE)
         |          * CAST(n_sell AS DOUBLE)
         |          * (2.0 * CAST(n_buy AS DOUBLE)
         |            * CAST(n_sell AS DOUBLE) - CAST(n AS DOUBLE)) /
         |          (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
         |            * (CAST(n AS DOUBLE) - 1.0))) * 1000000.0, 0)
         |        AS BIGINT) END AS z6
         |  FROM g)
         |SELECT symbol, n, n_buy, n_sell, runs,
         |  ${microD("z6")} AS z,
         |  (z6 IS NOT NULL AND abs(z6) <= 1960000)
         |    AS consistent_with_random
         |FROM z ORDER BY symbol""".stripMargin,

    // mirrors Similarity.matryoshkaEval: full-dim brute-force truth,
    // per-dim sliced rescoring, hits vs truth, truncating integer
    // micro recalls.
    "embed_matryoshka" -> {
      val dimCtes = Seq(4, 8, 16).map { d =>
        s""",
           |nd$d AS (SELECT vec_id, list_slice(v, 1, $d) AS v FROM n),
           |nn$d AS (SELECT vec_id, v,
           |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           |  FROM nd$d),
           |sc$d AS (SELECT q.vec_id AS query_id,
           |    c.vec_id AS neighbor_id,
           |    ${safe6(dotSql("q.v", "c.v") + " / (q.nrm * c.nrm)")}
           |      AS cosine
           |  FROM nn$d q, nn$d c
           |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
           |rk$d AS (SELECT query_id, neighbor_id FROM (SELECT *,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY cosine DESC, neighbor_id) AS rank FROM sc$d)
           |  WHERE rank <= 10),
           |h$d AS (SELECT r.query_id, CAST(count(*) AS BIGINT) AS hits
           |  FROM rk$d r JOIN tr USING (query_id, neighbor_id)
           |  GROUP BY r.query_id),
           |p$d AS (SELECT q2.query_id, coalesce(h$d.hits, 0) AS hits
           |  FROM (SELECT DISTINCT query_id FROM tr) q2
           |  LEFT JOIN h$d USING (query_id)),
           |o$d AS (SELECT CAST($d AS INT) AS dim,
           |    CAST(count(*) AS BIGINT) AS n_queries,
           |    CAST(CAST((sum(hits) * 1000000) // (count(*) * 10)
           |      AS BIGINT) AS DOUBLE) / 1000000.0 AS mean_recall,
           |    CAST(CAST((min(hits) * 1000000) // 10 AS BIGINT)
           |      AS DOUBLE) / 1000000.0 AS min_recall
           |  FROM p$d)""".stripMargin
      }.mkString
      s"""$embCte,
         |qf AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
         |  WHERE vec_id < 10),
         |pf AS (SELECT qf.query_id, n.vec_id AS neighbor_id,
         |    ${safe6(dotSql("qf.qv", "n.v") + " / (qf.qn * n.nrm)")}
         |      AS cosine
         |  FROM qf, n WHERE n.vec_id <> qf.query_id),
         |tr AS (SELECT query_id, neighbor_id FROM (SELECT *,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id) AS rank FROM pf)
         |  WHERE rank <= 10)$dimCtes
         |SELECT * FROM o4 UNION ALL SELECT * FROM o8
         |UNION ALL SELECT * FROM o16
         |ORDER BY dim""".stripMargin
    },

    // mirrors Relational.partSimilarity: distinct baskets, in-order
    // pair counts, exact-integer popularity product under an IEEE
    // sqrt, cosine pinned at round(*1e6, 0), per-part top-5.
    "part_similarity" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |pop AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM b
        |  GROUP BY p),
        |pr AS (SELECT a.p AS pa, b2.p AS pb,
        |    CAST(count(*) AS BIGINT) AS cab
        |  FROM b a JOIN b b2 ON a.o = b2.o AND a.p < b2.p
        |  GROUP BY a.p, b2.p),
        |sym AS (SELECT pa AS part_id, pb AS other_part, cab FROM pr
        |        UNION ALL SELECT pb, pa, cab FROM pr),
        |sc AS (SELECT s.part_id, s.other_part, s.cab,
        |    CAST(round(CAST(s.cab AS DOUBLE)
        |      / sqrt(CAST(ca.c * cb.c AS DOUBLE)) * 1000000.0, 0)
        |      AS BIGINT) AS cos6
        |  FROM sym s JOIN pop ca ON ca.p = s.part_id
        |    JOIN pop cb ON cb.p = s.other_part),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY part_id
        |    ORDER BY cos6 DESC, other_part) AS rank
        |  FROM sc)
        |SELECT part_id, CAST(rank AS INT) AS rank, other_part,
        |  cab AS n_co,
        |  CAST(cos6 AS DOUBLE) / 1000000.0 AS cosine
        |FROM rk WHERE rank <= 5
        |ORDER BY part_id, rank""".stripMargin,

    // mirrors Backtest.momentum: last-trade daily closes, one pinned
    // ln per (symbol, day), complete-5 trailing momentum (strictly
    // prior rows), (m DESC, symbol) top-3, truncating integer
    // equal-weight means, exact running-sum equity curve.
    "momentum_backtest" ->
      s"""$tradesCte,
         |dc AS (SELECT symbol, event_date AS d, price AS close FROM (
         |    SELECT *, row_number() OVER (PARTITION BY symbol, event_date
         |      ORDER BY event_time DESC, event_id DESC) AS rn
         |    FROM trades WHERE price > 0)
         |  WHERE rn = 1),
         |lr AS (SELECT symbol, d,
         |    CAST(round(ln(close / prev) * 1000000.0, 0) AS BIGINT)
         |      AS lr6
         |  FROM (SELECT *, lag(close) OVER (PARTITION BY symbol
         |      ORDER BY d) AS prev FROM dc)
         |  WHERE prev IS NOT NULL),
         |mom AS (SELECT * FROM (SELECT *,
         |    sum(lr6) OVER w AS m, count(*) OVER w AS mcnt
         |  FROM lr WINDOW w AS (PARTITION BY symbol ORDER BY d
         |    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
         |  WHERE mcnt = 5),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY d
         |    ORDER BY m DESC, symbol) AS rk FROM mom),
         |daily AS (SELECT d, CAST(count(*) AS BIGINT) AS n_candidates,
         |    CAST(sum(CASE WHEN rk <= 3 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_held,
         |    CAST(sum(CASE WHEN rk <= 3 THEN lr6 ELSE 0 END) AS BIGINT)
         |      AS port_sum6,
         |    CAST(sum(lr6) AS BIGINT) AS bench_sum6
         |  FROM rk GROUP BY d),
         |f AS (SELECT d, n_candidates, n_held,
         |    ${tdiv("port_sum6", "n_held")} AS port6,
         |    ${tdiv("bench_sum6", "n_candidates")} AS bench6
         |  FROM daily)
         |SELECT d, n_candidates, n_held,
         |  ${microD("port6")} AS port_logret,
         |  ${microD("CAST(sum(port6) OVER wc AS BIGINT)")} AS cum_logret,
         |  ${microD("bench6")} AS bench_logret,
         |  ${microD("CAST(sum(bench6) OVER wc AS BIGINT)")} AS cum_bench
         |FROM f
         |WINDOW wc AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
         |  AND CURRENT ROW)
         |ORDER BY d""".stripMargin,

    // mirrors Learn.adaboostStumps: 5 unrolled boosting rounds — each
    // round pins per-row weights as round(exp((logw6-shift6)/1e6)*1e12)
    // over the prior 1-row stump CTEs, aggregates DECIMAL(38,0)
    // weighted errors per grid stump, picks the (e, feat, thr, pol) argmin,
    // pins alpha as round(ln((S-Ec)/Ec)*500000), and reads staged
    // ensemble accuracy on both folds.
    "adaboost_stumps" -> {
      val gridVals = Learn.stumpGrid.map { case (f, t, p) =>
        s"('$f', CAST($t AS BIGINT), CAST($p AS INT))"
      }.mkString(",\n         |    ")
      def hx(src: String) =
        s"(CASE WHEN (CASE WHEN $src.feat = 'n_ev' THEN f.n_ev" +
          s" ELSE f.n_days END) > $src.thr THEN $src.pol" +
          s" ELSE -$src.pol END)"
      def logw(r: Int) =
        if (r == 1) "CAST(0 AS BIGINT)"
        else (1 until r).map { k =>
          s"(CASE WHEN ${hx(s"s$k")} <> f.y THEN s$k.a6 ELSE -s$k.a6 END)"
        }.mkString(" + ")
      def priorJoins(r: Int) =
        (1 until r).map(k => s", s$k").mkString
      def scoreSql(r: Int) =
        (1 to r).map(k => s"${hx(s"s$k")} * s$k.a6").mkString(" + ")
      val roundsSql = (1 to 5).map { r =>
        s""",
           |lw$r AS (SELECT f.*, (${logw(r)}) AS lw
           |  FROM f${priorJoins(r)} WHERE NOT f.tst),
           |sh$r AS (SELECT max(lw) AS m FROM lw$r),
           |w$r AS (SELECT lw$r.*,
           |    CAST(round(exp(CAST(lw - m AS DOUBLE) / 1000000.0)
           |      * 1000000000000.0, 0) AS BIGINT) AS w
           |  FROM lw$r, sh$r),
           |e$r AS (SELECT g.feat, g.thr, g.pol,
           |    sum(CAST(CASE WHEN (CASE WHEN (CASE WHEN g.feat = 'n_ev'
           |      THEN w.n_ev ELSE w.n_days END) > g.thr THEN g.pol
           |      ELSE -g.pol END) <> w.y THEN w.w ELSE 0 END
           |      AS DECIMAL(38,0))) AS e,
           |    sum(CAST(w.w AS DECIMAL(38,0))) AS s
           |  FROM w$r w CROSS JOIN grid g
           |  GROUP BY g.feat, g.thr, g.pol),
           |sp$r AS (SELECT *, (CASE WHEN e < 1 THEN 1
           |      WHEN e > s - 1 THEN s - 1 ELSE e END) AS ec
           |    FROM e$r ORDER BY e, feat, thr, pol LIMIT 1),
           |${wdivStages(s"sq$r", s"sp$r", Seq(
                WDiv("e * 1000000", "s", "epsm", 7, 20)))},
           |s$r AS (SELECT feat, thr, pol, e, s, epsm,
           |    CAST(round(ln(CAST(s - ec AS DOUBLE) / CAST(ec AS DOUBLE))
           |      * 500000.0, 0) AS BIGINT) AS a6
           |  FROM sq$r),
           |acc$r AS (SELECT f.tst,
           |    CAST(sum(CASE WHEN ((${scoreSql(r)}) > 0) = (f.y > 0)
           |      THEN 1 ELSE 0 END) AS BIGINT) AS c,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM f${priorJoins(r + 1)} GROUP BY f.tst),
           |o$r AS (SELECT CAST($r AS INT) AS round_no,
           |    s$r.feat AS feature, s$r.thr AS threshold,
           |    s$r.pol AS polarity,
           |    ${microD(s"s$r.a6")} AS alpha,
           |    ${microD(s"CAST(s$r.epsm AS BIGINT)")} AS weighted_err,
           |    (SELECT ${microD("(c * 1000000) // n")}
           |     FROM acc$r WHERE NOT tst) AS train_acc,
           |    (SELECT ${microD("(c * 1000000) // n")}
           |     FROM acc$r WHERE tst) AS test_acc
           |  FROM s$r)""".stripMargin
      }.mkString
      s"""WITH f AS (SELECT
         |    CAST(sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0
         |      END) AS BIGINT) AS n_ev,
         |    CAST(count(DISTINCT CASE WHEN event_type <> 'purchase'
         |      THEN CAST(ts AS DATE) END) AS BIGINT) AS n_days,
         |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1
         |      ELSE 0 END) > 13 THEN 1 ELSE -1 END AS y,
         |    (${h60("'eval_' || user_id")} % 100) >= 80 AS tst
         |  FROM events GROUP BY user_id),
         |grid AS (SELECT * FROM (VALUES
         |    $gridVals) AS g(feat, thr, pol))$roundsSql
         |SELECT * FROM o1 UNION ALL SELECT * FROM o2
         |UNION ALL SELECT * FROM o3 UNION ALL SELECT * FROM o4
         |UNION ALL SELECT * FROM o5
         |ORDER BY round_no""".stripMargin
    },

    // mirrors TextAnalysis.textrankChunks: 10-token chunk nodes,
    // shared-distinct-token edge weights, 6 unrolled weighted-PageRank
    // stages with the knn_pagerank decimal discipline (per-edge
    // contributions rounded 12 summed exactly, isolated chunks kept
    // at teleport mass via LEFT JOIN), top-3 per doc.
    "textrank_chunks" -> {
      val iters = (1 to 6).map { i =>
        s""",
           |c$i AS (SELECT e.doc_id, e.dst AS chunk_no,
           |    CAST(sum(CAST(round(CAST(r${i - 1}.r AS DOUBLE)
           |      * CAST(e.w AS DOUBLE) / CAST(wd.wdeg AS DOUBLE)
           |      * 1000000000000.0, 0) AS BIGINT)
           |      * CAST(0.000000000001 AS DECIMAL(13,12)))
           |      AS DECIMAL(38,12)) AS sc
           |  FROM e JOIN r${i - 1} ON r${i - 1}.doc_id = e.doc_id
           |    AND r${i - 1}.chunk_no = e.src
           |  JOIN wd ON wd.doc_id = e.doc_id AND wd.src = e.src
           |  GROUP BY e.doc_id, e.dst),
           |r$i AS (SELECT ch.doc_id, ch.chunk_no,
           |    CAST(CAST(round((0.15e0 / CAST(nd.n AS DOUBLE)
           |      + 0.85e0 * CAST(coalesce(c$i.sc,
           |          CAST(0 AS DECIMAL(38,12))) AS DOUBLE))
           |      * 1000000000000.0, 0) AS BIGINT)
           |      * CAST(0.000000000001 AS DECIMAL(13,12))
           |      AS DECIMAL(28,12)) AS r
           |  FROM ch JOIN nd USING (doc_id)
           |  LEFT JOIN c$i ON c$i.doc_id = ch.doc_id
           |    AND c$i.chunk_no = ch.chunk_no)""".stripMargin
      }.mkString
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents),
         |ct AS (SELECT DISTINCT doc_id,
         |    CAST((CASE WHEN (g.i - 1) < 0 THEN -((-(g.i - 1)) // (10)) ELSE (g.i - 1) // (10) END) AS INT) AS chunk_no, toks[g.i] AS t
         |  FROM t, unnest(generate_series(1, len(toks))) AS g(i)),
         |ch AS (SELECT DISTINCT doc_id, chunk_no FROM ct),
         |nd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ch
         |  GROUP BY doc_id),
         |pr AS (SELECT a.doc_id, a.chunk_no AS ca, b.chunk_no AS cb,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM ct a JOIN ct b ON a.doc_id = b.doc_id AND a.t = b.t
         |    AND a.chunk_no < b.chunk_no
         |  GROUP BY a.doc_id, a.chunk_no, b.chunk_no),
         |e AS (SELECT doc_id, ca AS src, cb AS dst, w FROM pr
         |      UNION ALL SELECT doc_id, cb, ca, w FROM pr),
         |wd AS (SELECT doc_id, src, sum(w) AS wdeg FROM e
         |  GROUP BY doc_id, src),
         |r0 AS (SELECT ch.doc_id, ch.chunk_no,
         |    CAST(CAST(round(1.0e0 / CAST(nd.n AS DOUBLE)
         |      * 1000000000000.0, 0) AS BIGINT)
         |      * CAST(0.000000000001 AS DECIMAL(13,12))
         |      AS DECIMAL(28,12)) AS r
         |  FROM ch JOIN nd USING (doc_id))$iters,
         |rk AS (SELECT doc_id, chunk_no, r,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY r DESC, chunk_no) AS rank
         |  FROM r6)
         |SELECT rk.doc_id, CAST(rank AS INT) AS rank, rk.chunk_no,
         |  CAST(r AS DOUBLE) AS score, nd.n AS n_chunks
         |FROM rk JOIN nd USING (doc_id) WHERE rank <= 3
         |ORDER BY rk.doc_id, rank""".stripMargin
    },

    // mirrors Learn.nbLangConfusion: 80/20 salted doc fold, per-lang
    // Laplace token models with ln pinned at round(ln*1e6, 0) per
    // (token, lang), exact integer log-posteriors, (score DESC, lang)
    // argmax, confusion counts.
    "nb_lang_confusion" ->
      s"""WITH d0 AS (SELECT doc_id, lang, text,
         |    (${h60("'nb_' || doc_id")} % 100) < 80 AS trn
         |  FROM documents),
         |k AS (SELECT doc_id, lang, trn,
         |    unnest(string_split(text, ' ')) AS t
         |  FROM d0),
         |tc AS (SELECT lang, t, count(*) AS c FROM k WHERE trn
         |  GROUP BY lang, t),
         |tl AS (SELECT lang, CAST(sum(c) AS DOUBLE) AS tcount FROM tc
         |  GROUP BY lang),
         |vv AS (SELECT CAST(count(DISTINCT t) AS DOUBLE) AS v FROM tc),
         |pr AS (SELECT lang, count(*) AS nd FROM d0 WHERE trn
         |  GROUP BY lang),
         |nt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d0 WHERE trn),
         |langs AS (SELECT tl.lang,
         |    CAST(round(ln(1.0 / (tcount + v)) * 1000000.0, 0)
         |      AS BIGINT) AS lp0,
         |    CAST(round(ln(CAST(nd AS DOUBLE) / n) * 1000000.0, 0)
         |      AS BIGINT) AS prior6
         |  FROM tl JOIN pr USING (lang), vv, nt),
         |m AS (SELECT tc.lang, tc.t,
         |    CAST(round(ln((CAST(c AS DOUBLE) + 1.0) / (tcount + v))
         |      * 1000000.0, 0) AS BIGINT) AS lp6
         |  FROM tc JOIN tl USING (lang), vv),
         |s AS (SELECT k.doc_id, langs.lang,
         |    langs.prior6 + sum(coalesce(m.lp6, langs.lp0)) AS score
         |  FROM k CROSS JOIN langs
         |    LEFT JOIN m ON m.t = k.t AND m.lang = langs.lang
         |  WHERE NOT k.trn
         |  GROUP BY k.doc_id, langs.lang, langs.prior6),
         |p AS (SELECT doc_id, lang AS pred_lang,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, lang) AS rn
         |  FROM s)
         |SELECT d0.lang, p.pred_lang,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM p JOIN d0 USING (doc_id) WHERE rn = 1
         |GROUP BY d0.lang, p.pred_lang
         |ORDER BY d0.lang, p.pred_lang""".stripMargin,

    // mirrors Learn.rocAuc: the shared logit chain trained on the
    // NOT-tst fold, test rows grouped by the 1e-9-grid sigma, exact
    // integer 2U rank sum + KS numerator over score-cumulative
    // windows, truncated micro-unit outputs (// toward zero).
    "roc_auc" ->
      s"""${logitChainCte("trainf")},
         |sf AS (SELECT f.y, ${logitSguSql("w")} AS sgu
         |       FROM testf f, w8t w),
         |bs AS (SELECT sgu, CAST(sum(y) AS BIGINT) AS pos,
         |         CAST(count(*) - sum(y) AS BIGINT) AS neg
         |       FROM sf GROUP BY sgu),
         |tot AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
         |          CAST(sum(neg) AS BIGINT) AS nn
         |        FROM bs),
         |cum AS (SELECT pos, neg,
         |    coalesce(sum(neg) OVER (ORDER BY sgu ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND 1 PRECEDING), 0) AS cneg,
         |    sum(pos) OVER (ORDER BY sgu ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND CURRENT ROW) AS cpos,
         |    sum(neg) OVER (ORDER BY sgu ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND CURRENT ROW) AS cnegi
         |  FROM bs),
         |r AS (SELECT
         |    sum(CAST(pos * (2 * cneg + neg) AS DECIMAL(38,0))) AS u2,
         |    CAST(max(abs(cpos * tot.nn - cnegi * tot.p)) AS BIGINT)
         |      AS ksnum
         |  FROM cum, tot GROUP BY tot.p, tot.nn),
         |rj AS (SELECT r.u2, r.ksnum, tot.p, tot.nn,
         |    CAST(p AS DECIMAL(12,0)) * nn AS pn FROM r, tot),
         |${wdivStages("rf", "rj", Seq(
              WDiv("u2 * 1000000", "pn + pn", "auc6", 8, 26),
              WDiv("(u2 - CAST(p AS DECIMAL(12,0)) * nn) * 1000000",
                   "pn", "gini6", 8, 26),
              WDiv("CAST(ksnum AS DECIMAL(20,0)) * 1000000", "pn",
                   "ks6", 8, 26)))}
         |SELECT CAST(p + nn AS BIGINT) AS n_test,
         |  CAST(p AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
         |  ${microD("auc6")} AS auc,
         |  ${microD("gini6")} AS gini,
         |  ${microD("ks6")} AS ks
         |FROM rf""".stripMargin,

    // mirrors Learn.calibrationBins: sigma-decile bins from the nano
    // integer (sgu // 1e8 — non-negative, forced), nano-unit integer
    // score sums with non-negative // for the two micro rates, and
    // the Brier sum as an exact 1e-18-unit integer truncated to
    // micro precision at the output (ints + doubles only).
    "calibration_bins" ->
      s"""${logitChainCte("trainf")},
         |sf AS (SELECT f.y, ${logitSguSql("w")} AS sgu
         |       FROM testf f, w8t w),
         |b AS (SELECT CAST(sgu // 100000000 AS INT) AS bin, sgu,
         |        (sgu - y * 1000000000) AS d9, y
         |      FROM sf),
         |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |        CAST(sum(y) AS BIGINT) AS n_pos,
         |        sum(CAST(sgu AS DECIMAL(38,0))) AS snano,
         |        sum(CAST(d9 * d9 AS DECIMAL(38,0))) AS s18
         |      FROM b GROUP BY bin),
         |${wdivStages("gq", "g", Seq(
              WDiv("snano", "n * 1000", "mp6", 8, 16),
              WDiv("s18", "1000000000000", "bs6", 15, 13)))}
         |SELECT bin, n, n_pos,
         |  ${microD("mp6")} AS mean_pred,
         |  ${microD("(n_pos * 1000000) // n")} AS obs_rate,
         |  ${microD("bs6")} AS brier_sum
         |FROM gq ORDER BY bin""".stripMargin,

    // mirrors Sessions.attributionMarkov: journeys truncated at the
    // first conversion, per-rm transition replicas with entry
    // redirection, 12 unrolled value-iteration stages with the
    // PageRank decimal discipline, micro-scaled integer shares.
    "attribution_markov" -> {
      val iters = (1 to 12).map { i =>
        s""",
           |v$i AS (SELECT rm, state, v FROM v0
           |        UNION ALL
           |        SELECT tr2.rm, tr2.f AS state,
           |          CAST(sum(CAST(round(CAST(tr2.p AS DOUBLE)
           |            * CAST(v${i - 1}.v AS DOUBLE) * 1.0e12, 0) / 1.0e12
           |            AS DECIMAL(28,12))) AS DECIMAL(28,12)) AS v
           |        FROM tr2 JOIN v${i - 1}
           |          ON v${i - 1}.rm = tr2.rm AND v${i - 1}.state = tr2.t
           |        GROUP BY tr2.rm, tr2.f)""".stripMargin
      }.mkString
      s"""WITH u AS (SELECT user_id,
         |        min(CASE WHEN event_type = 'purchase' THEN ts END)
         |          AS conv_ts
         |      FROM events GROUP BY user_id),
         |b AS (SELECT e.user_id, 1 AS phase, epoch_us(e.ts) AS uu,
         |        e.event_id AS eid, e.event_type AS state
         |      FROM events e JOIN u USING (user_id)
         |      WHERE e.event_type <> 'purchase'
         |        AND (u.conv_ts IS NULL OR e.ts < u.conv_ts)),
         |sq AS (SELECT * FROM b
         |       UNION ALL SELECT user_id, 0, 0, 0, 'start' FROM u
         |       UNION ALL SELECT user_id, 2, 0, 0,
         |         CASE WHEN conv_ts IS NOT NULL THEN 'conv'
         |              ELSE 'null' END
         |       FROM u),
         |tt AS (SELECT state AS f, lead(state) OVER (PARTITION BY user_id
         |         ORDER BY phase, uu, eid) AS t
         |       FROM sq),
         |tc AS (SELECT f, t, count(*) AS n FROM tt WHERE t IS NOT NULL
         |       GROUP BY f, t),
         |oc AS (SELECT f, sum(n) AS o FROM tc GROUP BY f),
         |tp AS (SELECT tc.f, tc.t,
         |         CAST(round(CAST(n AS DOUBLE) / CAST(o AS DOUBLE)
         |             * 1.0e12, 0) / 1.0e12
         |           AS DECIMAL(16,12)) AS p
         |       FROM tc JOIN oc USING (f)),
         |rms AS (SELECT DISTINCT state AS rm FROM b
         |        UNION ALL SELECT '__none__'),
         |tr2 AS (SELECT r.rm, tp.f,
         |          CASE WHEN tp.t = r.rm THEN 'null' ELSE tp.t END AS t,
         |          tp.p
         |        FROM tp, rms r WHERE tp.f <> r.rm),
         |v0 AS (SELECT rm, 'conv' AS state,
         |         CAST(1 AS DECIMAL(28,12)) AS v FROM rms
         |       UNION ALL
         |       SELECT rm, 'null', CAST(0 AS DECIMAL(28,12)) FROM rms)$iters,
         |vs AS (SELECT rm, v FROM v12 WHERE state = 'start'),
         |p0 AS (SELECT v AS pv FROM vs WHERE rm = '__none__'),
         |ef AS (SELECT rm AS channel,
         |         round(CAST(p0.pv AS DOUBLE) * 1.0e6, 0) / 1.0e6
         |           AS p_conv_base,
         |         round(CAST(vs.v AS DOUBLE) * 1.0e6, 0) / 1.0e6
         |           AS p_conv_removed,
         |         CASE WHEN CAST(p0.pv AS DOUBLE) > 0 THEN
         |           round((CAST(p0.pv AS DOUBLE) - CAST(vs.v AS DOUBLE))
         |             / CAST(p0.pv AS DOUBLE) * 1.0e6, 0) / 1.0e6
         |           END AS removal_effect
         |       FROM vs, p0 WHERE rm <> '__none__'),
         |em AS (SELECT *, CASE WHEN removal_effect > 0
         |           THEN CAST(round(removal_effect * 1e6, 0) AS BIGINT)
         |           ELSE 0 END AS re_micro
         |       FROM ef),
         |tot AS (SELECT CAST(sum(re_micro) AS BIGINT) AS te FROM em)
         |SELECT channel, p_conv_base, p_conv_removed, removal_effect,
         |  CASE WHEN te > 0 AND re_micro > 0 THEN
         |    round(CAST(re_micro AS DOUBLE) / CAST(te AS DOUBLE)
         |      * 1.0e6, 0) / 1.0e6 END
         |    AS share
         |FROM em, tot ORDER BY channel""".stripMargin
    },

    // mirrors Sessions.burstiness: exact µs gap sums (Σg long,
    // Σg² decimal), the CUSUM double shape for μ/σ rounded 6, CV and
    // B dividing the ROUNDED values; variance guard nulls NaN sqrt.
    "event_burstiness" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS u
        |       FROM events),
        |gp AS (SELECT event_type,
        |         u - lag(u) OVER (PARTITION BY event_type
        |           ORDER BY u, event_id) AS g
        |       FROM e),
        |g2 AS (SELECT event_type, g FROM gp WHERE g IS NOT NULL),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |         CAST(sum(g) AS BIGINT) AS s,
        |         sum(CAST(g AS DECIMAL(19,0)) * CAST(g AS DECIMAL(19,0)))
        |           AS s2
        |       FROM g2 GROUP BY event_type),
        |mv AS (SELECT event_type, n_gaps,
        |         round(CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)
        |             * 1.0e6, 0) / 1.0e6
        |           AS mean_gap_us,
        |         CASE WHEN CAST(s2 AS DOUBLE) / CAST(n_gaps AS DOUBLE)
        |             - (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
        |               * (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)) >= 0
        |           THEN round(sqrt(CAST(s2 AS DOUBLE)
        |               / CAST(n_gaps AS DOUBLE)
        |             - (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
        |               * (CAST(s AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
        |             * 1.0e6, 0) / 1.0e6
        |         END AS sigma_gap_us
        |       FROM st)
        |SELECT event_type, n_gaps, mean_gap_us, sigma_gap_us,
        |  CASE WHEN sigma_gap_us IS NOT NULL AND mean_gap_us > 0
        |    THEN round(sigma_gap_us / mean_gap_us * 1.0e6, 0) / 1.0e6
        |    END AS cv,
        |  CASE WHEN sigma_gap_us IS NOT NULL
        |      AND sigma_gap_us + mean_gap_us > 0
        |    THEN round((sigma_gap_us - mean_gap_us)
        |      / (sigma_gap_us + mean_gap_us) * 1.0e6, 0) / 1.0e6
        |    END AS burstiness
        |FROM mv ORDER BY event_type""".stripMargin,

    // mirrors DataQuality.psiDrift (10 bins, day<=15 split): Laplace-
    // smoothed shares over the full (type, bin) grid, 12-decimal
    // rounded terms summed as DECIMAL.
    "value_drift_psi" ->
      """WITH base AS (SELECT event_type, value,
        |    CASE WHEN date_part('day', CAST(ts AS TIMESTAMP)) <= 15
        |      THEN 'ref' ELSE 'cur' END AS side
        |  FROM events),
        |b AS (SELECT min(value) AS vmin, max(value) AS vmax FROM base),
        |binned AS (SELECT event_type, side,
        |    CAST(least(9, floor((value - vmin) * 10 / (vmax - vmin))) AS BIGINT) AS bin
        |  FROM base, b),
        |counts AS (SELECT event_type, side, bin, count(*) AS cnt
        |  FROM binned GROUP BY event_type, side, bin),
        |totals AS (SELECT event_type, side, count(*) AS n
        |  FROM base GROUP BY event_type, side),
        |grid AS (SELECT DISTINCT event_type, g.b AS bin
        |  FROM base, generate_series(0, 9) AS g(b)),
        |rf AS (SELECT g.event_type, g.bin, t.n AS n_ref,
        |    CAST(coalesce(c.cnt, 0) + 1 AS DOUBLE) / CAST(t.n + 10 AS DOUBLE) AS p_ref
        |  FROM grid g
        |  JOIN totals t ON t.event_type = g.event_type AND t.side = 'ref'
        |  LEFT JOIN counts c ON c.event_type = g.event_type
        |    AND c.bin = g.bin AND c.side = 'ref'),
        |cu AS (SELECT g.event_type, g.bin, t.n AS n_cur,
        |    CAST(coalesce(c.cnt, 0) + 1 AS DOUBLE) / CAST(t.n + 10 AS DOUBLE) AS p_cur
        |  FROM grid g
        |  JOIN totals t ON t.event_type = g.event_type AND t.side = 'cur'
        |  LEFT JOIN counts c ON c.event_type = g.event_type
        |    AND c.bin = g.bin AND c.side = 'cur'),
        |terms AS (SELECT r.event_type, r.n_ref, cu.n_cur,
        |    CAST(round((p_cur - p_ref) * ln(p_cur / p_ref) * 1.0e12, 0) AS BIGINT) AS term_u
        |  FROM rf r JOIN cu ON cu.event_type = r.event_type AND cu.bin = r.bin)
        |SELECT event_type, max(n_ref) AS n_ref, max(n_cur) AS n_cur,
        |  round(CAST(sum(term_u) AS DOUBLE) / 1.0e12 * 1.0e6, 0) / 1.0e6 AS psi
        |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin,

    // mirrors Similarity.knnTriangles: ordered edge-iterator wedge
    // close over the same LSH edge list.
    // mirrors Similarity.knnKcore (k=3, 4 unrolled synchronous peel
    // rounds — idempotent once the fixed point is reached). Every
    // round CTE is MATERIALIZED: each is referenced twice, and DuckDB
    // 1.0 inlines by default — 4 rounds of double inlining would
    // otherwise copy the LSH chain 2^4 times.
    "knn_kcore" -> {
      val rounds = 4
      val peels = (1 to rounds).map { i =>
        val prev = if (i == 1) "nodes" else s"s${i - 1}"
        s""",
           |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM sym e
           |  JOIN $prev a ON a.id = e.src JOIN $prev b ON b.id = e.dst),
           |s$i AS MATERIALIZED (SELECT src AS id FROM e$i GROUP BY src
           |        HAVING count(*) >= 3)""".stripMargin
      }.mkString
      s"""$embLshPairsCte,
         |ep AS (SELECT id1, id2 FROM p WHERE cosine >= 0.45),
         |sym AS MATERIALIZED (SELECT id1 AS src, id2 AS dst FROM ep
         |        UNION ALL SELECT id2, id1 FROM ep),
         |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym)$peels,
         |ce AS (SELECT e.src, e.dst FROM sym e
         |  JOIN s$rounds a ON a.id = e.src JOIN s$rounds b ON b.id = e.dst),
         |cd AS (SELECT src AS id, count(*) AS core_deg FROM ce GROUP BY src)
         |SELECT n.id AS vec_id, coalesce(cd.core_deg, 0) AS core_deg,
         |  cd.core_deg IS NOT NULL AS in_kcore
         |FROM nodes n LEFT JOIN cd ON cd.id = n.id
         |ORDER BY vec_id""".stripMargin
    },

    "knn_triangles" ->
      s"""$embLshPairsCte,
         |ep AS (SELECT id1, id2 FROM p WHERE cosine >= 0.45),
         |dg AS (SELECT id, count(*) AS deg FROM (
         |    SELECT id1 AS id FROM ep UNION ALL SELECT id2 FROM ep)
         |  GROUP BY id),
         |wed AS (SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
         |  FROM ep e1 JOIN ep e2 ON e2.id1 = e1.id2),
         |tri AS (SELECT a, b, c FROM wed
         |  JOIN ep e3 ON e3.id1 = wed.a AND e3.id2 = wed.c),
         |pn AS (SELECT id, count(*) AS n_triangles FROM (
         |    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri)
         |  GROUP BY id)
         |SELECT dg.id AS vec_id, deg,
         |  coalesce(n_triangles, 0) AS n_triangles,
         |  CASE WHEN deg >= 2 THEN
         |    ${safe6("""2.0 * CAST(coalesce(n_triangles, 0) AS DOUBLE)
         |      / CAST(deg * (deg - 1) AS DOUBLE)""")}
         |  ELSE 0.0 END AS clustering
         |FROM dg LEFT JOIN pn ON pn.id = dg.id ORDER BY vec_id""".stripMargin,

    // mirrors Sketches.quantileHistogram (256 bins, q 0.5/0.9/0.99):
    // left-edge estimate at the first bin whose cumulative count
    // reaches ceil(q*n), graded against quantile_disc.
    "sketch_quantile_hist" ->
      s"""$tradesCte,
         |base AS (SELECT symbol AS g, price AS v FROM trades),
         |b AS (SELECT min(v) AS vmin, max(v) AS vmax FROM base),
         |bi AS (SELECT g, v,
         |    CASE WHEN vmax = vmin THEN 0
         |      ELSE CAST(least(255, floor((v - vmin) * 256 / (vmax - vmin))) AS BIGINT)
         |    END AS bin,
         |    vmin, vmax
         |  FROM base, b),
         |counts AS (SELECT g, bin, count(*) AS cnt,
         |    max(vmin) AS vmin, max(vmax) AS vmax
         |  FROM bi GROUP BY g, bin),
         |cum AS (SELECT *,
         |    sum(cnt) OVER (PARTITION BY g ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(cnt) OVER (PARTITION BY g) AS n
         |  FROM counts),
         |est AS (SELECT g,
         |    min(CASE WHEN cum >= ceil(n * 0.5) THEN round((vmin + CAST(bin AS DOUBLE) * (vmax - vmin) / 256) * 1.0e6, 0) / 1.0e6 END) AS p50_est,
         |    min(CASE WHEN cum >= ceil(n * 0.9) THEN round((vmin + CAST(bin AS DOUBLE) * (vmax - vmin) / 256) * 1.0e6, 0) / 1.0e6 END) AS p90_est,
         |    min(CASE WHEN cum >= ceil(n * 0.99) THEN round((vmin + CAST(bin AS DOUBLE) * (vmax - vmin) / 256) * 1.0e6, 0) / 1.0e6 END) AS p99_est
         |  FROM cum GROUP BY g),
         |ex AS (SELECT g,
         |    quantile_disc(v, 0.5) AS p50_exact,
         |    quantile_disc(v, 0.9) AS p90_exact,
         |    quantile_disc(v, 0.99) AS p99_exact
         |  FROM base GROUP BY g)
         |SELECT g AS symbol,
         |  p50_exact, p50_est, p90_exact, p90_est, p99_exact, p99_est,
         |  round(abs(p50_est - p50_exact) * 1.0e6, 0) / 1.0e6 AS p50_abs_err,
         |  round(abs(p90_est - p90_exact) * 1.0e6, 0) / 1.0e6 AS p90_abs_err,
         |  round(abs(p99_est - p99_exact) * 1.0e6, 0) / 1.0e6 AS p99_abs_err
         |FROM ex JOIN est USING (g) ORDER BY symbol""".stripMargin,

    // mirrors Privacy.kAnonymityAudit over (type, day, value-decade):
    // one group-size histogram, three threshold rows.
    "k_anonymity_audit" ->
      """WITH g AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
        |    floor(value / 10) AS vb, count(*) AS cnt
        |  FROM events GROUP BY event_type, d, vb),
        |s AS (SELECT count(*) AS n_groups, CAST(sum(cnt) AS BIGINT) AS n_rows,
        |    CAST(min(cnt) AS BIGINT) AS min_group FROM g),
        |t AS (
        |  SELECT 2 AS k_threshold,
        |    CAST(sum(CASE WHEN cnt < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below,
        |    CAST(sum(CASE WHEN cnt < 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_rows_below
        |  FROM g
        |  UNION ALL SELECT 5,
        |    CAST(sum(CASE WHEN cnt < 5 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN cnt < 5 THEN cnt ELSE 0 END) AS BIGINT)
        |  FROM g
        |  UNION ALL SELECT 10,
        |    CAST(sum(CASE WHEN cnt < 10 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(sum(CASE WHEN cnt < 10 THEN cnt ELSE 0 END) AS BIGINT)
        |  FROM g)
        |SELECT k_threshold, n_groups_below, n_rows_below,
        |  n_groups, n_rows, min_group
        |FROM t, s ORDER BY k_threshold""".stripMargin,

    // mirrors Privacy.dpCountRelease (eps=1, salt 'dp_'): seeded
    // inverse-CDF Laplace noise, clamp at 0, true count + error kept
    // for the audit.
    "dp_user_counts" ->
      s"""WITH c AS (SELECT event_type,
         |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n_true
         |  FROM events GROUP BY event_type, day),
         |h AS (SELECT *, ${h60("'dp_' || event_type || '|' || CAST(day AS VARCHAR) || '|'")} AS hv
         |  FROM c),
         |u AS (SELECT *, (CAST(hv AS DOUBLE) + 0.5) / 1152921504606846976.0 AS uu
         |  FROM h),
         |n AS (SELECT *, round(-1.0 *
         |    (CASE WHEN uu - 0.5 < 0 THEN -1.0 ELSE 1.0 END)
         |    * ln(1.0 - 2.0 * abs(uu - 0.5)) * 1.0e6, 0) / 1.0e6 AS noise
         |  FROM u)
         |SELECT event_type, day, n_true,
         |  greatest(0.0, round((n_true + noise) * 1.0e4, 0) / 1.0e4) AS n_released,
         |  round(abs(noise) * 1.0e6, 0) / 1.0e6 AS abs_err
         |FROM n ORDER BY event_type, day""".stripMargin,

    // mirrors psiVsBaseline ∘ referenceHistogram: bounds frozen from
    // the reference half, current values clamped into edge bins.
    "value_drift_incremental" ->
      """WITH ref AS (SELECT event_type, value FROM events
        |  WHERE date_part('day', CAST(ts AS TIMESTAMP)) <= 15),
        |cur AS (SELECT event_type, value FROM events
        |  WHERE date_part('day', CAST(ts AS TIMESTAMP)) > 15),
        |b AS (SELECT min(value) AS vmin, max(value) AS vmax FROM ref),
        |rc AS (SELECT event_type,
        |    CAST(least(9, greatest(0, floor((value - vmin) * 10 / (vmax - vmin)))) AS BIGINT) AS bin,
        |    count(*) AS cnt
        |  FROM ref, b GROUP BY event_type, bin),
        |cc AS (SELECT event_type,
        |    CAST(least(9, greatest(0, floor((value - vmin) * 10 / (vmax - vmin)))) AS BIGINT) AS bin,
        |    count(*) AS cnt
        |  FROM cur, b GROUP BY event_type, bin),
        |grid AS (SELECT DISTINCT rc.event_type, g.b AS bin
        |  FROM rc, generate_series(0, 9) AS g(b)),
        |rt AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM rc GROUP BY event_type),
        |ct AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM cc GROUP BY event_type),
        |rf AS (SELECT g.event_type, g.bin, t.n AS n_ref,
        |    CAST(coalesce(c.cnt, 0) + 1 AS DOUBLE) / CAST(t.n + 10 AS DOUBLE) AS p_ref
        |  FROM grid g JOIN rt t ON t.event_type = g.event_type
        |  LEFT JOIN rc c ON c.event_type = g.event_type AND c.bin = g.bin),
        |cu AS (SELECT g.event_type, g.bin, t.n AS n_cur,
        |    CAST(coalesce(c.cnt, 0) + 1 AS DOUBLE) / CAST(t.n + 10 AS DOUBLE) AS p_cur
        |  FROM grid g JOIN ct t ON t.event_type = g.event_type
        |  LEFT JOIN cc c ON c.event_type = g.event_type AND c.bin = g.bin),
        |terms AS (SELECT r.event_type, r.n_ref, cu.n_cur,
        |    CAST(round((p_cur - p_ref) * ln(p_cur / p_ref) * 1.0e12, 0) AS BIGINT) AS term_u
        |  FROM rf r JOIN cu ON cu.event_type = r.event_type AND cu.bin = r.bin)
        |SELECT event_type, max(n_ref) AS n_ref, max(n_cur) AS n_cur,
        |  round(CAST(sum(term_u) AS DOUBLE) / 1.0e12 * 1.0e6, 0) / 1.0e6 AS psi
        |FROM terms GROUP BY event_type ORDER BY event_type""".stripMargin,

    // mirrors Analytics.acf (lags 1..5 over minute bars): same decimal
    // log returns, post-filter row_number pairing, exact product sums.
    "symbol_acf" ->
      s"""$barsCte,
         |pr AS (SELECT symbol, bar_start, close,
         |    lag(close) OVER (PARTITION BY symbol ORDER BY bar_start) AS prev
         |  FROM bars),
         |ri AS (SELECT symbol,
         |    CAST(round(ln(close / prev) * 1.0e6, 0) / 1.0e6 AS DECIMAL(18,6)) AS x,
         |    row_number() OVER (PARTITION BY symbol ORDER BY bar_start) AS idx
         |  FROM pr WHERE prev IS NOT NULL AND prev > 0 AND close > 0),
         |p AS (SELECT a.symbol, g.l AS lag, a.x AS x, b.x AS y
         |      FROM ri a
         |      CROSS JOIN generate_series(1, 5) AS g(l)
         |      JOIN ri b ON b.symbol = a.symbol AND b.idx = a.idx + g.l),
         |ag AS (SELECT symbol, lag, count(*) AS n_pairs,
         |    sum(x) AS sx, sum(y) AS sy,
         |    sum(CAST(x * y AS DECIMAL(38,12))) AS sxy,
         |    sum(CAST(x * x AS DECIMAL(38,12))) AS sxx,
         |    sum(CAST(y * y AS DECIMAL(38,12))) AS syy
         |  FROM p GROUP BY symbol, lag)
         |SELECT symbol, CAST(lag AS INT) AS lag, n_pairs,
         |  CASE WHEN (n_pairs * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
         |        AND (n_pairs * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
         |    THEN round((n_pairs * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |      / (sqrt(n_pairs * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |        * sqrt(n_pairs * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         |      * 1.0e6, 0) / 1.0e6
         |  END AS acf
         |FROM ag ORDER BY symbol, lag""".stripMargin,

    // mirrors Analytics.levelShift (w=12 over hourly bars): identical
    // ROWS frames, 6-decimal DECIMAL sums, pooled-variance z.
    "symbol_level_shift" -> {
      val hourBars = barsCte.replace("INTERVAL 1 MINUTE", "INTERVAL 1 HOUR")
      s"""$hourBars,
         |b2 AS (SELECT symbol, bar_start, close,
         |    count(*) OVER wr AS n_r, count(*) OVER wp AS n_p,
         |    sum(CAST(round(close, 6) AS DECIMAL(28,6))) OVER wr AS s_r,
         |    sum(CAST(round(close, 6) AS DECIMAL(28,6))) OVER wp AS s_p,
         |    sum(CAST(round(close, 6) AS DECIMAL(28,6))) OVER wa AS s_all,
         |    sum(CAST(round(close * close, 6) AS DECIMAL(28,6))) OVER wa AS s2_all
         |  FROM bars
         |  WINDOW
         |    wr AS (PARTITION BY symbol ORDER BY bar_start ROWS BETWEEN 11 PRECEDING AND CURRENT ROW),
         |    wp AS (PARTITION BY symbol ORDER BY bar_start ROWS BETWEEN 23 PRECEDING AND 12 PRECEDING),
         |    wa AS (PARTITION BY symbol ORDER BY bar_start ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
         |b3 AS (SELECT symbol, bar_start,
         |    round(CAST(s_p AS DOUBLE) / 12 * 1.0e6, 0) / 1.0e6 AS mean_prev,
         |    round(CAST(s_r AS DOUBLE) / 12 * 1.0e6, 0) / 1.0e6
         |      AS mean_recent,
         |    CAST(s2_all AS DOUBLE) / 24
         |      - (CAST(s_all AS DOUBLE) / 24) * (CAST(s_all AS DOUBLE) / 24) AS var_all
         |  FROM b2 WHERE n_r = 12 AND n_p = 12),
         |b4 AS (SELECT symbol, bar_start, mean_prev, mean_recent,
         |    CASE WHEN var_all > 0
         |      THEN round((mean_recent - mean_prev) / sqrt(var_all * (2.0 / 12))
         |        * 1.0e6, 0) / 1.0e6
         |    END AS shift_z
         |  FROM b3)
         |SELECT symbol, bar_start, mean_prev, mean_recent, shift_z,
         |  abs(coalesce(shift_z, 0.0)) > 4.0 AS shifted
         |FROM b4 ORDER BY symbol, bar_start""".stripMargin
    },

    // mirrors Sketches.cmsTopK (d=4, w=64): same salted seeded
    // positions, min-over-rows estimate, sketch-side heavy cut.
    "sketch_cms_topk" ->
      s"""WITH ht AS (SELECT user_id AS k,
         |    ${h60("'cms_' || CAST(user_id AS VARCHAR)")} AS h FROM events),
         |counters AS (SELECT g.r,
         |    ((h % 2147483647) * (2 * g.r + 1) + 7919 * (g.r + 1)) % 2147483647 % 64 AS c,
         |    count(*) AS cnt
         |  FROM ht, generate_series(0, 3) AS g(r) GROUP BY 1, 2),
         |exact AS (SELECT k, h, count(*) AS n_exact FROM ht GROUP BY k, h),
         |pos AS (SELECT k, n_exact, g.r,
         |    ((h % 2147483647) * (2 * g.r + 1) + 7919 * (g.r + 1)) % 2147483647 % 64 AS c
         |  FROM exact, generate_series(0, 3) AS g(r)),
         |tot AS (SELECT count(*) AS n_total FROM events),
         |est AS (SELECT k, n_exact, min(cnt) AS cms_est
         |  FROM pos JOIN counters USING (r, c) GROUP BY k, n_exact)
         |SELECT k AS key, n_exact, cms_est, cms_est - n_exact AS overestimate,
         |  cms_est >= ceil(n_total * 0.01) AS is_heavy
         |FROM est, tot ORDER BY cms_est DESC, key""".stripMargin,

    // mirrors Sketches.cmsMergeDaily: per-day cell counts summed vs
    // the direct sketch, per-row L1 == total occurrences.
    "sketch_cms_merge" ->
      s"""WITH occ AS (SELECT CAST(ts AS DATE) AS day, user_id AS k,
         |    ${h60("'cms_' || CAST(user_id AS VARCHAR)")} AS h FROM events),
         |pos AS (SELECT day, g.r,
         |    ((h % 2147483647) * (2 * g.r + 1) + 7919 * (g.r + 1)) % 2147483647 % 64 AS c
         |  FROM occ, generate_series(0, 3) AS g(r)),
         |daily AS (SELECT day, r, c, count(*) AS cnt FROM pos GROUP BY 1, 2, 3),
         |merged AS (SELECT r, c, sum(cnt) AS cnt_merged FROM daily GROUP BY 1, 2),
         |fullsk AS (SELECT r, c, count(*) AS cnt FROM pos GROUP BY 1, 2),
         |tot AS (SELECT count(*) AS n_total FROM occ)
         |SELECT r AS row, count(*) AS n_cells,
         |  CAST(sum(f.cnt) AS BIGINT) AS l1,
         |  sum(f.cnt) = max(n_total) AS l1_ok,
         |  bool_and(coalesce(f.cnt, 0) = coalesce(m.cnt_merged, 0)) AS merge_consistent
         |FROM fullsk f FULL JOIN merged m USING (r, c), tot
         |GROUP BY r ORDER BY row""".stripMargin,

    // mirrors Sketches.bloomAudit (m=8192, k=5, 63-bit words): same
    // salted positions, same bit_or word build, same all-bits probe.
    "sketch_bloom" ->
      s"""WITH hk AS (SELECT DISTINCT md5(text) AS key,
         |    ${h60("'bf_' || md5(text)")} AS h
         |  FROM documents
         |  WHERE ${h60("'bfs_' || doc_id")} % 100 < 80),
         |hp AS (SELECT
         |    ((h % 2147483647) * (2 * g.j + 1) + 7919 * (g.j + 1)) % 2147483647 % 8192 AS pos
         |  FROM hk, generate_series(0, 4) AS g(j)),
         |words AS (SELECT CAST(pos // 63 AS BIGINT) AS word,
         |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS bits
         |  FROM hp GROUP BY word),
         |pk AS (SELECT doc_id, md5(text) AS key,
         |    ${h60("'bf_' || md5(text)")} AS h
         |  FROM documents),
         |pp AS (SELECT doc_id, key,
         |    ((h % 2147483647) * (2 * g.j + 1) + 7919 * (g.j + 1)) % 2147483647 % 8192 AS pos
         |  FROM pk, generate_series(0, 4) AS g(j)),
         |pm AS (SELECT doc_id, key, CAST(pos // 63 AS BIGINT) AS word,
         |    CAST(1 AS BIGINT) << CAST(pos % 63 AS INT) AS mask
         |  FROM pp),
         |ph AS (SELECT doc_id, key,
         |    bool_and((coalesce(bits, 0) & mask) = mask) AS bloom_hit
         |  FROM pm LEFT JOIN words USING (word)
         |  GROUP BY doc_id, key),
         |pt AS (SELECT ph.*, (key IN (SELECT key FROM hk)) AS member FROM ph),
         |nh AS (SELECT count(*) AS n_hist FROM hk),
         |bs AS (SELECT CAST(sum(bit_count(bits)) AS BIGINT) AS bits_set FROM words),
         |agg AS (SELECT count(*) AS n_probes,
         |    CAST(sum(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_true_members,
         |    CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
         |    CAST(sum(CASE WHEN bloom_hit AND NOT member THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
         |  FROM pt)
         |SELECT n_probes, n_true_members, n_bloom_hits, n_false_pos, bits_set,
         |  CASE WHEN n_probes > n_true_members
         |    THEN round(CAST(n_false_pos AS DOUBLE) / CAST(n_probes - n_true_members AS DOUBLE) * 1.0e6, 0) / 1.0e6
         |    ELSE 0.0 END AS fp_rate,
         |  round(pow(1.0 - exp(-5.0 * CAST(n_hist AS DOUBLE) / 8192), 5) * 1.0e6, 0) / 1.0e6 AS fp_theoretical
         |FROM agg, bs, nh""".stripMargin,

    // mirrors TextAnalysis.weightedSample: same seeded uniform, same
    // 12-decimal-rounded exponential race key, same tiebreak.
    "weighted_sample" ->
      s"""WITH k AS (SELECT doc_id, source, n_chars,
         |    round(ln((CAST(${h60("'ws_' || doc_id")} AS DOUBLE) + 0.5) / 1152921504606846976.0)
         |      / ln(1.0 + CAST(n_chars AS DOUBLE)) * 1.0e12, 0) / 1.0e12 AS samp_key
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY samp_key DESC, doc_id) AS samp_rank FROM k)
         |SELECT source, samp_rank, doc_id, n_chars, samp_key
         |FROM r WHERE samp_rank <= 10
         |ORDER BY source, samp_rank""".stripMargin,

    // mirrors TextAnalysis.corpusCard: one volume agg stacked long,
    // mixes as group-bys, discrete percentiles for lengths.
    "corpus_card" ->
      """WITH v AS (SELECT count(*) AS n_docs,
        |    CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |    count(DISTINCT md5(text)) AS distinct_texts,
        |    quantile_disc(length(text), 0.5) AS p50_chars,
        |    quantile_disc(length(text), 0.9) AS p90_chars
        |  FROM documents),
        |rows AS (
        |  SELECT 'volume' AS section, 'n_docs' AS metric,
        |    CAST(n_docs AS DOUBLE) AS value FROM v
        |  UNION ALL SELECT 'volume', 'total_chars', CAST(total_chars AS DOUBLE) FROM v
        |  UNION ALL SELECT 'volume', 'total_tokens', CAST(total_tokens AS DOUBLE) FROM v
        |  UNION ALL SELECT 'dedup', 'exact_dup_docs', CAST(n_docs - distinct_texts AS DOUBLE) FROM v
        |  UNION ALL SELECT 'length', 'p50_chars', CAST(p50_chars AS DOUBLE) FROM v
        |  UNION ALL SELECT 'length', 'p90_chars', CAST(p90_chars AS DOUBLE) FROM v
        |  UNION ALL SELECT 'language_mix', lang, CAST(count(*) AS DOUBLE)
        |    FROM documents GROUP BY lang
        |  UNION ALL SELECT 'source_mix', source, CAST(count(*) AS DOUBLE)
        |    FROM documents GROUP BY source)
        |SELECT section, metric, value FROM rows
        |ORDER BY section, metric""".stripMargin,

    // mirrors the strict-as-of reduction: with identical left/right
    // timestamp sets per key, strict as-of == lag(1) per symbol.
    "features_pit" -> {
      val hourBars = barsCte.replace("INTERVAL 1 MINUTE", "INTERVAL 1 HOUR")
      s"""$hourBars,
         |b2 AS (SELECT symbol, bar_start,
         |    CASE WHEN open <> 0 THEN round((close / open - 1) * 1.0e6, 0) / 1.0e6 END AS label_ret,
         |    lag(bar_start) OVER w AS asof_feat_ts,
         |    lag(close) OVER w AS asof_close,
         |    lag(volume) OVER w AS asof_volume,
         |    lag(vwap) OVER w AS asof_vwap
         |  FROM bars
         |  WINDOW w AS (PARTITION BY symbol ORDER BY bar_start))
         |SELECT symbol, bar_start AS pred_ts, label_ret,
         |  asof_feat_ts, asof_close, asof_volume, asof_vwap,
         |  asof_feat_ts >= bar_start AS leaked
         |FROM b2 WHERE asof_close IS NOT NULL
         |ORDER BY symbol, pred_ts""".stripMargin
    },
  )
}
