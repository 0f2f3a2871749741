package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.DataUtils
import graft.core.StaticRange.boundedSorted
import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}
import graft.selectivesearch.SelectiveSearch
import graft.selectivesearch.SelectiveSearch.precisionAt

/** Driver contract: every implemented operator from SURVEY.md §2 is a
  * named query over the testdata tables, with an ANSI-SQL oracle that
  * DuckDB evaluates on the same parquet files.
  *
  * Cross-engine determinism rules (see Tables): raw columns or exact
  * integer arithmetic wherever a value is compared; every window and
  * every final ORDER BY carries a total-order tiebreak; money sums go
  * through exact cents (`Tables.cents`).
  */
object SparkEntry {

  /** Flagship: the reference's headline `select` pipeline end-to-end
    * on sf0.001 (driver smoke-checks rows > 0).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    SelectiveSearch.select(
      Tables.selection(spark, dir), Tables.results(spark, dir), 2)
  }

  // --- shared oracle CTE fragments (must mirror Tables exactly) -------

  private val ResultsCte =
    """results AS (
      |  SELECT CAST(l_orderkey % 8 AS INT) AS query,
      |         CAST(l_suppkey % 4 AS INT) AS shard,
      |         CAST(l_linenumber % 2 AS INT) AS bucket,
      |         l_extendedprice AS score,
      |         l_orderkey * 10 + l_linenumber AS gdocid
      |  FROM lineitem)""".stripMargin

  private val SelectionCte =
    """sel AS (
      |  SELECT query, shard,
      |         CAST(row_number() OVER (PARTITION BY query ORDER BY mass DESC, shard) - 1 AS INT) AS rank
      |  FROM (SELECT CAST(l_orderkey % 8 AS INT) AS query,
      |               CAST(l_suppkey % 4 AS INT) AS shard,
      |               sum(l_quantity) AS mass
      |        FROM lineitem GROUP BY 1, 2))""".stripMargin

  private val EvalResultsCte =
    """er AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query ORDER BY score DESC, gdocid) AS INT) AS global_rank
      |  FROM (SELECT CAST(l_orderkey % 8 AS INT) AS query,
      |               CAST(l_suppkey % 4 AS INT) AS shard,
      |               l_orderkey * 10 + l_linenumber AS gdocid,
      |               l_extendedprice AS score,
      |               CAST(CASE WHEN l_partkey % 7 = 0 THEN 1 ELSE 0 END AS INT) AS rel
      |        FROM lineitem))""".stripMargin

  // ---------------------------------------------------------------------

  /** [[boundedSorted]] for the |Q| x k ANN/BM25 top-k lists:
    * (query_id, rank) is unique, so the order is total.
    */
  private def topkSorted(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    boundedSorted(df, col("query_id"), col("rank"))

  /** FUSED probe for the registered minhash pair rows (r19): the
    * duplicate-mass gate decision and the dense-id sort bounds in ONE
    * driver job (they previously ran as two — measured ~+0.3 s of
    * pure job-round floor at sf0.1). Returns the ENDPOINT gate that
    * pins the already-decided route (< 0 forces collapse, >= 1
    * direct — the operator then skips its own probe) and the id
    * bounds for [[graft.core.StaticRange.denseIdSortKnownBounds]].
    * The fraction is [[graft.operators.Dedup.duplicateMassFraction]]'s
    * definition verbatim (non-null texts, HLL++ over xxhash64), so
    * the route matches what the operator's own probe would choose.
    */
  private def gateAndIdBounds(docs: DataFrame, textCol: String,
      idCol: String): (Double, Option[(Long, Long)]) = {
    // the bounds half of the fusion keeps denseIdSort's exact fallback
    // contract by sharing its guard definition (StaticRange
    // .integralIdType, r20): non-integral ids skip the min/max legs
    // entirely and return no bounds
    val integralId = graft.core.StaticRange
      .integralIdType(docs.schema(idCol).dataType)
    val aggs = Seq(
      count(col(textCol)).as("n"),
      approx_count_distinct(
        when(col(textCol).isNotNull, xxhash64(col(textCol)))).as("d")) ++
      (if (integralId)
        Seq(min(col(idCol).cast("long")).as("lo"),
          max(col(idCol).cast("long")).as("hi"))
      else Nil)
    val r = docs.agg(aggs.head, aggs.tail: _*).head()
    val frac = Dedup.dupFraction(r.getLong(0), r.getLong(1))
    val gate =
      if (graft.operators.DupCollapse.worthIt(Dedup.DefaultDupGate)(frac)) -1.0
      else 1.0
    val bounds =
      if (!integralId || r.isNullAt(2) || r.getLong(2) < 0) None
      else Some((r.getLong(2), r.getLong(3)))
    (gate, bounds)
  }

  /** Scale-gate sensitivity hook: with SPARK_GRAFT_INJECT_DIRECT=1,
    * every duplicate-mass-gated registered row pins its route to the
    * DIRECT form (endpoint gate 1.0) regardless of the corpus — a
    * synthetic routing regression. Exists so `scripts/scale_gate.sh
    * --inject-selftest` can demonstrate that its caps TRIP when the
    * collapse routing breaks (a gate that only ever passes proves
    * nothing). Never set it outside that demonstration: on the 100×
    * corpora the direct forms run 5–100× past the caps by design.
    */
  private def injected(gate: Double): Double =
    if (sys.env.get("SPARK_GRAFT_INJECT_DIRECT").contains("1")) 1.0
    else gate

  /** Run a registration under the AQE-off child session — for the ANN
    * family, whose plans are all explicit broadcasts + bounded top-k
    * exchanges with nothing for AQE to re-optimize (see
    * [[graft.core.SessionTuning.boundedPlan]] for the measurement).
    */
  private def boundedPlan(fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, dir) => fn(graft.core.SessionTuning.boundedPlan(s), dir)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1 + P1 + P2: parquet scan with filter/projection pushdown
    "s1_scan_filter_project" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R" && col("l_quantity") >= 30)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("price"))
        .orderBy("l_orderkey", "l_linenumber")),

    // J4 + S3: cartesian product of ranges with arithmetic position
    "j4_cartesian" -> ((s, dir) =>
      DataUtils.cartesianWithPos(s,
        Seq(0L until 6L, 0L until 4L), Seq("query", "shard"))
        .transform(boundedSorted(_, col("pos")))),

    // A4 + C3 core: per-query shard ranking (window row_number)
    "a4_selection_rank" -> ((s, dir) =>
      Tables.selection(s, dir)
        .transform(boundedSorted(_, col("query"), col("shard")))),

    // C6 = P9 -> P2 -> P1 -> J1 (broadcast) -> T1. (A round-12
    // interleaved A/B also tried deriving selection+results from ONE
    // OpCaches-persisted projection: 0.90 -> 1.34 s — the cache
    // materialization costs more than the column-pruned parquet
    // re-scans it saves; the plain two-scan form stays. SCALING.md
    // round 12.)
    "c6_select" -> ((s, dir) =>
      SelectiveSearch.select(Tables.selection(s, dir), Tables.results(s, dir), 2,
        queryDomain = Some(Tables.NumQueries))),

    // C7 = A3 -> F1 -> P4 lookup join -> J1 -> P2 col-vs-col -> P5 -> T1
    "c7_select_decay" -> ((s, dir) =>
      SelectiveSearch.selectWithDecay(
        Tables.selection(s, dir), Tables.results(s, dir), 3, 0.5,
        queryDomain = Some(Tables.NumQueries))),

    // C8 = F3 greedy resolution -> J2 -> T1. The sequential greedy is
    // oracle-checked via an unrolled 8-step CTE chain (see
    // C8OracleSql) — golden unit tests pin it as well.
    "c8_select_buckets" -> ((s, dir) =>
      SelectiveSearch.selectBuckets(
        Tables.bucketSelection(s, dir), Tables.results(s, dir), 5,
        queryDomain = Some(Tables.NumQueries))),

    // C2/C1 + A1/A2: full evaluation sweep, single-pass step
    // attribution. The results fixture comes through its global_rank
    // window (hash-clustered by query), so the arrival walk adds no
    // exchange of its own, only a local sort. The PRUNED fixture
    // (rank-prefix equivalence proved at
    // Tables.evalResultsPruned) reduces the corpus-sized frame to
    // <= units x depth rows BEFORE that window — the full fixture's
    // per-query sort was the family's dominant cost; EvaluateSuite
    // pins pruned == full for all three forms and the oracle replays
    // the FULL derivation
    "c2_evaluate" -> ((s, dir) =>
      SelectiveSearch.evaluate(
        Tables.selection(s, dir), Tables.evalResultsPruned(s, dir, 10),
        Seq(precisionAt(10), precisionAt(5)), Tables.NumShards)),

    // C2 sort=true (quirk-Q2 docstring intent): shards arrive with a
    // raw shard_score and evaluate ranks them per query (score desc,
    // shard asc) before the sweep — the oracle replays the ranking in
    // its own window. Pruning is rank-assignment-independent (the
    // proof only uses same-unit predecessors), so the pruned fixture
    // serves the sorted form too.
    "c2_evaluate_sorted" -> ((s, dir) =>
      SelectiveSearch.evaluate(
        Tables.shardScores(s, dir), Tables.evalResultsPruned(s, dir, 10),
        Seq(precisionAt(10), precisionAt(5)), Tables.NumShards, sort = true)),

    // C2 bucketed: step sweep over (shard, bucket) selection units —
    // pruning at the finest grain the sweep joins on
    "c2_evaluate_buckets" -> ((s, dir) =>
      SelectiveSearch.evaluate(
        Tables.bucketSelection(s, dir),
        Tables.evalResultsPruned(s, dir, 10, withBuckets = true),
        Seq(precisionAt(10)), Tables.NumShards,
        numBuckets = Some(Tables.NumBuckets))),

    // C9 = A4 -> P6 -> P3 -> T3 -> T1 -> P1: TREC run frame
    "c9_to_trec" -> ((s, dir) =>
      // bounded top_k_tag form: <= cutoff rows per query cross the
      // shuffle (the window reference form ships every result row;
      // EvaluateSuite pins their equality)
      SelectiveSearch.trecFrameTopK(
        Tables.results(s, dir)
          .withColumn("title", concat(lit("doc"), col("gdocid"))),
        cutoff = 50)),

    // T2: per-group head (top-k within (query, shard) by score),
    // as the bounded top_k_tag aggregate (c9_to_trec's row-faithful
    // shape): each map task ships at most 3 rows per (query, shard) —
    // the prior window form exchanged the full corpus-sized frame to
    // rank 96 survivors (0.91 -> ~0.5 s at sf0.1, round 12). gdocid
    // is NOT unique in this data (the synthetic results carry exact
    // duplicate rows), so the ROW rides in the tag: a plain
    // top_k(score, gdocid) + id fetch-back would over-fetch rows
    // sharing a selected id, while the heap keeps duplicate
    // (score, tag) entries as distinct members — the exact top-3
    // multiset. Tag order (zero-padded gdocid, then bucket — bucket
    // is gdocid-determined here, appended only to carry it) matches
    // the window's (score desc, gdocid asc) tiebreak; duplicates are
    // identical full rows, so the multiset equals the window form's.
    "t2_group_head" -> ((s, dir) => {
      val r = Tables.results(s, dir)
      val tag = concat(lpad(col("gdocid").cast("string"), 20, "0"),
        lit(":"), col("bucket").cast("string"))
      r.groupBy(col("query"), col("shard"))
        .agg(graft.functions.TopKFunctions
          .top_k_tag(col("score").cast("double"), tag, 3).as("top"))
        .select(col("query"), col("shard"), explode(col("top")).as("t"))
        .select(col("query"), col("shard"),
          split(col("t.tag"), ":").getItem(1).cast("int").as("bucket"),
          col("t.score").as("score"),
          split(col("t.tag"), ":").getItem(0).cast("long").as("gdocid"))
        .transform(boundedSorted(_, col("query"), col("shard"),
          col("score").desc, col("gdocid")))
    }),

    // U1: union-all of tagged slices. The final total order leads on
    // the dense query id, so the known-domain direct-routed sort
    // replaces the sampling range sort (StaticRange).
    "u1_union_all" -> ((s, dir) => {
      val r = Tables.results(s, dir)
      graft.core.StaticRange.sortByKnownDomain(
        r.filter(col("score") >= 50000).withColumn("slice", lit("hi"))
          .unionByName(
            r.filter(col("score") < 1000).withColumn("slice", lit("lo"))),
        col("query"), Tables.NumQueries,
        Seq(col("query").asc, col("gdocid").asc, col("slice").asc))
    }),

    // J5: positional column bind as arithmetic-position equi-join
    "j5_positional_bind" -> ((s, dir) => {
      val cart = DataUtils.cartesianWithPos(s,
        Seq(0L until 5L, 0L until 5L), Seq("query", "shard"))
      cart.join(Tables.nation(s, dir),
          cart("pos") === col("n_nationkey"), "inner")
        .select(col("query"), col("shard"), col("n_name").as("bound_name"))
        .orderBy("query", "shard")
    }),

    // Core analytics: TPC-H Q1-shaped aggregation (exact-cents money)
    "q1_lineitem_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          (sum(Tables.cents(col("l_extendedprice"))).cast("double") / 100).as("sum_base_price"),
          (sum(Tables.cents(col("l_extendedprice")) *
            Tables.cents(lit(1) - col("l_discount"))).cast("double") / 10000).as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .transform(boundedSorted(_, col("l_returnflag"), col("l_linestatus")))),

    // Core analytics: 3-way join + top-k by revenue (TPC-H Q3-shaped)
    "q3_join_topk" -> ((s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderkey"))
        .agg(
          (sum(Tables.cents(col("l_extendedprice")) *
            Tables.cents(lit(1) - col("l_discount"))).cast("double") / 10000).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5-shaped star join: 5 tables, the three dims collapse
    // into one broadcast chain onto the fact side (region -> nation
    // -> customer all broadcast; lineitem streams once through the
    // orders join) — the multi-way join-planning exercise the
    // two-table queries don't cover. Revenue exact in cents.
    "q5_star_join" -> ((s, dir) => {
      val r = Tables.table(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      val dims = c.join(broadcast(n.join(broadcast(r),
          n("n_regionkey") === r("r_regionkey"))),
          c("c_nationkey") === n("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(dims), o("o_custkey") === col("c_custkey"))
        .groupBy(col("n_name"))
        .agg((sum(Tables.cents(col("l_extendedprice")) *
          Tables.cents(lit(1) - col("l_discount"))).cast("double") / 10000)
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // lag/lead analytics: per-user inter-event gaps (the analytic
    // window family beyond running sums/ranks) — gap to the previous
    // event in ms, first event per user has no predecessor (null)
    // The plain per-user window is the MEASURED winner at every bench
    // scale including the r17 hot-key corpus (one user owning 50% of
    // 1M events sorts in-task in ~0.1 s; the blocked decomposition's
    // repair joins cost more than they save below ~10^7 rows/key).
    // SkewScan.lagSkewSafe is the suite-pinned escape hatch for
    // corpora whose hottest key exceeds a single task's sort budget —
    // see SCALING.md round 17 for the crossover measurement.
    "event_gaps" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          // floor division (pmod), matching DuckDB's `//` for
          // pre-epoch timestamps too — `div` truncates toward zero
          expr("(ts - pmod(ts, 1000000)) div 1000000").as("t_ms"))
        .withColumn("prev_ms", lag(col("t_ms"), 1).over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("t_ms").asc, col("event_id").asc)))
        .withColumn("gap_ms", col("t_ms") - col("prev_ms"))
        .orderBy(col("user_id").asc, col("t_ms").asc, col("event_id").asc)),

    // Time-series batch aggregation over the events table. `ts` is raw
    // nanos (see Tables.events); hour bucket via exact long arithmetic.
    "events_hourly_agg" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(
          expr("(ts - ts % 3600000000000) div 1000000000").as("hour_ts"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          (sum(Tables.cents(col("value"))).cast("double") / 100).as("total_value"))
        .orderBy("hour_ts", "event_type")),

    // OHLC resample onto a 15-min grid: open/close via struct
    // min/max on the total (ts, event_id) order — map-side partial
    // aggregation, no window (see operators.TimeSeries)
    "events_resample_ohlc" -> ((s, dir) =>
      graft.operators.TimeSeries.resampleOhlc(
        Tables.events(s, dir), bucketNs = 900000000000L,
        keyCols = Seq("event_type"))),

    // Full outer join as explicit API, (user, day) grain: view-only
    // days and purchase-only days survive with nulls on the other
    // side (user-level joins are vacuous here — every user has every
    // event type)
    "j_full_outer_days" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def perDay(t: String, n: String) = ev.filter(col("event_type") === t)
        .groupBy(col("user_id"), expr("ts div 86400000000000").as("d"))
        .agg(count(lit(1)).as(n))
      perDay("view", "n_view")
        .join(perDay("purchase", "n_buy"), Seq("user_id", "d"), "full_outer")
        .orderBy("user_id", "d")
    }),

    // Approximate-aggregate twins (HyperLogLog++ distinct, G-K
    // percentile sketch): approximate BY DESIGN — sketch internals
    // differ across engines, so no hash oracle can exist; the driver
    // records rows-only and ApproxAggSuite pins the values against
    // the exact forms within the documented error bounds. These are
    // the 100 TB path beside the exact `percentiles`/`distinct_agg`
    // (array projected to scalar p50/p90 columns — the driver's
    // pandas comparator can't sort an array column)
    "approx_agg_sketches" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.operators.ApproxAgg
        .approxDistinct(ev, Seq("event_type"), Seq("user_id"))
        .join(graft.operators.ApproxAgg.approxPercentiles(
          ev, Seq("event_type"), "value", Seq(0.5, 0.9)), Seq("event_type"))
        .select(col("event_type"), col("user_id_approx"),
          col("p_approx")(0).as("p50_approx"),
          col("p_approx")(1).as("p90_approx"))
        .orderBy("event_type")
    }),

    // Driver-auditable error bounds for the sketches above: per-group
    // booleans "approx within its DOCUMENTED error of exact" — HLL++
    // within 3*rsd (0.15) of exact countDistinct, each G-K percentile
    // within rank fraction 1e-4 (= 1/accuracy) of its target, checked
    // by COUNTING ranks around the returned value (no interpolation
    // convention in the bound, so it is exact at any group size; ±1
    // row absorbs the open/closed rank edge). Sketches are
    // deterministic, so the booleans are hash-stable and the oracle
    // is the trivially-true per-group row — this converts the
    // rows-only trust in approx_agg_sketches into a hash-checked
    // board row.
    "approx_agg_bounds" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      // same sketch values as approx_agg_sketches' two joined
      // operator calls, fused into one aggregate pass (the bounds row
      // audits the sketches, it doesn't need the operator-demo shape)
      val ap = ev.groupBy(col("event_type")).agg(
        approx_count_distinct(col("user_id"),
          graft.operators.ApproxAgg.DefaultRsd).as("user_id_approx"),
        percentile_approx(col("value"), array(lit(0.5), lit(0.9)),
          lit(graft.operators.ApproxAgg.DefaultAccuracy)).as("p_approx"))
      ev.join(broadcast(ap), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("nd"),
          count(col("value")).as("n"),
          sum(when(col("value") < col("p_approx")(0), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("value") <= col("p_approx")(0), 1L).otherwise(0L)).as("le50"),
          sum(when(col("value") < col("p_approx")(1), 1L).otherwise(0L)).as("lt90"),
          sum(when(col("value") <= col("p_approx")(1), 1L).otherwise(0L)).as("le90"),
          first(col("user_id_approx")).as("ad"))
        .select(col("event_type"),
          (abs(col("ad") - col("nd")).cast("double") <=
            lit(3 * graft.operators.ApproxAgg.DefaultRsd) * col("nd")).as("distinct_ok"),
          (col("lt50").cast("double") <=
            lit(0.5 + 1.0 / graft.operators.ApproxAgg.DefaultAccuracy) * col("n") + lit(1.0) &&
            col("le50").cast("double") >=
              lit(0.5 - 1.0 / graft.operators.ApproxAgg.DefaultAccuracy) * col("n") - lit(1.0)).as("p50_ok"),
          (col("lt90").cast("double") <=
            lit(0.9 + 1.0 / graft.operators.ApproxAgg.DefaultAccuracy) * col("n") + lit(1.0) &&
            col("le90").cast("double") >=
              lit(0.9 - 1.0 / graft.operators.ApproxAgg.DefaultAccuracy) * col("n") - lit(1.0)).as("p90_ok"))
        .orderBy("event_type")
    }),

    // Sliding-window aggregation (1 h window, 15 min slide): each
    // event attributes to 4 overlapping windows via an exact integer
    // explode — the relational twin of window(ts, '1 hour', '15 min')
    // without a timestamp round-trip on raw nanos
    "events_sliding_agg" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"), Tables.cents(col("value")).as("cents"),
          explode(sequence(lit(0L), lit(3L))).as("i"), col("ts"))
        .select(col("event_type"), col("cents"),
          ((expr("ts div 900000000000") - col("i")) * 900L).as("win_start_s"))
        .groupBy(col("win_start_s"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(col("cents")).cast("double") / 100).as("total_value"))
        .orderBy("win_start_s", "event_type")),

    // Exact deduplication: content-hash clustering (one shuffle)
    "dedup_exact_clusters" -> ((s, dir) =>
      Dedup.exactClusters(Tables.documents(s, dir)).orderBy("doc_id")),

    // Text analysis: token counts, BPE-ish estimate, punctuation,
    // md5 fingerprint — pure codegen'd Column exprs. The narrow frame
    // sorts FIRST and the expensive projections apply above the sort:
    // a final orderBy's range-exchange sampling pass re-executes
    // everything beneath it that is not already behind a shuffle or
    // broadcast, so map-only compute under the sort runs TWICE
    // (JsonProbe at sf0.1: 0.90 s sorted-last vs 0.42 s sorted-first
    // for the json chain). Projections preserve the sort's ordering.
    "text_stats" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .orderBy("doc_id")
        .select(
          col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"),
          length(col("text")).as("n_chars_len"),
          TextFunctions.punctCount(col("text")).as("n_punct"),
          TextFunctions.fingerprintMd5(col("text")).as("fp"))),

    // Text analysis: n-gram-heuristic language ID
    "lang_id" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextFunctions.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")),

    // Gopher-family repetition filters: per-document duplicate-line
    // counts plus dominant-2-gram / repeated-5-gram character counts,
    // all from ONE codegen'd byte walk per document (no explode, no
    // shuffle; the 8 array extracts collapse to a single kernel call
    // via whole-stage-codegen subexpression elimination). Exact
    // integers so the DuckDB oracle hash-matches; ratios + the
    // published Gopher cut-offs live in RepetitionKernel's scaladoc.
    "repetition_stats" -> ((s, dir) => {
      val p = graft.functions.RepetitionFunctions
        .repetition_profile(col("text"))
      // sorted-first: see text_stats — keeps the byte-walk kernel out
      // of the range-sampling re-execution
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .orderBy("doc_id")
        .select(
          col("doc_id"),
          p.getItem(0).as("n_lines"),
          p.getItem(1).as("n_dup_lines"),
          p.getItem(2).as("dup_line_chars"),
          p.getItem(3).as("line_chars"),
          p.getItem(4).as("top2gram_chars"),
          p.getItem(5).as("dup5gram_chars"),
          p.getItem(6).as("n_tokens"),
          p.getItem(7).as("token_chars"))
    }),

    // Gopher-style composite quality gate: six exact-integer rules
    // from one repetition_profile byte walk (token bounds tuned to
    // this corpus's 20-80-token docs; the operator defaults to the
    // published 50-100k bounds). Sorted-first like repetition_stats.
    "gopher_quality_gate" -> ((s, dir) =>
      graft.operators.Curation.gopherGate(
        Tables.documents(s, dir).select(col("doc_id"), col("text"))
          .orderBy("doc_id"),
        minTokens = 25)),

    // Text analysis: document quality scoring (sorted-first — see
    // text_stats)
    "quality_score" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .orderBy("doc_id")
        .select(
          col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality"))),

    // Quality curation: keep the top 25% of documents per language by
    // quality score — deterministic rank cut (score desc, doc_id asc;
    // exact ceil(0.25 * n) per stratum). Registered on the SKEW-SAFE
    // bounded form: per-stratum counts + bounded top-k heaps, never a
    // full-stratum window — a handful of strata at 100x scale must
    // not serialize each stratum through one task (row-for-row equal
    // to the window form; OperatorsSuite pins it). The output is just
    // (doc_id, lang), so the NARROW variant applies: winners come
    // straight off the heaps, no semi-join back to the corpus
    "quality_topp" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.core.StaticRange.denseIdSort(
        graft.operators.Curation.topFractionBoundedNarrow(
          docs, TextFunctions.qualityScore(col("text")),
          Seq("lang"), "doc_id", 0.25)
          .select(col("doc_id"), col("lang")),
        docs, "doc_id", Seq(col("doc_id").asc))
    }),

    // Deterministic Bernoulli sampling: content-hash acceptance, no
    // shuffle, reproducible across engines/partitionings/retries
    // (rand(seed) never is) — exact-integer 48-bit threshold compare
    "sample_bernoulli" -> ((s, dir) =>
      graft.operators.Sampling.bernoulliSample(
        Tables.documents(s, dir), "doc_id", 0.25)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // Deterministic stratified sampling: hash-ranked reservoir of 50
    // docs per language via the bounded top_k aggregate (k rows per
    // stratum per map task — wide rows never shuffle)
    "sample_stratified" -> ((s, dir) =>
      graft.operators.Sampling.stratifiedSample(
        Tables.documents(s, dir), Seq("lang"), "doc_id", 50)
        .orderBy("lang", "smp_rank")),

    // Near-dedup, scale path: MinHash signatures + LSH band join.
    // The registered form is the duplicate-mass-gated collapse (r18):
    // duplicate-light corpora (this sf dir) route to the direct
    // banded form; copy-heavy corpora band only distinct content and
    // stream the pair expansion — the 100x replica corpus measured
    // 87.7 s direct vs 5.8 s collapsed, same output (suite-pinned).
    // The pair list is quadratic in copies BY CONTRACT (152M rows at
    // 100x), so the output sort rides the probed-bounds pass: a
    // sampling orderBy would re-execute the whole expansion once just
    // to pick range splits (measured 24.6 vs 5.8 s unsorted)
    // r19: the duplicate-mass gate probe and the sort-bounds probe
    // previously ran as two separate driver jobs per call; one fused
    // aggregate answers both, and endpoint gates/known bounds skip
    // the operators' own probes
    "minhash_lsh_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val (gate, bounds) = gateAndIdBounds(docs, "text", "doc_id")
      graft.core.StaticRange.denseIdSortKnownBounds(
        Dedup.minHashCandidatesCollapsed(docs, dupGate = injected(gate)),
        bounds, "id_a",
        Seq(col("id_a").asc, col("id_b").asc), partsMultiplier = 8)
    }),

    // Near-dup cluster resolution: transitive closure of the minhash
    // candidate pairs -> every document mapped to its component
    // minimum; is_survivor marks the one doc a curation pipeline
    // keeps per component. Per-pair drops are NOT transitive — pairs
    // (1,3),(2,3) would keep both 1 and 2. Exact duplicates are
    // collapsed to one representative BEFORE pairing/clustering
    // (identical texts band-match a priori, so components and their
    // minima are unchanged — suite-pinned); on a duplicate-heavy
    // corpus that keeps the pair graph proportional to DISTINCT
    // content instead of C(copies,2) per group (r17 skew corpus:
    // 2.58M pairs -> the distributed label loop; collapsed: driver
    // union-find territory).
    "neardup_clusters" -> ((s, dir) =>
      Dedup.neardupComponents(Tables.documents(s, dir),
          dupGate = injected(Dedup.DefaultDupGate))
        .select(col("id").as("doc_id"), col("label").as("component"),
          (col("label") === col("id")).cast("int").as("is_survivor"))
        .orderBy("doc_id")),

    // Incremental ingest dedup: near-dup candidates touching the NEW
    // batch (doc_id % 5 == 0 plays the day's ingest) against the
    // existing corpus — new-vs-old and new-vs-new pairs only, the
    // corpus is never self-joined
    // duplicate-mass-gated collapse (r18): copy-heavy corpora contract
    // batch ∪ corpus by content before the band probe — the direct
    // probe is |new-in-bucket| × bucket size, so batch × corpus copies
    // of one text multiply (100× corpus: 22 s direct)
    // r19: gate + bounds from ONE fused probe job (the text-side gate
    // has no operator-internal job to ride, unlike the embedding
    // gate's centroid-count fusion — so the registered row fuses it
    // with the sort-bounds probe instead; batch ∪ corpus here IS the
    // docs table, so the fraction is the same one the operator's own
    // probe would compute)
    "minhash_incremental_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val (gate, bounds) = gateAndIdBounds(docs, "text", "doc_id")
      graft.core.StaticRange.denseIdSortKnownBounds(
        Dedup.incrementalMinHashCandidatesCollapsed(
          docs.filter(col("doc_id") % 5 === 0),
          docs.filter(col("doc_id") % 5 =!= 0), dupGate = injected(gate)),
        bounds, "id_a",
        Seq(col("id_a").asc, col("id_b").asc), partsMultiplier = 8)
    }),

    // ...and its serving twin: the corpus's banded signature index
    // read from the IndexStore — the corpus tokenize+signature pass
    // runs zero times per ingest batch (output-pinned identical to
    // the inline form by TextDedupSuite)
    "minhash_incremental_prebuilt" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalMinHashCandidatesPrebuilt(
        docs.filter(col("doc_id") % 5 =!= 0), s"$dir/documents.parquet",
        docs.filter(col("doc_id") % 5 === 0), variant = "holdout5",
        dupGate = injected(Dedup.DefaultDupGate))
        .orderBy("id_a", "id_b")
    }),

    // Near-dedup, exact verification path: n-gram Jaccard on pairs
    // sharing a shingle, WITH the stop-shingle df cap engaged — hot
    // shingles contribute df^2 join rows, the precise 100 TB blowup,
    // so the registered query demonstrates the defense on (at sf0.01
    // the cap prunes ~178 hot-shingle instances; the oracle mirrors
    // it with a df <= 5 semi-join). POSTING-LIST form (round 11):
    // each (shingle, id) row ships once and pairs expand in codegen —
    // suite-pinned output-identical to the self-join form, 1.30 vs
    // 1.61 s in the interleaved A/B (SCALING.md round 11).
    "ngram_jaccard_pairs" -> ((s, dir) =>
      Dedup.ngramJaccardPairsPostings(Tables.documents(s, dir), minJaccard = 0.5,
        maxDocFreq = Some(5))
        .orderBy("id_a", "id_b")),

    // As-of join (no Spark built-in): for each purchase, the user's
    // latest prior non-purchase event — union + last-non-null window,
    // one shuffle
    "asof_events" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("t"))
      // (user, rt) dedup keeping the max prior_id: a map-side-partial
      // hash agg on a lexicographic struct max — not a row_number
      // window, which sort-shuffles the whole non-purchase stream
      // (r14 A/B: the window form was ~0.2 s of the row)
      val r = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), expr("ts div 1000").as("rt"),
          col("event_id").as("prior_id"), col("value").as("prior_value"))
        .groupBy(col("user_id"), col("rt"))
        .agg(max(struct(col("prior_id"), col("prior_value"))).as("__m"))
        .select(col("user_id"), col("rt"),
          col("__m.prior_id").as("prior_id"),
          col("__m.prior_value").as("prior_value"))
      // output sort by probed event-id bounds: purchase ids are a
      // subset of the events table's dense id domain, so no sampling
      // pass re-runs the as-of pipeline
      graft.core.StaticRange.denseIdSort(
        graft.operators.AsOf.asofJoinBackward(
          l, r, Seq("user_id"), "t", "rt", Seq("prior_id", "prior_value")),
        ev, "event_id", Seq(col("event_id").asc))
    }),

    // Forward as-of: for each purchase, the user's EARLIEST
    // non-purchase event at or after it (next-event attribution)
    "asof_events_fwd" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("t"))
      val r = ev.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), expr("ts div 1000").as("rt"),
          col("event_id").as("next_id"), col("value").as("next_value"))
        .groupBy(col("user_id"), col("rt"))
        .agg(min(struct(col("next_id"), col("next_value"))).as("__m"))
        .select(col("user_id"), col("rt"),
          col("__m.next_id").as("next_id"),
          col("__m.next_value").as("next_value"))
      graft.core.StaticRange.denseIdSort(
        graft.operators.AsOf.asofJoinForward(
          l, r, Seq("user_id"), "t", "rt", Seq("next_id", "next_value")),
        ev, "event_id", Seq(col("event_id").asc))
    }),

    // Rollup aggregation (subtotals + grand total)
    "rollup_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
        .transform(boundedSorted(_, col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first))),

    // Distinct aggregation
    "distinct_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n"))
        .transform(boundedSorted(_, col("l_returnflag")))),

    // (The MLlib MinHashLSH variant — DedupMl.minHashCandidatesMl —
    // is deliberately NOT registered: approxSimilarityJoin costs 96s
    // at sf0.1 vs 7s for the native formulation; it exists as an
    // MLlib-interop operator, pinned by OperatorsSuite.)

    // Scalar-function breadth: string/date/math over lineitem
    "scalar_funcs" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 100 === 0)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          year(col("l_shipdate")).as("ship_year"),
          month(col("l_shipdate")).as("ship_month"),
          upper(col("l_returnflag")).as("flag_u"),
          concat(col("l_returnflag"), lit("-"), col("l_linestatus")).as("tag"),
          abs(col("l_quantity") - 25).as("qty_dev"),
          (col("l_extendedprice") / col("l_quantity")).as("unit_price"),
          greatest(col("l_tax"), col("l_discount")).as("max_rate"))
        .orderBy("l_orderkey", "l_linenumber")),

    // JSON extraction from the events props column — ONE parse per
    // row: identical from_json subtrees unify under codegen
    // subexpression elimination, and the int view is a cast of the
    // parsed string (two get_json_object calls tokenize twice)
    // sorted-first (see text_stats) and ONE parse per row:
    // get_json_object over the prior from_json-struct form — it also
    // mirrors DuckDB's json_extract_string on non-scalar values
    // (returns the JSON text where a typed struct field nulls out).
    // JsonProbe at sf0.1: 1.04 s (from_json, sorted-last) → 0.42 s.
    "json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), col("props"))
        .orderBy("event_id")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"))
        .select(col("event_id"), col("k_str"),
          col("k_str").cast("int").as("k_int"))),

    // Exact interpolated percentiles (median, p90) per group.
    // SCALE NOTE: exact percentile() buffers every distinct
    // (value, count) of a group in executor memory — the oracle-exact
    // choice at test scale, but a hot group breaks it at 100 TB. The
    // production twin is operators.ApproxAgg.approxPercentiles
    // (mergeable Greenwald-Khanna sketch, O(accuracy) state, rank
    // error <= n/accuracy), unit-pinned against this form in
    // ApproxAggSuite (cross-engine sketch internals cannot hash-match
    // a DuckDB oracle).
    "percentiles" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          count(lit(1)).as("n"))
        .transform(boundedSorted(_, col("l_returnflag")))),

    // Cube aggregation (all grouping-set combinations)
    "cube_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .transform(boundedSorted(_, col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first))),

    // Exact heavy hitters at sketch cost: a Misra-Gries nominate
    // pass (<= k counters per task; no true hitter can be missed)
    // then an exact recount of the bounded candidate set — the
    // output equals brute force at any parallelism while the item
    // universe never crosses a shuffle
    "heavy_hitters" -> ((s, dir) =>
      graft.operators.ApproxAgg.heavyHitters(
        Tables.documents(s, dir)
          .select(explode(TextFunctions.tokensNonEmpty(col("text"))).as("tok")),
        col("tok"), supportNum = 1L, supportDen = 30L)),

    // Tokenizer fit + transform: top-100 frequency vocabulary
    // (bounded top_k_tag aggregate) then a broadcast-lookup encode of
    // every document to its token-id sequence, OOV -> 0
    "vocab_encode" -> ((s, dir) =>
      graft.operators.Vocab.vocabEncode(
        Tables.documents(s, dir), vocabSize = 100)),

    // Generator/UDTF-style: explode tokens to corpus word frequencies
    "word_freq" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)),

    // Pivot-shaped conditional aggregation: per-user event-type counts
    "pivot_agg" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1).otherwise(0)).as("n_click"),
          sum(when(col("event_type") === "view", 1).otherwise(0)).as("n_view"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchase"),
          sum(when(col("event_type") === "signup", 1).otherwise(0)).as("n_signup"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_error"))
        .orderBy("user_id")),

    // Anti join: customers with no RECENT orders. The orders side is
    // date-restricted so the anti-join is non-vacuous at test scale
    // (every customer has SOME order; 135 have none since 2000-01-01
    // at sf0.01) — a 0-row anti-join would pass the hash compare
    // without proving anything.
    "j_anti_customers" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // Near-dedup via the native simhash_md5 Catalyst expression: MD5
    // token hashes make every signature bit SQL-reproducible, so the
    // DuckDB oracle replays the per-bit majority vote and the exact
    // Hamming filter. maxHamming = 3 keeps the 4 x 16-bit band
    // blocking EXHAUSTIVE (pigeonhole: <= 3 flipped bits leave one
    // band intact), so banded Spark == all-pairs oracle. The FNV
    // kernel variant stays unit-test-pinned.
    // collapsed form (r17): exact duplicates contract to one rep
    // before banding and the full pair set reconstructs afterward —
    // output-identical (suite-pinned), but the band join is quadratic
    // per bucket in duplicate copies, so dup-heavy corpora pay g² for
    // what distinct content answers (10× corpus: 26 s -> see SCALING)
    // output sort via probed bounds, as minhash_lsh_pairs: the pair
    // list is copy-quadratic by contract and a sampling orderBy
    // re-executes the expansion once to pick splits (25M rows at the
    // 100x corpus: 3.2 s sampled vs 1.7 s unsorted)
    "simhash_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.core.StaticRange.denseIdSort(
        Dedup.simHashPairsCollapsed(docs, maxHamming = 3,
          signature = graft.functions.HashFunctions.simhash_md5,
          dupGate = injected(Dedup.DefaultDupGate)),
        docs.select(col("doc_id").as("id_a")), "id_a",
        Seq(col("id_a").asc, col("id_b").asc), partsMultiplier = 8)
    }),

    // ANN baseline: brute-force cosine top-k (exact integer-quantized
    // dot products -> engine-portable doubles)
    "ann_cosine_topk" -> boundedPlan((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.cosineTopK(e, e.filter(col("vec_id") < 8), 5)
        .transform(topkSorted)
    }),

    // k-NN majority-vote label propagation over the same query set:
    // each query takes the modal label of its 5 cosine-nearest
    // neighbors (votes desc, label asc tiebreak)
    "knn_label" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.knnClassify(e, e.filter(col("vec_id") < 8), 5)
        .transform(boundedSorted(_, col("query_id")))
    }),

    // ANN scale path: IVF — corpus in nearest-centroid cells (balanced
    // by construction, unlike fixed sign-LSH cells), queries probe
    // their nprobe nearest cells. nprobe=40/64 measures recall@5 =
    // 0.93 on this corpus (see SCALING.md for the full knob curve).
    "ann_ivf_topk" -> boundedPlan((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 8), 5,
        numCentroids = 64, nprobe = 40)
        .transform(topkSorted)
    }),

    // ...and its build-once/query-many serving twin (same knobs, same
    // oracle — the assignment is a deterministic function of the
    // corpus, so the served output is pinned identical to the inline
    // build+query row; SimilaritySuite asserts it)
    "ann_ivf_prebuilt_topk" -> boundedPlan((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfTopKPrebuilt(e, s"$dir/embeddings.parquet",
        e.filter(col("vec_id") < 8), 5, numCentroids = 64, nprobe = 40)
        .transform(topkSorted)
    }),

    // Embedding near-duplicate pairs at scale: IVF multi-assignment
    // blocking — corpus-scaled centroid count (autoCentroids:
    // C = ceil(sqrt(16n)), the growth law that keeps BOTH the
    // assignment (nC = n^1.5) and the per-cell candidate bound
    // (n^2/C = n^1.5) subquadratic), each vector in its 24 nearest
    // cells, and pairs must share >= 2 cells before the exact-cosine
    // verify. The 2-cell vote is the cost knob: random near-uniform
    // pairs rarely agree on 2+ nearest centroids while cosine>=0.3
    // pairs rank centroids almost identically. The sqrt law's finer
    // cells sharpen the vote: A=24 at C=ceil(sqrt(16n)) measures
    // recall 0.998 at sf0.1 — above r4's 0.969 at C=n/16, A=16 — at
    // equal wall time (SCALING.md).
    // duplicate-mass-gated exact-dup collapse (r18): copy-heavy
    // vector corpora contract identical prepared vectors before cell
    // assignment — the cell self-join is quadratic per cell in
    // copies (the 100x replica embeddings corpus ran the direct form
    // into tens of minutes); output sort rides probed bounds like
    // the text pair rows
    "embedding_neardup_pairs" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.core.StaticRange.denseIdSort(
        Similarity.ivfNearDupPairsCollapsed(e, threshold = 0.3,
          assignments = 24, minSharedCells = 2,
          dupGate = injected(graft.operators.Dedup.DefaultDupGate)),
        e.select(col("vec_id").as("id_a")), "id_a",
        Seq(col("id_a").asc, col("id_b").asc), partsMultiplier = 8)
    }),

    // Incremental-ingest semantic dedup: new vectors (vec_id < 40)
    // probed against the standing corpus (vec_id >= 40) — centroids
    // from the corpus's low-id sample, candidates bounded by the
    // batch, the corpus never self-joins (the embedding twin of
    // minhash_incremental_pairs)
    // r18: duplicate-mass-gated collapse — the direct candidate join
    // pays batch x corpus copies per duplicated vector per shared cell
    "embedding_incremental_pairs" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfNearDupBatchCollapsed(
        e.filter(col("vec_id") >= 40), e.filter(col("vec_id") < 40),
        threshold = 0.3, assignments = 24, minSharedCells = 2,
        dupGate = injected(graft.operators.Dedup.DefaultDupGate))
        .orderBy("batch_id", "corpus_id")
    }),

    // ...and its serving twin: the corpus's multi-assign index and
    // centroid sample come PREBUILT from the store — per-batch work
    // is the batch assignment plus the cell join; the corpus
    // assignment pass runs zero times per ingest (output-pinned
    // identical to the inline form by IndexStoreSuite)
    "embedding_incremental_prebuilt" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfNearDupBatchPrebuilt(
        e.filter(col("vec_id") >= 40), s"$dir/embeddings.parquet",
        e.filter(col("vec_id") < 40),
        threshold = 0.3, assignments = 24, minSharedCells = 2,
        // the corpus is a SLICE of the source file: the variant key
        // keeps its index from colliding with the full-corpus knn
        // entry over the same path
        variant = "ge40",
        dupGate = injected(graft.operators.Dedup.DefaultDupGate))
        .orderBy("batch_id", "corpus_id")
    }),

    // Corpus-wide approximate k-NN self-join (IVF cell blocking,
    // same knobs as embedding_neardup_pairs): every vector's 5
    // nearest neighbors — the scale path where broadcast-queries
    // cosineTopK does not apply because the query set IS the corpus
    "knn_join" -> ((s, dir) =>
      Similarity.knnJoin(Tables.embeddings(s, dir), k = 5,
        assignments = 24, minSharedCells = 2)),

    // ...and its serving twin: assignments AND vectors read from the
    // stored multi-assign index — the n x C corpus encode runs zero
    // times per call (output-pinned identical by SimilaritySuite)
    "knn_join_prebuilt" -> ((s, dir) =>
      Similarity.knnJoinPrebuilt(Tables.embeddings(s, dir),
        s"$dir/embeddings.parquet", k = 5,
        assignments = 24, minSharedCells = 2)),

    // SemDeDup-style semantic dedup (Abbas et al. 2023 shape): the
    // IVF-bucketed embedding near-dup pairs resolved into clusters
    // (pointer-doubling CC), keep the min-id vector per cluster —
    // the composed keep-one form of embedding_neardup_pairs +
    // neardup_clusters, over vectors instead of text
    // r18: the component resolution rides the exact-dup collapse
    // (ivfNearDupComponentsCollapsed, the neardupComponents shape
    // over vectors) — copy-heavy corpora never materialize the
    // member-level pair list before CC
    "semantic_dedup" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfNearDupComponentsCollapsed(e, threshold = 0.3,
        assignments = 24, minSharedCells = 2,
        dupGate = injected(graft.operators.Dedup.DefaultDupGate))
        .select(col("id").as("vec_id"), col("label").as("component"),
          (col("label") === col("id")).cast("int").as("is_survivor"))
        .orderBy("vec_id")
    }),

    // Per-label centroid embeddings (mean-pool + L2-normalize): the
    // class-prototype / cluster-centroid construction step. Exact
    // cross-engine doubles via the quantized-sums-normalized-directly
    // identity (the mean factor cancels under L2) — see Embeddings.
    "embedding_pool" -> ((s, dir) =>
      graft.operators.Embeddings.groupCentroids(
        Tables.embeddings(s, dir), "label")),

    // ANN very-large-C path: two-level (coarse-then-fine) assignment —
    // vectors rank 8 super-centroids, then score only their 2 nearest
    // super-cells' centroids (~2 sqrt(C) dots per vector instead of
    // C). The oracle replays both levels with the same
    // (cosine DESC, id) tiebreaks.
    "ann_ivf_twolevel" -> boundedPlan((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 8), 5,
        numCentroids = 64, nprobe = 8, superCells = 8, superProbes = 2)
        .transform(topkSorted)
    }),

    // Product quantization (memory-side ANN scale path): 4 subspaces
    // x 16-entry sample codebooks, documents stored as 4 small codes,
    // queries score via exact-integer ADC table lookups
    "ann_pq_topk" -> boundedPlan((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.Pq.pqTopK(e, e.filter(col("vec_id") < 8), 5)
        .transform(topkSorted)
    }),

    // ...and its build-once/query-many serving twin (stored code
    // frame, same oracle — the sample codebook and codes are
    // deterministic functions of the corpus; SimilaritySuite pins
    // served == inline)
    "ann_pq_prebuilt_topk" -> boundedPlan((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.Pq.pqTopKPrebuilt(e, s"$dir/embeddings.parquet",
        e.filter(col("vec_id") < 8), 5)
        .transform(topkSorted)
    }),

    // PQ scan over FITTED k-means sub-codebooks (the quality path),
    // registered in its store-pinned serving form: the fitted
    // codebook is a build artifact (PinnedCodebook.FittedPq) both
    // engines consume literally — Spark through the codebooks
    // override, DuckDB through a generated VALUES table — so the
    // fitted-codebook ADC top-k is fully hash-checked. Served from
    // the STORED fitted-code frame (r14): per call this collects the
    // query set and ADC-scans index bytes — the corpus encode pass
    // is build-time, and the distance tables are driver arithmetic
    // on the literal codebook (no codebook job at all). The live
    // in-call k-means fit stays as the suite-pinned twin
    // (SimilaritySuite pins driver fit == distributed loop
    // bit-for-bit; ann_pq_fitted_bounds audits its distortion;
    // served == inline pinned in SimilaritySuite).
    "ann_pq_fitted_topk" -> boundedPlan((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.Pq.pqTopKPinnedPrebuilt(e,
        s"$dir/embeddings.parquet", e.filter(col("vec_id") < 8), 5,
        PinnedCodebook.FittedPq)
        .transform(topkSorted)
    }),

    // Driver-auditable quality bound for the fitted codebook: ONE
    // boolean row "fitted codebook's total quantization distortion
    // <= sample codebook's" — distortion is the objective k-means
    // MINIMIZES, so it is the claim a fit must defend (top-5 recall
    // on 8 near-uniform queries is noise by comparison: measured
    // sample 14/40 vs fitted 6/40 hits at sf0.01, both inside the
    // documented worst case). The bound is an INVARIANT of
    // construction, not of this data/seed: kmeansCodebook returns
    // best-of(fit, sample) per subspace by exact distortion (k-means||
    // init is not seeded from the sample, so Lloyd alone would only
    // beat its own init), so a testdata or seed refresh cannot flip
    // this row. Both codebooks and the integer distortion sum are
    // deterministic, so the boolean is hash-stable against the
    // trivially-true oracle — the audit row for the rows-only
    // ann_pq_fitted_topk.
    "ann_pq_fitted_bounds" -> boundedPlan((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val sampleCb = graft.operators.Pq.codebook(e, m = 4, ksub = 16)
      val fittedCb = graft.operators.Pq.kmeansCodebook(e, m = 4, ksub = 16)
      val Seq(dSample, dFitted) = graft.operators.Pq.codebookDistortions(
        e, Seq(sampleCb, fittedCb))
      import s.implicits._
      Seq(dFitted <= dSample).toDF("fitted_ok")
    }),

    // IVF+PQ: ADC scan restricted to each query's probed IVF cells —
    // IVF cuts the scanned fraction, PQ the bytes per scanned vector
    "ann_ivfpq_topk" -> boundedPlan((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.Pq.ivfPqTopK(e, e.filter(col("vec_id") < 8), 5,
        numCentroids = 64, nprobe = 8)
        .transform(topkSorted)
    }),

    // IVF+PQ with exact re-ranking: the ADC scan nominates 50
    // candidates per query, only those fetch raw vectors for the
    // exact cosine — the full production ANN shape
    "ann_ivfpq_rerank" -> boundedPlan((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.Pq.ivfPqRerankTopK(e, e.filter(col("vec_id") < 8), 5,
        numCentroids = 64, nprobe = 8, rerank = 50)
        .transform(topkSorted)
    }),

    // The build half of the build-once/query-many pair: encode the
    // corpus into the persistent IVF+PQ index (m codes + one cell id
    // per vector), FORCE-written to the on-disk IndexStore each call
    // so this row always records the honest build cost. The frame is
    // the exploded (scalar-typed) index itself, so the oracle replays
    // the encode+assign relationally.
    "ann_ivfpq_build" -> boundedPlan((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.Pq.storedIvfPqIndex(e, s"$dir/embeddings.parquet",
        numCentroids = 64, m = 4, ksub = 16, force = true)
        .select(col("vec_id"), col("cent_id"),
          posexplode(col("codes")).as(Seq("subspace", "code")))
        .select(col("vec_id"), col("subspace"), col("code"), col("cent_id"))
        .orderBy("vec_id", "subspace")
    }),

    // ...and the query halves: identical semantics (and oracle) to
    // ann_ivfpq_topk / ann_ivfpq_rerank, but served from the stored
    // index — the per-call work is the tiny builds plus the
    // probed-cell scan over index bytes; the corpus-wide encode runs
    // ZERO times per query. At 100 TB this is the only shape that
    // exists: ann_ivfpq_topk/rerank document build+query cost in one
    // number, these two record steady-state serving. (Their DuckDB
    // oracle still re-derives the codes relationally — it has no
    // store — so the bench ratio for these rows compares Spark
    // serving against a DuckDB build+serve; SCALING.md states this.)
    "ann_ivfpq_prebuilt_topk" -> boundedPlan((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.Pq.ivfPqTopKPrebuilt(e, s"$dir/embeddings.parquet",
        e.filter(col("vec_id") < 8), 5, numCentroids = 64, nprobe = 8)
        .transform(topkSorted)
    }),
    "ann_ivfpq_prebuilt_rerank" -> boundedPlan((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.operators.Pq.ivfPqRerankTopKPrebuilt(e, s"$dir/embeddings.parquet",
        e.filter(col("vec_id") < 8), 5, numCentroids = 64, nprobe = 8,
        rerank = 50)
        .transform(topkSorted)
    }),

    // Sessionization (relational form): 30-min-gap user sessions via
    // lag + cumulative-sum windows; exact-cents totals. Same
    // window-vs-blocked decision as event_gaps above:
    // SkewScan.sessionizeSkewSafe is the pinned hot-key escape hatch.
    "sessionize_batch" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000000").as("t"),
          Tables.cents(col("value")).as("vc"))
        .withColumn("prev", lag(col("t"), 1).over(w))
        .withColumn("new_s",
          (col("prev").isNull || (col("t") - col("prev")) > 1800000L).cast("int"))
        .withColumn("sidx", sum(col("new_s"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("sidx"))
        .agg(
          min(col("t")).as("session_start_ms"),
          max(col("t")).as("session_end_ms"),
          count(lit(1)).cast("int").as("n_events"),
          (sum(col("vc")).cast("double") / 100).as("total_value"))
        .drop("sidx")
        .orderBy("user_id", "session_start_ms")
    }),

    // Multimodal plumbing: stubbed MD5 decode over binary payloads.
    // The feature vector is projected to scalar quantized-int columns
    // (f0..f7 = the raw 0..999 kernel values, recovered exactly from
    // the float via round(x*1000)) so the driver's sort-based compare
    // and the DuckDB oracle both work; the oracle reconstructs the
    // ASCII payload and replays md5(payload||':'||k) prefix-48 mod
    // 1000. The array-emitting form stays available for the
    // Similarity composition (featureEmbeddings).
    "media_features" -> ((s, dir) => {
      val feats = graft.operators.Multimodal.extractFeatures(
        graft.operators.Multimodal.syntheticMedia(s, 100)).toDF()
      val fCols = (0 until graft.operators.Multimodal.FeatureDim).map(k =>
        round(element_at(col("feature"), k + 1).cast("double") * 1000)
          .cast("int").as(s"f$k"))
      feats.select(Seq(col("media_id"), col("kind"),
          col("n_bytes")) ++ fCols: _*)
        .orderBy("media_id")
    }),

    // Multimodal dedup: perceptual-hash band-blocked near-dup pairs
    // over the binary payload column — the dedup path for the one
    // column type that had features but no dedup. The media corpus
    // is carved from documents (payload = raw text bytes, ASCII by
    // fixture contract — byte grams == SQL substr grams), so the
    // planted near-dup structure carries over and the oracle can
    // replay the sliding-gram MD5 signature bit-for-bit.
    "media_neardup_pairs" -> ((s, dir) => {
      val media = Tables.documents(s, dir).select(
        col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload"))
      graft.operators.Multimodal.mediaNearDupPairs(media, maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // Frame-level video near-dup: payloads cut into 128-byte "frames"
    // (the decoded-frame stand-in), per-frame perceptual signatures,
    // band-blocked any-to-any frame matching, per-video-pair rollup.
    // Same documents-derived media carve as media_neardup_pairs so the
    // planted near-dup structure carries over and the oracle replays
    // the per-frame sliding-gram MD5 signature bit-for-bit.
    "frame_neardup_pairs" -> ((s, dir) => {
      val media = Tables.documents(s, dir).select(
        col("doc_id").as("media_id"),
        col("text").cast("binary").as("payload"))
      graft.operators.Multimodal.frameNearDupPairs(media,
        frameBytes = 128, maxHamming = 3, minFrames = 2)
        .orderBy("id_a", "id_b")
    }),

    // Analytic windows beyond row_number: running sum + lag
    "window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, dir)
        .filter(col("l_suppkey") < 5)
        .select(
          col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("running_qty"),
          lag(col("l_quantity"), 1).over(w).as("prev_qty"))
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    }),

    // Decontamination: docs sharing any 8-gram with the "benchmark"
    // slice (doc_id % 97 == 1 plays the eval set) — broadcast
    // benchmark n-grams, one corpus tokenize, map-side prune
    "contamination_check" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminatedDocs(docs, docs.filter(col("doc_id") % 97 === 1))
        .orderBy("doc_id")
    }),

    // Same check through the bloom pre-pass (the extreme-benchmark
    // scale path): false positives only widen the exact join's probe
    // side, so it shares contamination_check's oracle verbatim
    "contamination_check_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminatedDocsBloom(docs, docs.filter(col("doc_id") % 97 === 1))
        .orderBy("doc_id")
    }),

    // Sequence packing: concat-then-chunk attribution of each doc to
    // the 512-token training sequences it lands in, per language —
    // exact integer offsets, a doc may straddle bin boundaries
    // CCNet-style LM quality screen: Laplace-smoothed bigram LM
    // trained on a reference slice (top-M bigrams, broadcast), every
    // document scored by average negative log-probability — exact
    // integer-quantized log terms so the per-doc sum is order-free
    // plan-form model: the vocabulary count rides in as a broadcast
    // subtree (bigramLmPlan), not a serializing driver count — same
    // V, bit-identical scores (TextDedupSuite pins the two forms)
    "lm_perplexity" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val (lm, vocabDf) = graft.operators.Lm.bigramLmPlan(
        docs.filter(col("doc_id") % 7 === 3))
      // corpus-proportional per-doc output on a dense id domain:
      // probed-bounds sort, not a sampling pass that replays scoring
      graft.core.StaticRange.denseIdSort(
        graft.operators.Lm.lmScoreWith(docs, lm, vocabDf),
        docs, "doc_id", Seq(col("doc_id").asc))
    }),

    "pack_sequences" -> ((s, dir) =>
      graft.operators.Packing.packSequences(
        Tables.documents(s, dir), TextFunctions.tokenCount(col("text")),
        Seq("lang"), "doc_id", seqLen = 512L)
        .orderBy("doc_id", "bin_id")),

    // Distribution-analytic windows: quartile bucket + percent_rank
    // of each doc's quality within its language (full (quality,
    // doc_id) tiebreak so every engine bins identically)
    "ntile_quality" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("quality").desc, col("doc_id").asc)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .select(col("doc_id"), col("lang"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"))
        .orderBy("doc_id")
    }),

    // Range (theta) join: errors of the same user within the hour
    // BEFORE each purchase — equi on user_id with an exact-integer
    // nano range residual (ts is raw nanos; never a double round-trip)
    "j_range_prior_errors" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      // both sides derive from the same scan: rename the error side's
      // join key so the equi-predicate is between distinct columns
      // (avoids Spark's trivially-true same-lineage warning and the
      // cross-join trap a lineage-changing refactor would spring)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val e = ev.filter(col("event_type") === "error")
        .select(col("user_id").as("e_user_id"), col("ts").as("ets"),
          col("event_id").as("eid"))
      p.join(e, col("user_id") === col("e_user_id") &&
          col("ets") >= col("ts") - lit(3600000000000L) &&
          col("ets") <= col("ts"), "left")
        .groupBy(col("event_id"))
        .agg(count(col("eid")).as("n_prior_errors"))
        .orderBy("event_id")
    }),

    // GROUPING SETS beyond rollup/cube: per-language and per-source
    // aggregates in one pass (the union of two group-bys)
    "grouping_sets_agg" -> ((s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("gs_documents")
      s.sql("""SELECT lang, source, count(*) AS n, sum(n_chars) AS chars
              |FROM gs_documents
              |GROUP BY GROUPING SETS ((lang), (source))
              |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin)
    }),

    // Full-text retrieval: BM25 top-10 documents per query (Okapi
    // BM25, Lucene-style non-negative idf). The query-term set
    // broadcasts and prunes the token stream before the tf shuffle;
    // per-term weights quantize to exact integers so the score sum is
    // order-independent; per-query top-k via the bounded aggregate
    "bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val q = Bm25Queries.toDF("query_id", "term")
      graft.operators.Retrieval.bm25TopK(
        Tables.documents(s, dir), q, k = 10, k1 = Bm25K1, b = Bm25B)
        .transform(topkSorted)
    }),

    // Data mixing: cap each source's contribution at a token budget,
    // walking docs best-quality-first — exact integer cumulative sum,
    // narrow window rows, winners semi-join back to full rows
    "domain_token_budget" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.Curation.tokenBudget(docs,
        TextFunctions.qualityScore(col("text")),
        TextFunctions.tokenCount(col("text")),
        Seq("source"), "doc_id", budget = 800L)
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"),
          col("cum_tokens"))
        .orderBy("doc_id")
    }),

    // Quality-proportional deterministic sampling: acceptance
    // probability = min(n_tokens/100, 1) keyed on the content hash —
    // no RNG, no shuffle, reproducible at any parallelism
    "sample_weighted" -> ((s, dir) =>
      graft.operators.Sampling.weightedSample(
        Tables.documents(s, dir), "doc_id",
        least(TextFunctions.tokenCount(col("text")).cast("double") / lit(100.0),
          lit(1.0)))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // Domain-mixture resample: ~50% of the corpus re-weighted to a
    // target language mixture (en/de/fr at 50/30/20; es and zh are
    // dropped by omission from the recipe) — the domain-reweighting
    // step of a training-data mixture. One tiny aggregate broadcast
    // back as per-domain hash thresholds; the corpus passes once
    // through a stateless filter.
    "mixture_sample" -> ((s, dir) =>
      graft.operators.Sampling.mixtureSample(
        Tables.documents(s, dir), "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2), totalFraction = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // Deterministic train/val/test split: content-hash range
    // assignment (80/10/10) — stable under corpus growth, unlike an
    // RNG split
    "split_assign" -> ((s, dir) =>
      graft.operators.Sampling.hashSplit(
        Tables.documents(s, dir).select(col("doc_id")),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id")),

    // PII redaction over a corpus carrying synthetic-but-well-formed
    // identifiers (the testdata text is PII-free, so the row injects
    // a deterministic email/phone/IP per document and redacts them —
    // the regex chain itself is what the oracle hash-checks).
    // Sorted-first: the narrow (doc_id, lang, text) frame sorts, the
    // regex chain rides in a projection ABOVE the sort (order
    // preserved — the json_extract shape, SCALING.md round 11).
    "pii_redact" -> ((s, dir) => {
      val withPii = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@example.com or +1-555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text"))
        .orderBy("doc_id")
        .select(col("doc_id"), col("lang"),
          graft.operators.Curation.redactPii(withPii).as("red_text"))
    }),

    // RAG-style token-window chunking: overlapping 32-token chunks
    // advanced by 24 (8 tokens of shared context). Sorted-first: the
    // narrow (doc_id, text) frame range-sorts on doc_id, the explode
    // rides ABOVE the sort and emits chunk_ids in sequence order, so
    // the output arrives (doc_id, chunk_id)-ordered without a second
    // sort over the multiplied rows.
    "chunk_overlap" -> ((s, dir) =>
      graft.operators.Chunking.chunkByTokens(
        Tables.documents(s, dir).select(col("doc_id"), col("text"))
          .orderBy("doc_id"),
        window = 32, stride = 24)),

    // End-to-end curation pipeline — the COMPOSITION the individual
    // curation rows exist for (CurationDemo's funnel, oracle-checked):
    // gopher gate -> exact dedup -> 8-gram decontamination -> top-75%
    // quality per lang -> 800-token budget per source -> 50-per-lang
    // stratified sample -> 32/24 token chunking. Each stage is the
    // registered operator at the registered knobs; what this row
    // gates is the chaining itself — cache lifecycle, shuffle reuse,
    // and column threading across 7 operators. `clean` is persisted
    // because THREE consumers walk it (the quality narrow pass, the
    // winners semi-join, and the budget window); everything below is
    // linear.
    "curation_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // the gate stays a SEMI JOIN against the (small) keeper-id
      // frame, deliberately NOT an in-place predicate filter: gated
      // appears four times in the un-persisted plan below (dedup's
      // two sides, decontamination's two consumers), and the join
      // form puts the expensive repetition-profile walk under a
      // broadcast exchange that ReuseExchange evaluates ONCE per job,
      // where the inline filter re-walks every consumer's scan
      // (CurationPipeProbe r15: 7.4 s inline vs 3.6 s join — the
      // explode-free cousin of the CollapseProject trap). The keeper
      // subtree: kernelFloor spreads the profile walk (a HEAVY
      // kernel, ~0.3 ms/doc — the DSIR regime), and the gate is the
      // native single-call gopher_keep — a filter over gopherGate's
      // profile EXTRACTS is rewritten by predicate pushdown into up
      // to eight kernel walks per row (GateMicroProbe r15: 16.4 s vs
      // 0.37 s at the 10x corpus)
      val gated = docs.join(
        // heavy = true: the repetition-profile walk is ~0.3 ms/doc —
        // the one kernel measured to still want the floor at
        // sub-threshold input sizes (r22 A/B: curation 1.90 s with
        // the floor vs 2.12 without, same window)
        graft.core.Parallelism.kernelFloor(docs, heavy = true)
          .filter(graft.functions.RepetitionFunctions
            .gopher_keep(col("text"), minTokens = 25))
          .select("doc_id"),
        Seq("doc_id"), "left_semi")
      val exact = Dedup.dedupExact(gated)
      val bench = docs.filter(col("doc_id") % 97 === 1)
      val clean = graft.core.OpCaches.persistTracked(
        exact.join(
          Dedup.contaminatedDocs(exact, bench).select("doc_id"),
          Seq("doc_id"), "left_anti"))
      val filtered = graft.operators.Curation.topFractionBounded(
        clean, TextFunctions.qualityScore(col("text")), Seq("lang"),
        "doc_id", 0.75)
      val mixed = graft.operators.Curation.tokenBudget(filtered,
        TextFunctions.qualityScore(col("text")),
        TextFunctions.tokenCount(col("text")),
        Seq("source"), "doc_id", budget = 800L)
      val sampled = graft.operators.Sampling.stratifiedSampleRows(
        mixed.drop("cum_tokens"), Seq("lang"), "doc_id", 50)
      graft.core.StaticRange.denseIdSort(
        graft.operators.Chunking.chunkByTokens(
          sampled.select(col("doc_id"), col("text")),
          window = 32, stride = 24),
        docs, "doc_id", Seq(col("doc_id").asc, col("chunk_id").asc))
    }),

    // Winnowing fingerprints (Schleimer et al. 2003): k=3-token
    // shingles, window w=4 — the MOSS-style passage sketch. Same
    // sorted-first shape; fps explode pre-sorted ascending per doc.
    "winnow_fingerprints" -> ((s, dir) =>
      graft.operators.Fingerprint.winnowFingerprints(
        Tables.documents(s, dir).select(col("doc_id"), col("text"))
          .orderBy("doc_id"),
        k = 3, w = 4)),

    // MOSS-style passage-overlap candidates: pairs sharing >= 2
    // winnowing fingerprints, posting-list expansion, df-capped at 5
    "winnow_pairs" -> ((s, dir) =>
      graft.operators.Fingerprint.winnowPairs(
        Tables.documents(s, dir), k = 3, w = 4, minShared = 2)
        .orderBy("id_a", "id_b")),

    // Exact duplicated-substring spans (Lee et al. 2022 substring
    // dedup, token-window form): maximal token runs covered by a
    // 20-token window occurring >= 2 times anywhere in the corpus —
    // flags the duplicated REGIONS (boilerplate, licence blocks)
    // rather than whole near-dup documents
    // output sort is the probed-bounds pass-through (doc ids are a
    // dense domain of the source table) — no sampling job, so the
    // span pipeline executes exactly once and needs no outer persist
    "dup_spans" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.core.StaticRange.denseIdSort(
        graft.operators.SubstringDedup.duplicateSpans(docs, windowTokens = 20),
        docs, "doc_id",
        Seq(col("doc_id").asc, col("span_start").asc))
    }),

    // ...and its per-document summary: duplicated-token share — the
    // "drop mostly-boilerplate documents" filter input
    "dup_stats" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.core.StaticRange.denseIdSort(
        graft.operators.SubstringDedup.duplicationStats(docs, windowTokens = 20),
        docs, "doc_id", Seq(col("doc_id").asc))
    }),

    // ...and the ingest-time serving form: an arriving batch (the
    // doc_id%5==0 slice) screened for windows already duplicated in
    // the standing corpus (the rest), with the corpus dup-key table
    // read from the IndexStore — the corpus-sized pass runs zero
    // times per call. `variant` names the corpus SLICE (store
    // entries fingerprint the file, not the frame)
    "dup_screen_prebuilt" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.core.StaticRange.denseIdSort(
        graft.operators.SubstringDedup.dupScreenBatchPrebuilt(
          docs.filter(col("doc_id") % 5 =!= 0), s"$dir/documents.parquet",
          docs.filter(col("doc_id") % 5 === 0), windowTokens = 20,
          variant = "holdout5"),
        docs, "doc_id", Seq(col("doc_id").asc, col("s").asc))
    }),

    // ...and the DSIR serving form: an arriving batch (doc_id%5==0)
    // scored under the PINNED model of the standing corpus (the
    // rest, target = its English slice), the (bucket, q) table read
    // from the IndexStore — per call: one B-row collect + one
    // map-only row-local scoring pass, zero corpus access
    "dsir_weights_prebuilt" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.core.StaticRange.denseIdSort(
        graft.operators.Dsir.scoreBatchPrebuilt(
          docs.filter(col("doc_id") % 5 =!= 0), s"$dir/documents.parquet",
          docs.filter(col("doc_id") % 5 === 0), col("lang") === "en",
          variant = "holdout5-en"),
        docs, "doc_id", Seq(col("doc_id").asc))
    }),

    // ...and the two serving forms COMPOSED, end-to-end — the
    // ingest-side twin of curation_pipeline: an arriving batch
    // (doc_id%5==0) is screened against the standing corpus's STORED
    // substring dup-key table (drop any doc whose window already
    // occurs >=2 times in the corpus), survivors are scored under the
    // PINNED DSIR model of the same corpus, and the screened+scored
    // batch is packed into 512-token training sequences per language
    // with the score attached. Per call, ZERO corpus passes: both
    // artifacts ride the same IndexStore entries the individual
    // *_prebuilt rows serve from (identical corpus frame + variant —
    // the store-reuse contract). The batch-side work is ingest-sized:
    // screen join + row-local score fold + one narrow per-lang
    // window; survivors deliberately recomputed per consumer (two
    // cheap batch passes beat a persist materialization — the r14b
    // lesson). scored∩packed both exclude zero-token docs (no
    // features <=> no bins), so the inner join loses nothing.
    "ingest_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val path = s"$dir/documents.parquet"
      val hit = graft.operators.SubstringDedup.dupScreenBatchPrebuilt(
        corpus, path, batch, windowTokens = 20, variant = "holdout5")
        .select("doc_id").distinct()
      val survivors = batch.join(hit, Seq("doc_id"), "left_anti")
      val scored = graft.operators.Dsir.scoreBatchPrebuilt(
        corpus, path, survivors, col("lang") === "en",
        variant = "holdout5-en")
      val packed = graft.operators.Packing.packSequences(
        survivors, TextFunctions.tokenCount(col("text")), Seq("lang"),
        "doc_id", seqLen = 512L)
      graft.core.StaticRange.denseIdSort(
        packed.join(scored, Seq("doc_id")),
        docs, "doc_id", Seq(col("doc_id").asc, col("bin_id").asc))
    }),

    // DSIR-style hashed n-gram importance weights (Xie et al. 2023):
    // every document scored by ln-likelihood-ratio of its hashed
    // unigram+bigram features under the English slice vs the raw
    // pool — exact integer-quantized log terms, order-free sums
    "dsir_weights" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // self-target form: the en slice is a filter of the pool, so
      // one feature pass serves both models and the score stream;
      // the probed-bounds sort removes the sampling job, so the
      // whole pipeline runs exactly once, un-persisted
      graft.core.StaticRange.denseIdSort(
        graft.operators.Dsir.importanceWeightsSelf(
          docs, col("lang") === "en"),
        docs, "doc_id", Seq(col("doc_id").asc))
    }),

    // ...and the resampling step as a composition: keep the 25% most
    // target-like documents per source — importanceWeights piped
    // through the SKEW-SAFE Curation.topFractionBounded (counts +
    // bounded heaps + semi-join; no full-stratum window to serialize
    // a hot source through one task at scale). The stratum column
    // rides the score pass's own per-doc aggregation (extraCols), so
    // there is no second corpus join; the scored frame is cached
    // (narrow: 3 columns, one row per doc — the materialized score
    // table any DSIR deployment keeps between score and resample) so
    // the bounded form's consumers share ONE feature pass, and the
    // probed-bounds sort removes the winners persist + sampling job
    "dsir_select" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = graft.core.OpCaches.persistTracked(
        graft.operators.Dsir.importanceWeightsSelf(
          docs, col("lang") === "en", extraCols = Seq("source"))
          .select(col("doc_id"), col("source"), col("logweight")))
      graft.core.StaticRange.denseIdSort(
        graft.operators.Curation.topFractionBoundedNarrow(
          scored, col("logweight"), Seq("source"), "doc_id", 0.25,
          scoreName = "logweight")
          .select(col("doc_id"), col("source"), col("logweight")),
        docs, "doc_id", Seq(col("doc_id").asc))
    }),

    // Keyword extraction: top-3 TF-IDF terms per document. The final
    // frame is corpus-proportional (3 rows per doc) — range sort via
    // probed id bounds (dense doc ids), not a sampling pass that
    // replays the scoring stage, and not the single-partition
    // presentation sort.
    "tfidf_topterms" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.core.StaticRange.denseIdSort(
        graft.operators.Retrieval.tfidfTopTerms(docs, topK = 3),
        docs, "doc_id", Seq(col("doc_id").asc, col("rank").asc))
    }),

    // Set operations as explicit API, (user, day) grain: days a user
    // both viewed and purchased but saw no error (INTERSECT then
    // EXCEPT, both distinct; user-level sets are vacuous here — every
    // user has every event type)
    "set_ops" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      // ts is raw nanos (see Tables.events) — day index via exact
      // integer division, never a double round-trip
      def days(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id"), expr("ts div 86400000000000").as("d"))
      days("view").intersect(days("purchase")).except(days("error"))
        .orderBy("user_id", "d")
    })
  )

  // BM25 constants shared by the Spark side and the oracle text —
  // all floating constants are pre-folded HERE so both engines parse
  // the identical shortest-round-trip decimal
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private[graft] val Bm25Queries: Seq[(Long, String)] = Seq(
    (1L, "spark"), (1L, "join"),
    (2L, "hash"), (2L, "table"), (2L, "scan"),
    (3L, "stream"), (3L, "window"),
    (4L, "vector"), (4L, "nosuchterm"))

  // --- text-oracle fragments (generated from the same constants the
  // --- Spark expressions use, so the two sides cannot drift) ---------

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString(", ")
  private val sw = TextFunctions.stopwords.toMap

  private val TokensExpr = """regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')"""
  private val NTokensExpr =
    s"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($TokensExpr) END"
  private val NPunctExpr =
    "length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))"

  // repetition-kernel oracle fragments, shared by repetition_stats and
  // gopher_quality_gate: CTE list + the final per-doc stats select
  // (mirrors RepetitionKernel's counts exactly)
  private val RepetitionCtes =
    """lines AS (
      |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents),
      |lc AS (SELECT doc_id, line, count(*) AS c FROM lines GROUP BY 1, 2),
      |lstats AS (
      |  SELECT doc_id,
      |         sum(c) AS n_lines,
      |         coalesce(sum(c) FILTER (WHERE c > 1), 0) AS n_dup_lines,
      |         coalesce(sum(c * length(line)) FILTER (WHERE c > 1), 0) AS dup_line_chars,
      |         sum(c * length(line)) AS line_chars
      |  FROM lc GROUP BY 1),
      |toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS t
      |  FROM documents),
      |tstats AS (
      |  SELECT doc_id, len(t) AS n_tokens,
      |         coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS token_chars
      |  FROM toks),
      |g2 AS (SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
      |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)),
      |g2c AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
      |g2s AS (SELECT doc_id, max(c * length(g)) AS top2gram_chars FROM g2c GROUP BY 1),
      |g5 AS (SELECT doc_id,
      |              t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3] || ' ' || t[i + 4] AS g
      |       FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i FROM toks)),
      |g5c AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2),
      |g5s AS (SELECT doc_id,
      |               coalesce(sum(c * length(g)) FILTER (WHERE c > 1), 0) AS dup5gram_chars
      |        FROM g5c GROUP BY 1)""".stripMargin

  private val RepetitionSelect =
    """SELECT d.doc_id,
      |       CAST(l.n_lines AS BIGINT) AS n_lines,
      |       CAST(l.n_dup_lines AS BIGINT) AS n_dup_lines,
      |       CAST(l.dup_line_chars AS BIGINT) AS dup_line_chars,
      |       CAST(l.line_chars AS BIGINT) AS line_chars,
      |       CAST(coalesce(g2s.top2gram_chars, 0) AS BIGINT) AS top2gram_chars,
      |       CAST(coalesce(g5s.dup5gram_chars, 0) AS BIGINT) AS dup5gram_chars,
      |       CAST(t.n_tokens AS BIGINT) AS n_tokens,
      |       CAST(t.token_chars AS BIGINT) AS token_chars
      |FROM documents d
      |JOIN lstats l USING (doc_id)
      |JOIN tstats t USING (doc_id)
      |LEFT JOIN g2s USING (doc_id)
      |LEFT JOIN g5s USING (doc_id)""".stripMargin

  private val ShinglesCte =
    s"""w AS (SELECT doc_id, $TokensExpr AS ws FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(generate_series(1, len(ws) - 2),
       |                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sg
       |  FROM w WHERE len(ws) >= 3)""".stripMargin

  // quantized-embedding oracle fragment (mirrors Similarity.prepared)
  private val QuantCte =
    """qn AS (
      |  SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS n2
      |  FROM (SELECT vec_id,
      |               list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      |        FROM embeddings))""".stripMargin

  // IVF oracle fragments (mirror Similarity.centroidSample /
  // nearestCentroids exactly: lowest-id centroids by row_number — NOT
  // `vec_id < C`, which only coincides for 0-based contiguous ids —
  // cosine ranked DESC with cent_id ASC tiebreak). `limitSql` mirrors
  // the centroid count: a literal for fixed-C paths, the
  // autoCentroids formula greatest(16, ceil(n/16)) for scaled paths.
  private def centCte(limitSql: String): String =
    s"""cent AS (SELECT vec_id AS cent_id, v AS cv, n2 AS cn2 FROM qn
       |         QUALIFY row_number() OVER (ORDER BY vec_id) <= $limitSql)""".stripMargin
  // mirrors Similarity.autoCentroids: C = ceil(sqrt(n * targetCell)),
  // floor 16 — sqrt/ceil are IEEE-exact so both engines agree
  private val AutoCentroidsSql =
    "greatest(16, CAST(ceil(sqrt((SELECT count(*) FROM qn) * 16.0)) AS BIGINT))"

  private def cosSql(va: String, vb: String, na: String, nb: String): String =
    s"list_sum(list_transform(generate_series(1, 64), i -> $va[i] * $vb[i]))" +
      s" / sqrt(CAST($na * $nb AS DOUBLE))"

  private lazy val EmbIncrementalSql =
    s"""WITH $QuantCte,
         |qc AS (SELECT * FROM qn WHERE vec_id >= 40),
         |qb AS (SELECT * FROM qn WHERE vec_id < 40),
         |cent AS (SELECT vec_id AS cent_id, v AS cv, n2 AS cn2 FROM qc
         |         QUALIFY row_number() OVER (ORDER BY vec_id) <=
         |           greatest(16, CAST(ceil(sqrt((SELECT count(*) FROM qc) * 16.0)) AS BIGINT))),
         |mc AS (SELECT vec_id, cent_id FROM (
         |         SELECT q.vec_id, c.cent_id,
         |                row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |                  ${cosSql("q.v", "c.cv", "q.n2", "c.cn2")} DESC, c.cent_id) AS rk
         |         FROM qc q CROSS JOIN cent c) WHERE rk <= 24),
         |mb AS (SELECT vec_id, cent_id FROM (
         |         SELECT q.vec_id, c.cent_id,
         |                row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |                  ${cosSql("q.v", "c.cv", "q.n2", "c.cn2")} DESC, c.cent_id) AS rk
         |         FROM qb q CROSS JOIN cent c) WHERE rk <= 24),
         |cand AS (SELECT b.vec_id AS batch_id, c.vec_id AS corpus_id
         |         FROM mb b JOIN mc c USING (cent_id)
         |         GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT * FROM (
         |  SELECT batch_id, corpus_id,
         |         ${cosSql("a.v", "b.v", "a.n2", "b.n2")} AS cosine
         |  FROM cand JOIN qb a ON a.vec_id = batch_id
         |            JOIN qc b ON b.vec_id = corpus_id)
         |WHERE cosine >= 0.3
         |ORDER BY batch_id, corpus_id""".stripMargin

  private lazy val KnnJoinSql =
    s"""WITH $QuantCte,
         |${centCte(AutoCentroidsSql)},
         |multi AS (SELECT vec_id, cent_id FROM ${ivfRanked("")}
         |          WHERE rk <= 24),
         |cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |         FROM multi a JOIN multi b USING (cent_id)
         |         WHERE a.vec_id < b.vec_id
         |         GROUP BY 1, 2 HAVING count(*) >= 2),
         |scored AS (
         |  SELECT id_a, id_b,
         |         list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i]))
         |           / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) AS cosine
         |  FROM cand JOIN qn a ON a.vec_id = id_a JOIN qn b ON b.vec_id = id_b),
         |directed AS (
         |  SELECT id_a AS vec_id, id_b AS neighbor_id, cosine FROM scored
         |  UNION ALL
         |  SELECT id_b, id_a, cosine FROM scored),
         |rk2 AS (SELECT *, CAST(row_number() OVER (
         |          PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
         |        FROM directed)
         |SELECT vec_id, neighbor_id, cosine, rank FROM rk2 WHERE rank <= 5
         |ORDER BY vec_id, rank""".stripMargin

  private def ivfRanked(where: String): String =
    s"""(SELECT q.vec_id, q.v, q.n2, c.cent_id,
       |        row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |          list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.cv[i]))
       |            / sqrt(CAST(q.n2 * c.cn2 AS DOUBLE)) DESC, c.cent_id) AS rk
       | FROM qn q CROSS JOIN cent c$where)""".stripMargin

  // the PQ codebook/encode/distance-table pipeline as reusable CTEs
  // (shared by the plain-PQ and the IVF+PQ oracle): 4 subspaces x 16
  // dims, 16-entry sample codebooks from the lowest-id vectors
  // the encode + ADC-table tail over whatever `cb(s, j, e)` CTE
  // precedes it (the lowest-id sample for the oracle-derivable rows,
  // literal VALUES for the pinned fitted codebook)
  private val PqEncDtabCtes =
    s"""enc AS (SELECT vec_id, s, j AS code FROM (
       |          SELECT qn.vec_id, cb.s, cb.j,
       |            row_number() OVER (PARTITION BY qn.vec_id, cb.s ORDER BY
       |              list_sum(list_transform(generate_series(1, 16),
       |                i -> (qn.v[cb.s * 16 + i] - cb.e[i]) * (qn.v[cb.s * 16 + i] - cb.e[i]))), cb.j) AS r
       |          FROM qn CROSS JOIN cb) WHERE r = 1),
       |dtab AS (SELECT q.vec_id AS query_id, cb.s, cb.j,
       |           CAST(list_sum(list_transform(generate_series(1, 16),
       |             i -> (q.v[cb.s * 16 + i] - cb.e[i]) * (q.v[cb.s * 16 + i] - cb.e[i]))) AS BIGINT) AS d
       |         FROM qn q CROSS JOIN cb WHERE q.vec_id < 8)""".stripMargin

  private val PqCtes =
    s"""low AS (SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS j FROM qn
       |        QUALIFY row_number() OVER (ORDER BY vec_id) <= 16),
       |cb AS (SELECT sub.s, low.j,
       |         list_slice(low.v, sub.s * 16 + 1, sub.s * 16 + 16) AS e
       |       FROM low CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) sub),
       |$PqEncDtabCtes""".stripMargin

  /** The pinned fitted codebook as a DuckDB VALUES table — generated
    * from [[PinnedCodebook.FittedPq]] so the oracle's literals can
    * never drift from the Spark side's.
    */
  private def pinnedCbCte: String = {
    val rows = PinnedCodebook.FittedPq.zipWithIndex.flatMap { case (sub, s) =>
      sub.zipWithIndex.map { case (e, j) =>
        s"($s, $j, [${e.mkString(", ")}])"
      }
    }
    rows.mkString("cb AS (SELECT * FROM (VALUES\n       ",
      ",\n       ", ") t(s, j, e))")
  }

  // the IVF-restricted ADC scan as reusable CTEs (shared by the
  // IVF+PQ query and its rerank variant): C=64 assignment, nprobe=8,
  // ADC sums ranked (pq_dist ASC, vec_id)
  private val IvfPqAdcCtes =
    s"""assign AS (SELECT vec_id, cent_id FROM ${ivfRanked("")} WHERE rk = 1),
       |probes AS (SELECT vec_id AS query_id, cent_id
       |           FROM ${ivfRanked(" WHERE q.vec_id < 8")} WHERE rk <= 8),
       |cand AS (SELECT p.query_id, a.vec_id
       |         FROM assign a JOIN probes p USING (cent_id)
       |         WHERE a.vec_id != p.query_id),
       |sc AS (SELECT c.query_id, c.vec_id, CAST(sum(dtab.d) AS BIGINT) AS pq_dist
       |       FROM cand c
       |       JOIN enc ON enc.vec_id = c.vec_id
       |       JOIN dtab ON dtab.query_id = c.query_id
       |                AND dtab.s = enc.s AND dtab.j = enc.code
       |       GROUP BY 1, 2),
       |rk AS (SELECT query_id, vec_id, pq_dist,
       |         row_number() OVER (PARTITION BY query_id ORDER BY pq_dist, vec_id) AS r
       |       FROM sc)""".stripMargin

  // the minhash signature/banding/candidate pipeline as reusable CTEs
  // (shared by the pair query and the cluster-resolution query)
  private val MinhashPairsCtes =
    s"""$ShinglesCte,
       |hs AS (
       |  SELECT doc_id,
       |         list_transform(sg, s -> {'h1': ('0x' || substr(md5(s), 1, 12))::BIGINT,
       |                                  'h2': ('0x' || substr(md5(s), 13, 12))::BIGINT}) AS hp
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |         list_transform(generate_series(0, 15),
       |           i -> list_min(list_transform(hp, p -> p.h1 + i * p.h2))) AS sig
       |  FROM hs),
       |banded AS (
       |  SELECT doc_id, sig, b AS band_idx,
       |         md5(sig[b*4+1]::VARCHAR || '|' || sig[b*4+2]::VARCHAR || '|' ||
       |             sig[b*4+3]::VARCHAR || '|' || sig[b*4+4]::VARCHAR) AS band_key
       |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS b)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
       |  FROM banded a
       |  JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |               AND a.doc_id < b.doc_id)""".stripMargin

  /** Unrolled-CTE depth of the neardup_clusters oracle. The oracle
    * iterates plain propagate+jump over the RAW edge list (no
    * shortcut phase — that is a Spark-side acceleration; both sides
    * compute the same fixpoint, and extra SQL rounds past it are
    * no-ops). Measured raw-scheme fixpoints (CcRounds probe, r4): 2
    * rounds at sf0.001/sf0.01, 13 at sf0.1 (a ~600-node adversarially
    * ordered component); 16 covers the largest with margin —
    * ComponentsSuite pins convergence per SF.
    */
  private val CcOracleRounds = 16

  /** One propagate+jump min-label round per CTE pair, mirroring
    * Components.runRounds exactly: p_i = min over the closed
    * neighborhood of l_{i-1}; l_i = least(p_i.label, p_i[label].label).
    * Every CTE is MATERIALIZED: each round references its predecessor
    * twice (closed neighborhood + self-join), so inlined CTEs would
    * re-expand the whole chain 2^k times — the SQL twin of the
    * iterative-lineage blowup localCheckpoint prevents on the Spark
    * side.
    */
  private def ccRoundsSql(k: Int): String = {
    val base = Seq(
      """edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs)""".stripMargin,
      """l0 AS MATERIALIZED (SELECT id, id AS label FROM
        |        (SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs))""".stripMargin)
    val rounds = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (SELECT id, min(label) AS label FROM (
         |  SELECT id, label FROM l${i - 1}
         |  UNION ALL
         |  SELECT e.src AS id, l.label FROM edges e JOIN l${i - 1} l ON e.dst = l.id) GROUP BY id),
         |l$i AS MATERIALIZED (SELECT a.id, least(a.label, b.label) AS label
         |        FROM p$i a JOIN p$i b ON a.label = b.id)""".stripMargin
    }
    (base ++ rounds).mkString(",\n")
  }

  /** Oracle for the greedy bucket resolution: the per-query greedy
    * walk (reference: dataproc/selectivesearch.py:160-181) visits
    * ranks 0..7 (4 shards x 2 buckets) in order, so it unrolls into 8
    * chained CTEs, each folding one rank's row into a per-query
    * (taken-per-shard list, total) state. Same math as
    * BucketResolver, expressed relationally for DuckDB.
    */
  private def c8OracleSql: String = {
    val threshold = 5
    val bselCte =
      """bsel AS (
        |  SELECT query, shard, bucket,
        |         CAST(row_number() OVER (PARTITION BY query ORDER BY mass DESC, shard, bucket) - 1 AS INT) AS rank
        |  FROM (SELECT CAST(l_orderkey % 8 AS INT) AS query,
        |               CAST(l_suppkey % 4 AS INT) AS shard,
        |               CAST(l_linenumber % 2 AS INT) AS bucket,
        |               sum(l_quantity) AS mass
        |        FROM lineitem GROUP BY 1, 2, 3))""".stripMargin
    val s0 = "s0 AS (SELECT DISTINCT query, [0,0,0,0] AS taken, 0 AS total FROM bsel)"
    val steps = (0 until 8).map { i =>
      val cost = "(r.bucket + 1 - s.taken[r.shard + 1])"
      val ok = s"($cost >= 1 AND s.total + $cost <= $threshold)"
      s"""s${i + 1} AS (
         |  SELECT s.query,
         |    CASE WHEN $ok
         |      THEN list_transform(generate_series(1, 4),
         |             j -> CASE WHEN j = r.shard + 1 THEN s.taken[j] + $cost ELSE s.taken[j] END)
         |      ELSE s.taken END AS taken,
         |    CASE WHEN $ok THEN s.total + $cost ELSE s.total END AS total
         |  FROM s$i s JOIN (SELECT query, shard, bucket FROM bsel WHERE rank = $i) r USING (query))""".stripMargin
    }
    s"""WITH $ResultsCte,
       |$bselCte,
       |${(s0 +: steps).mkString(",\n")},
       |resolved AS (
       |  SELECT query, CAST(j - 1 AS INT) AS shard, CAST(b AS INT) AS bucket
       |  FROM s8, generate_series(1, 4) t(j), generate_series(0, 99) u(b)
       |  WHERE b < s8.taken[j])
       |SELECT r.query, r.shard, r.bucket, r.score, r.gdocid
       |FROM results r JOIN resolved v USING (query, shard, bucket)
       |ORDER BY r.query, r.score DESC, r.shard, r.bucket, r.gdocid""".stripMargin
  }

  /** Registered queries that are approximate BY DESIGN (mergeable
    * sketches whose internals differ across engines): no hash oracle
    * can exist, the driver records a rows-only check, and the unit
    * suite pins the values against the exact forms within the
    * documented error bounds. Additions here must stay deliberate —
    * EntrySuite asserts this set is exactly the no-oracle remainder.
    */
  val rowsOnlyQueries: Set[String] =
    Set("approx_agg_sketches")

  def oracleSql: Map[String, String] = Map(
    "c8_select_buckets" -> c8OracleSql,
    // mirrors Embeddings.groupCentroids: quantized component sums per
    // (label, pos), normalized directly (the mean factor cancels
    // under L2); squares summed in HUGEINT = Spark's DECIMAL(38,0)
    "embedding_pool" ->
      """WITH qe AS (
        |  SELECT label,
        |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |ex AS (
        |  SELECT label, unnest(generate_series(0, len(v) - 1)) AS pos, unnest(v) AS qx
        |  FROM qe),
        |sums AS (SELECT label, pos, SUM(qx) AS qsum FROM ex GROUP BY 1, 2),
        |norms AS (SELECT label, SUM(CAST(qsum AS HUGEINT) * qsum) AS ssq
        |          FROM sums GROUP BY 1)
        |SELECT s.label, CAST(s.pos AS INT) AS pos,
        |       CASE WHEN n.ssq = 0 THEN 0.0
        |            ELSE CAST(s.qsum AS DOUBLE) / sqrt(CAST(n.ssq AS DOUBLE)) END AS value
        |FROM sums s JOIN norms n USING (label)
        |ORDER BY label, pos""".stripMargin,

    "ann_cosine_topk" ->
      s"""WITH $QuantCte,
         |pairs AS (
         |  SELECT q.vec_id AS query_id, c.vec_id,
         |         list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * c.v[i]))
         |           / sqrt(CAST(q.n2 * c.n2 AS DOUBLE)) AS cosine
         |  FROM qn q JOIN qn c ON q.vec_id < 8 AND c.vec_id <> q.vec_id),
         |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rank
         |       FROM pairs)
         |SELECT query_id, vec_id, cosine, rank FROM rk WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // mirrors Similarity.knnClassify: the ann_cosine_topk neighbor
    // CTE, labels joined from embeddings, modal label per query
    "knn_label" ->
      s"""WITH $QuantCte,
         |pairs AS (
         |  SELECT q.vec_id AS query_id, c.vec_id,
         |         ${cosSql("q.v", "c.v", "q.n2", "c.n2")} AS cosine
         |  FROM qn q JOIN qn c ON q.vec_id < 8 AND c.vec_id <> q.vec_id),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |       FROM pairs),
         |nn AS (SELECT query_id, vec_id FROM rk WHERE rank <= 5),
         |v AS (SELECT nn.query_id, e.label, count(*) AS votes
         |      FROM nn JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
         |p AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |             ORDER BY votes DESC, label ASC) AS r FROM v)
         |SELECT query_id, label AS pred_label, votes FROM p WHERE r = 1
         |ORDER BY query_id""".stripMargin,

    "ann_ivf_topk" ->
      s"""WITH $QuantCte,
         |${centCte("64")},
         |assign AS (SELECT vec_id, v, n2, cent_id FROM ${ivfRanked("")}
         |           WHERE rk = 1),
         |probes AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2, cent_id
         |           FROM ${ivfRanked(" WHERE q.vec_id < 8")}
         |           WHERE rk <= 40),
         |scored AS (
         |  SELECT p.query_id, a.vec_id,
         |         list_sum(list_transform(generate_series(1, 64), i -> p.qv[i] * a.v[i]))
         |           / sqrt(CAST(p.qn2 * a.n2 AS DOUBLE)) AS cosine
         |  FROM assign a JOIN probes p USING (cent_id)
         |  WHERE a.vec_id <> p.query_id),
         |rk2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rank
         |        FROM scored)
         |SELECT query_id, vec_id, cosine, rank FROM rk2 WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // served-from-store twin: output-identical to ann_ivf_topk (the
    // assignment is deterministic), so the oracle is the same SQL —
    // DuckDB has no store and re-derives the assignment, making this
    // row's bench ratio Spark steady-state serving vs DuckDB
    // build+serve
    "ann_ivf_prebuilt_topk" ->
      s"""WITH $QuantCte,
         |${centCte("64")},
         |assign AS (SELECT vec_id, v, n2, cent_id FROM ${ivfRanked("")}
         |           WHERE rk = 1),
         |probes AS (SELECT vec_id AS query_id, v AS qv, n2 AS qn2, cent_id
         |           FROM ${ivfRanked(" WHERE q.vec_id < 8")}
         |           WHERE rk <= 40),
         |scored AS (
         |  SELECT p.query_id, a.vec_id,
         |         list_sum(list_transform(generate_series(1, 64), i -> p.qv[i] * a.v[i]))
         |           / sqrt(CAST(p.qn2 * a.n2 AS DOUBLE)) AS cosine
         |  FROM assign a JOIN probes p USING (cent_id)
         |  WHERE a.vec_id <> p.query_id),
         |rk2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rank
         |        FROM scored)
         |SELECT query_id, vec_id, cosine, rank FROM rk2 WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // mirrors Similarity.nearestCentroidsTwoLevel with C=64, S=8
    // supers (lowest-cent_id), P=2 probed super-cells, nprobe=8, k=5:
    // level 1 ranks supers per vector, level 2 ranks only the probed
    // super-cells' centroids — same (cos DESC, id ASC) tiebreaks as
    // the flat path
    "ann_ivf_twolevel" ->
      s"""WITH $QuantCte,
         |${centCte("64")},
         |sup AS (SELECT cent_id AS sup_id, cv AS sv, cn2 AS sn2 FROM cent
         |        QUALIFY row_number() OVER (ORDER BY cent_id) <= 8),
         |centsup AS (
         |  SELECT cent_id, cv, cn2, sup_id FROM (
         |    SELECT c.cent_id, c.cv, c.cn2, s.sup_id,
         |           row_number() OVER (PARTITION BY c.cent_id ORDER BY
         |             ${cosSql("c.cv", "s.sv", "c.cn2", "s.sn2")} DESC, s.sup_id) AS rk
         |    FROM cent c CROSS JOIN sup s) WHERE rk = 1),
         |vecsup AS (
         |  SELECT vec_id, v, n2, sup_id FROM (
         |    SELECT q.vec_id, q.v, q.n2, s.sup_id,
         |           row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |             ${cosSql("q.v", "s.sv", "q.n2", "s.sn2")} DESC, s.sup_id) AS rk
         |    FROM qn q CROSS JOIN sup s) WHERE rk <= 2),
         |assign AS (
         |  SELECT vec_id, v, n2, cent_id FROM (
         |    SELECT vs.vec_id, vs.v, vs.n2, cs.cent_id,
         |           row_number() OVER (PARTITION BY vs.vec_id ORDER BY
         |             ${cosSql("vs.v", "cs.cv", "vs.n2", "cs.cn2")} DESC, cs.cent_id) AS rk
         |    FROM vecsup vs JOIN centsup cs USING (sup_id)) WHERE rk = 1),
         |probes AS (
         |  SELECT vec_id AS query_id, v AS qv, n2 AS qn2, cent_id FROM (
         |    SELECT vs.vec_id, vs.v, vs.n2, cs.cent_id,
         |           row_number() OVER (PARTITION BY vs.vec_id ORDER BY
         |             ${cosSql("vs.v", "cs.cv", "vs.n2", "cs.cn2")} DESC, cs.cent_id) AS rk
         |    FROM vecsup vs JOIN centsup cs USING (sup_id)
         |    WHERE vs.vec_id < 8) WHERE rk <= 8),
         |scored AS (
         |  SELECT p.query_id, a.vec_id,
         |         ${cosSql("p.qv", "a.v", "p.qn2", "a.n2")} AS cosine
         |  FROM assign a JOIN probes p USING (cent_id)
         |  WHERE a.vec_id <> p.query_id),
         |rk2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rank
         |        FROM scored)
         |SELECT query_id, vec_id, cosine, rank FROM rk2 WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,

    // mirrors Pq.pqTopK: sample sub-codebooks from the 16 lowest-id
    // vectors' quantized sub-slices (4 subspaces x 16 dims), exact
    // integer L2 argmin encode with ties to the LOWER code index, ADC
    // distance-table scoring, rank (pq_dist ASC, vec_id ASC). Spark
    // expands (a-b)² as a²+b²-2ab over native integer dots — same
    // integers, so the forms cannot diverge
    "ann_pq_topk" ->
      s"""WITH $QuantCte,
         |$PqCtes,
         |sc AS (SELECT dtab.query_id, enc.vec_id, CAST(sum(dtab.d) AS BIGINT) AS pq_dist
         |       FROM enc JOIN dtab ON enc.s = dtab.s AND enc.code = dtab.j
         |       WHERE dtab.query_id != enc.vec_id GROUP BY 1, 2),
         |rk AS (SELECT query_id, vec_id, pq_dist,
         |         row_number() OVER (PARTITION BY query_id ORDER BY pq_dist, vec_id) AS r
         |       FROM sc)
         |SELECT query_id, CAST(r AS INT) AS rank, vec_id, pq_dist
         |FROM rk WHERE r <= 5 ORDER BY query_id, rank""".stripMargin,

    "ann_pq_fitted_topk" ->
      s"""WITH $QuantCte,
         |$pinnedCbCte,
         |$PqEncDtabCtes,
         |sc AS (SELECT dtab.query_id, enc.vec_id, CAST(sum(dtab.d) AS BIGINT) AS pq_dist
         |       FROM enc JOIN dtab ON enc.s = dtab.s AND enc.code = dtab.j
         |       WHERE dtab.query_id != enc.vec_id GROUP BY 1, 2),
         |rk AS (SELECT query_id, vec_id, pq_dist,
         |         row_number() OVER (PARTITION BY query_id ORDER BY pq_dist, vec_id) AS r
         |       FROM sc)
         |SELECT query_id, CAST(r AS INT) AS rank, vec_id, pq_dist
         |FROM rk WHERE r <= 5 ORDER BY query_id, rank""".stripMargin,

    // served-from-store twin: output-identical to ann_pq_topk, same
    // SQL — DuckDB has no store and re-derives the codes, so this
    // row's ratio compares Spark steady-state serving to DuckDB
    // build+serve
    "ann_pq_prebuilt_topk" ->
      s"""WITH $QuantCte,
         |$PqCtes,
         |sc AS (SELECT dtab.query_id, enc.vec_id, CAST(sum(dtab.d) AS BIGINT) AS pq_dist
         |       FROM enc JOIN dtab ON enc.s = dtab.s AND enc.code = dtab.j
         |       WHERE dtab.query_id != enc.vec_id GROUP BY 1, 2),
         |rk AS (SELECT query_id, vec_id, pq_dist,
         |         row_number() OVER (PARTITION BY query_id ORDER BY pq_dist, vec_id) AS r
         |       FROM sc)
         |SELECT query_id, CAST(r AS INT) AS rank, vec_id, pq_dist
         |FROM rk WHERE r <= 5 ORDER BY query_id, rank""".stripMargin,

    // mirrors Pq.ivfPqTopK: same PQ CTEs, the ADC scan restricted to
    // the candidates from the C=64 IVF assignment with nprobe=8 —
    // assignment/probing replay Similarity's (cos DESC, cent_id)
    // tiebreaks exactly as in the ann_ivf_topk oracle
    "ann_ivfpq_topk" ->
      s"""WITH $QuantCte,
         |${centCte("64")},
         |$PqCtes,
         |$IvfPqAdcCtes
         |SELECT query_id, CAST(r AS INT) AS rank, vec_id, pq_dist
         |FROM rk WHERE r <= 5 ORDER BY query_id, rank""".stripMargin,

    // mirrors Pq.ivfPqRerankTopK: the ADC ranking nominates the top
    // 50 candidates per query, then ONLY those rows take the exact
    // quantized cosine, re-ranked (cos DESC, vec_id) to the final 5
    "ann_ivfpq_rerank" ->
      s"""WITH $QuantCte,
         |${centCte("64")},
         |$PqCtes,
         |$IvfPqAdcCtes,
         |cand2 AS (SELECT query_id, vec_id FROM rk WHERE r <= 50),
         |ex AS (SELECT c2.query_id, c2.vec_id,
         |         ${cosSql("q.v", "d.v", "q.n2", "d.n2")} AS cosine
         |       FROM cand2 c2
         |       JOIN qn d ON d.vec_id = c2.vec_id
         |       JOIN qn q ON q.vec_id = c2.query_id),
         |rk2 AS (SELECT query_id, vec_id, cosine,
         |          row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS r2
         |        FROM ex)
         |SELECT query_id, CAST(r2 AS INT) AS rank, vec_id, cosine
         |FROM rk2 WHERE r2 <= 5 ORDER BY query_id, rank""".stripMargin,

    // the index itself, relationally: per-vector subspace codes from
    // the sample codebook + the single-cell IVF assignment (exactly
    // the enc/assign CTEs the IVF+PQ oracle already replays)
    "ann_ivfpq_build" ->
      s"""WITH $QuantCte,
         |${centCte("64")},
         |$PqCtes,
         |$IvfPqAdcCtes
         |SELECT e.vec_id, CAST(e.s AS INT) AS subspace,
         |       CAST(e.code AS INT) AS code, a.cent_id
         |FROM enc e JOIN assign a USING (vec_id)
         |ORDER BY vec_id, subspace""".stripMargin,

    // the prebuilt query halves are output-identical to the inline
    // forms (codes are a deterministic function of the corpus), so
    // their oracles are the same SQL — DuckDB has no store, so it
    // re-derives the codes; the bench ratio for these rows therefore
    // compares Spark steady-state serving to DuckDB build+serve
    "ann_ivfpq_prebuilt_topk" ->
      s"""WITH $QuantCte,
         |${centCte("64")},
         |$PqCtes,
         |$IvfPqAdcCtes
         |SELECT query_id, CAST(r AS INT) AS rank, vec_id, pq_dist
         |FROM rk WHERE r <= 5 ORDER BY query_id, rank""".stripMargin,

    "ann_ivfpq_prebuilt_rerank" ->
      s"""WITH $QuantCte,
         |${centCte("64")},
         |$PqCtes,
         |$IvfPqAdcCtes,
         |cand2 AS (SELECT query_id, vec_id FROM rk WHERE r <= 50),
         |ex AS (SELECT c2.query_id, c2.vec_id,
         |         ${cosSql("q.v", "d.v", "q.n2", "d.n2")} AS cosine
         |       FROM cand2 c2
         |       JOIN qn d ON d.vec_id = c2.vec_id
         |       JOIN qn q ON q.vec_id = c2.query_id),
         |rk2 AS (SELECT query_id, vec_id, cosine,
         |          row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS r2
         |        FROM ex)
         |SELECT query_id, CAST(r2 AS INT) AS rank, vec_id, cosine
         |FROM rk2 WHERE r2 <= 5 ORDER BY query_id, rank""".stripMargin,

    "embedding_neardup_pairs" ->
      s"""WITH $QuantCte,
         |${centCte(AutoCentroidsSql)},
         |multi AS (SELECT vec_id, cent_id FROM ${ivfRanked("")}
         |          WHERE rk <= 24),
         |cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |         FROM multi a JOIN multi b USING (cent_id)
         |         WHERE a.vec_id < b.vec_id
         |         GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT * FROM (
         |  SELECT id_a, id_b,
         |         list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i]))
         |           / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) AS cosine
         |  FROM cand JOIN qn a ON a.vec_id = id_a JOIN qn b ON b.vec_id = id_b)
         |WHERE cosine >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,

    // mirrors Similarity.ivfNearDupBatch: corpus-only centroid sample
    // (low ids of vec_id >= 40), both sides multi-assigned against
    // it, batch x corpus candidates, exact-cosine threshold
    "embedding_incremental_pairs" -> EmbIncrementalSql,

    // the prebuilt serving twin is output-pinned identical to the
    // inline form (IndexStoreSuite), so it shares the oracle
    "embedding_incremental_prebuilt" -> EmbIncrementalSql,



    // mirrors Similarity.knnJoin: the embedding_neardup candidate +
    // exact-cosine CTEs (no threshold), both directions, per-vector
    // top-5 by (cosine desc, neighbor asc)
    "knn_join" -> KnnJoinSql,

    // prebuilt twin is output-pinned identical — shares the oracle
    "knn_join_prebuilt" -> KnnJoinSql,

    // mirrors the semantic_dedup composition: the embedding near-dup
    // pair CTE (same knobs as embedding_neardup_pairs) feeding the
    // unrolled CC rounds (ccRoundsSql needs the CTE named `pairs`)
    "semantic_dedup" ->
      s"""WITH $QuantCte,
         |${centCte(AutoCentroidsSql)},
         |multi AS (SELECT vec_id, cent_id FROM ${ivfRanked("")}
         |          WHERE rk <= 24),
         |cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |         FROM multi a JOIN multi b USING (cent_id)
         |         WHERE a.vec_id < b.vec_id
         |         GROUP BY 1, 2 HAVING count(*) >= 2),
         |pairs AS MATERIALIZED (SELECT id_a, id_b FROM (
         |  SELECT id_a, id_b,
         |         list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i]))
         |           / sqrt(CAST(a.n2 * b.n2 AS DOUBLE)) AS cosine
         |  FROM cand JOIN qn a ON a.vec_id = id_a JOIN qn b ON b.vec_id = id_b)
         |  WHERE cosine >= 0.3),
         |${ccRoundsSql(CcOracleRounds)}
         |SELECT e.vec_id,
         |       coalesce(l.label, e.vec_id) AS component,
         |       CAST(coalesce(l.label, e.vec_id) = e.vec_id AS INT) AS is_survivor
         |FROM embeddings e LEFT JOIN l$CcOracleRounds l ON e.vec_id = l.id
         |ORDER BY vec_id""".stripMargin,

    "dedup_exact_clusters" ->
      """WITH f AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |cl AS (SELECT fp, min(doc_id) AS keeper, count(*) AS cluster_size
        |       FROM f GROUP BY fp)
        |SELECT f.doc_id, f.fp, cl.keeper, cl.cluster_size,
        |       CAST(f.doc_id <> cl.keeper AS INT) AS is_dup
        |FROM f JOIN cl USING (fp)
        |ORDER BY doc_id""".stripMargin,

    "text_stats" ->
      s"""SELECT doc_id,
         |       CAST($NTokensExpr AS INT) AS n_tokens,
         |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS n_bpe_tokens,
         |       CAST(length(text) AS INT) AS n_chars_len,
         |       CAST($NPunctExpr AS INT) AS n_punct,
         |       substring(md5(text), 1, 16) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,

    // Mirrors RepetitionKernel's documented conventions exactly:
    // lines = string_split on \n (empties kept), tokens = non-empty
    // splits on the spelled-out Java-\s class (RE2 '\s' lacks 0x0B),
    // n-grams space-joined, chars = code points, all counts exact
    // integers.
    "repetition_stats" ->
      s"""WITH $RepetitionCtes
         |$RepetitionSelect
         |ORDER BY doc_id""".stripMargin,

    // mirrors Curation.gopherGate(minTokens=25): the repetition CTEs
    // plus the six cross-multiplied exact-integer rules — no float
    // division anywhere, so keep is trivially bit-identical
    "gopher_quality_gate" ->
      s"""WITH $RepetitionCtes,
         |rs AS ($RepetitionSelect)
         |SELECT doc_id,
         |       CAST(n_tokens >= 25 AND n_tokens <= 100000
         |        AND token_chars >= n_tokens * 3
         |        AND token_chars <= n_tokens * 10
         |        AND n_dup_lines * 10 <= n_lines * 3
         |        AND dup_line_chars * 5 <= line_chars
         |        AND top2gram_chars * 5 <= token_chars
         |        AND dup5gram_chars * 20 <= token_chars * 3 AS INT) AS keep
         |FROM rs ORDER BY doc_id""".stripMargin,

    "lang_id" ->
      s"""WITH t AS (SELECT doc_id, $TokensExpr AS toks FROM documents),
         |s AS (SELECT doc_id,
         |        len(list_filter(toks, x -> x IN (${inList(sw("en"))}))) AS en,
         |        len(list_filter(toks, x -> x IN (${inList(sw("es"))}))) AS es,
         |        len(list_filter(toks, x -> x IN (${inList(sw("fr"))}))) AS fr,
         |        len(list_filter(toks, x -> x IN (${inList(sw("de"))}))) AS de
         |      FROM t)
         |SELECT doc_id,
         |       CASE WHEN greatest(en, es, fr, de) <= 0 THEN 'und'
         |            WHEN en = greatest(en, es, fr, de) THEN 'en'
         |            WHEN es = greatest(en, es, fr, de) THEN 'es'
         |            WHEN fr = greatest(en, es, fr, de) THEN 'fr'
         |            WHEN de = greatest(en, es, fr, de) THEN 'de'
         |            ELSE 'und' END AS pred_lang
         |FROM s ORDER BY doc_id""".stripMargin,

    "quality_score" ->
      s"""WITH t AS (SELECT doc_id, text,
         |             $NTokensExpr AS n_tok,
         |             len(list_filter($TokensExpr, x -> x IN (${inList(sw("en"))}))) AS en_hits,
         |             $NPunctExpr AS n_punct
         |           FROM documents)
         |SELECT doc_id,
         |       (CASE WHEN n_tok = 0 THEN 0.0 ELSE CAST(en_hits AS DOUBLE) / n_tok END)
         |       - (CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / length(text) END)
         |       + least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) AS quality
         |FROM t ORDER BY doc_id""".stripMargin,

    // mirrors the topFraction(Bounded) rank-cut contract over
    // TextFunctions.qualityScore: same quality expression as the
    // quality_score oracle, ranked (quality DESC, doc_id) per lang,
    // exact ceil(n * 0.25) cut (the oracle keeps DuckDB's natural
    // window form; the bounded heap form is row-identical by pin)
    "quality_topp" ->
      s"""WITH t AS (SELECT doc_id, lang, text,
         |             $NTokensExpr AS n_tok,
         |             len(list_filter($TokensExpr, x -> x IN (${inList(sw("en"))}))) AS en_hits,
         |             $NPunctExpr AS n_punct
         |           FROM documents),
         |q AS (SELECT doc_id, lang,
         |        (CASE WHEN n_tok = 0 THEN 0.0 ELSE CAST(en_hits AS DOUBLE) / n_tok END)
         |        - (CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / length(text) END)
         |        + least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) AS quality
         |      FROM t),
         |rk AS (SELECT doc_id, lang,
         |         row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS r,
         |         count(*) OVER (PARTITION BY lang) AS n
         |       FROM q)
         |SELECT doc_id, lang FROM rk WHERE r <= ceil(n * 0.25)
         |ORDER BY doc_id""".stripMargin,

    // mirrors Sampling.hash48/threshold48: 48-bit md5 prefix of
    // "doc_id:graft", exact integer threshold = 0.25 * 2^48
    "sample_bernoulli" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 12))::BIGINT
         |      < ${graft.operators.Sampling.threshold48(0.25)}
         |ORDER BY doc_id""".stripMargin,

    "sample_stratified" ->
      s"""WITH h AS (SELECT doc_id, lang,
         |             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 12))::BIGINT AS hv
         |           FROM documents),
         |rk AS (SELECT lang, doc_id,
         |         CAST(row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS INT) AS smp_rank
         |       FROM h)
         |SELECT lang, doc_id, smp_rank FROM rk WHERE smp_rank <= 50
         |ORDER BY lang, smp_rank""".stripMargin,

    "minhash_lsh_pairs" ->
      s"""WITH $MinhashPairsCtes
         |SELECT id_a, id_b,
         |       CAST(len(list_filter(generate_series(1, 16), i -> sa[i] = sb[i])) AS DOUBLE) / 16 AS est_jaccard
         |FROM pairs ORDER BY id_a, id_b""".stripMargin,

    // mirrors Dedup.incrementalMinHashCandidates: the full banded
    // pair set (identical signatures/banding — incremental + historic
    // == from-scratch) restricted to pairs touching the new batch
    "minhash_incremental_pairs" ->
      s"""WITH $MinhashPairsCtes
         |SELECT id_a, id_b,
         |       CAST(len(list_filter(generate_series(1, 16), i -> sa[i] = sb[i])) AS DOUBLE) / 16 AS est_jaccard
         |FROM pairs
         |WHERE id_a % 5 = 0 OR id_b % 5 = 0
         |ORDER BY id_a, id_b""".stripMargin,

    // the prebuilt twin is output-identical by contract, so it shares
    // the inline form's oracle (the knn_join_prebuilt convention)
    "minhash_incremental_prebuilt" ->
      s"""WITH $MinhashPairsCtes
         |SELECT id_a, id_b,
         |       CAST(len(list_filter(generate_series(1, 16), i -> sa[i] = sb[i])) AS DOUBLE) / 16 AS est_jaccard
         |FROM pairs
         |WHERE id_a % 5 = 0 OR id_b % 5 = 0
         |ORDER BY id_a, id_b""".stripMargin,

    // mirrors Components.connectedComponents over the minhash
    // candidate pairs: the propagate+jump rounds unroll into chained
    // CTEs (the c8OracleSql technique). The Spark side iterates to
    // convergence; ComponentsSuite asserts it converges within
    // CcOracleRounds - 1 rounds on this data, and post-convergence
    // rounds are no-ops, so fixed-depth SQL == fixpoint Spark.
    "neardup_clusters" ->
      s"""WITH $MinhashPairsCtes,
         |${ccRoundsSql(CcOracleRounds)}
         |SELECT d.doc_id,
         |       coalesce(l.label, d.doc_id) AS component,
         |       CAST(coalesce(l.label, d.doc_id) = d.doc_id AS INT) AS is_survivor
         |FROM documents d LEFT JOIN l$CcOracleRounds l ON d.doc_id = l.id
         |ORDER BY doc_id""".stripMargin,

    // mirrors Dedup.ngramJaccardPairs(maxDocFreq = Some(5)): shingles
    // with document frequency > 5 are dropped BEFORE pair generation,
    // and Jaccard is defined over the filtered shingle universe on
    // both sides of the ratio
    "ngram_jaccard_pairs" ->
      s"""WITH $ShinglesCte,
         |ex AS (SELECT doc_id, unnest(sg) AS s FROM sh),
         |dfc AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
         |exf AS (SELECT ex.doc_id, ex.s FROM ex JOIN dfc USING (s) WHERE dfc.df <= 5),
         |cnt AS (SELECT doc_id, count(*) AS n_sh FROM exf GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |  FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT * FROM (
         |  SELECT id_a, id_b,
         |         CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) AS jaccard
         |  FROM inter
         |  JOIN cnt ca ON ca.doc_id = id_a
         |  JOIN cnt cb ON cb.doc_id = id_b)
         |WHERE jaccard >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    // replays HashKernels.simHashMd5 bit-for-bit: per-token 64-bit MD5
    // prefix, per-bit +1/-1 majority vote, then the exact Hamming
    // filter as an all-pairs join (valid because maxHamming = 3 makes
    // the Spark side's 4 x 16-bit banding exhaustive)
    "simhash_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')) AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 16))::UBIGINT AS h
        |      FROM tok WHERE t <> ''),
        |cnt AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS c
        |        FROM h, generate_series(0, 63) g(b) GROUP BY 1, 2),
        |allb AS (SELECT doc_id, b FROM documents, generate_series(0, 63) g(b)),
        |bitv AS (SELECT a.doc_id, a.b,
        |                CASE WHEN coalesce(cnt.c, 0) > 0 THEN 1 ELSE 0 END AS bit
        |         FROM allb a LEFT JOIN cnt ON a.doc_id = cnt.doc_id AND a.b = cnt.b),
        |sig AS (SELECT doc_id, list(bit ORDER BY b) AS bits FROM bitv GROUP BY doc_id)
        |SELECT * FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         CAST(len(list_filter(generate_series(1, 64), i -> a.bits[i] <> b.bits[i])) AS INT) AS hamming
        |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
        |WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // mirrors Multimodal.mediaNearDupPairs: payload = text bytes
    // (single-byte by fixture contract, so char-positioned substr
    // grams equal the kernel's byte grams), per-gram 64-bit MD5
    // prefixes voted per bit like the simhash_pairs oracle — but the
    // 64 votes run as one-pass aggregate COLUMNS and the signature
    // packs into a UBIGINT (bit_count(xor) hamming), not a 64x
    // row-expansion grouping: same bits, ~10x cheaper to evaluate,
    // so the proxy baseline measures the work, not a lists-of-bits
    // encoding. Docs shorter than 4 bytes sign to 0.
    "media_neardup_pairs" -> {
      val votes = (0 until 64).map(b =>
        s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS c$b")
        .mkString(",\n        ")
      val sig = (0 until 64).map(b =>
        s"(CASE WHEN c$b > 0 THEN ${java.lang.Long.toUnsignedString(1L << b)}::UBIGINT ELSE 0::UBIGINT END)")
        .mkString(" + ")
      s"""WITH g0 AS (
         |  SELECT doc_id, text, unnest(generate_series(1, length(text) - 3)) AS i
         |  FROM documents WHERE length(text) >= 4),
         |h AS (SELECT doc_id,
         |        ('0x' || substr(md5(substr(text, CAST(i AS INT), 4)), 1, 16))::UBIGINT AS h
         |      FROM g0),
         |v AS (SELECT doc_id,
         |        $votes
         |      FROM h GROUP BY doc_id),
         |sigs AS (SELECT doc_id, $sig AS sig FROM v),
         |alls AS (SELECT d.doc_id, coalesce(s.sig, 0::UBIGINT) AS sig
         |         FROM documents d LEFT JOIN sigs s USING (doc_id))
         |SELECT * FROM (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
         |  FROM alls a JOIN alls b ON a.doc_id < b.doc_id)
         |WHERE hamming <= 3
         |ORDER BY id_a, id_b""".stripMargin
    },

    // replays frameNearDupPairs end-to-end: 128-byte substr frames
    // (ASCII fixture: char slices == byte slices), the per-frame
    // sliding-4-gram MD5 simhash, then the SAME 4x16-bit band join the
    // operator runs — pigeonhole-exact to the all-pairs Hamming<=3
    // filter (any pair within distance 3 agrees on >= 1 of 4 bands),
    // so banding is a lossless evaluation strategy here, not an
    // approximation; the banded==all-pairs identity is additionally
    // unit-pinned on a planted fixture in MultimodalStreamingSuite.
    // (All-pairs over ~15k frames would be ~100M bit_counts — the
    // band join keeps the oracle honest AND tractable.)
    "frame_neardup_pairs" -> {
      val votes = (0 until 64).map(b =>
        s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS c$b")
        .mkString(",\n        ")
      val sig = (0 until 64).map(b =>
        s"(CASE WHEN c$b > 0 THEN ${java.lang.Long.toUnsignedString(1L << b)}::UBIGINT ELSE 0::UBIGINT END)")
        .mkString(" + ")
      s"""WITH f0 AS (
         |  SELECT doc_id, CAST(i AS INT) AS fi,
         |         substr(text, CAST(i * 128 + 1 AS INT), 128) AS frame
         |  FROM (SELECT doc_id, text,
         |               unnest(generate_series(0,
         |                 CAST(floor((length(text) + 127) / 128) AS BIGINT) - 1)) AS i
         |        FROM documents WHERE length(text) >= 4)),
         |f AS (SELECT * FROM f0 WHERE length(frame) >= 4),
         |g0 AS (SELECT doc_id, fi, frame,
         |              unnest(generate_series(1, length(frame) - 3)) AS i
         |       FROM f),
         |h AS (SELECT doc_id, fi,
         |        ('0x' || substr(md5(substr(frame, CAST(i AS INT), 4)), 1, 16))::UBIGINT AS h
         |      FROM g0),
         |v AS (SELECT doc_id, fi,
         |        $votes
         |      FROM h GROUP BY doc_id, fi),
         |sigs AS (SELECT doc_id, fi, $sig AS sig FROM v),
         |b AS (SELECT doc_id, fi, sig, band,
         |             (sig & (65535::UBIGINT << (16 * band))) AS band_val
         |      FROM sigs, (SELECT unnest(generate_series(0, 3)) AS band)),
         |cand AS (SELECT DISTINCT a.doc_id AS da, a.fi AS fa, a.sig AS sa,
         |                bb.doc_id AS db, bb.fi AS fb, bb.sig AS sb
         |         FROM b a JOIN b bb
         |           ON a.band = bb.band AND a.band_val = bb.band_val
         |         WHERE (a.doc_id, a.fi) < (bb.doc_id, bb.fi)),
         |p AS (SELECT da, db, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
         |      FROM cand WHERE da < db)
         |SELECT da AS id_a, db AS id_b, count(*) AS n_frames,
         |       min(hamming) AS min_hamming
         |FROM p WHERE hamming <= 3
         |GROUP BY da, db HAVING count(*) >= 2
         |ORDER BY id_a, id_b""".stripMargin
    },

    // reconstructs Multimodal.syntheticMedia's ASCII payloads and
    // replays the decodeStub: f_k = first 48 MD5 bits of
    // (payload || ':' || k), mod 1000
    "media_features" -> {
      val fSelects = (0 until graft.operators.Multimodal.FeatureDim).map(k =>
        s"       CAST(('0x' || substr(md5(payload || ':$k'), 1, 12))::BIGINT % 1000 AS INT) AS f$k")
      s"""WITH ids AS (SELECT unnest(generate_series(0, 99)) AS id),
         |k0 AS (SELECT id, CASE WHEN id % 3 = 0 THEN 'image'
         |                       WHEN id % 3 = 1 THEN 'audio'
         |                       ELSE 'video' END AS kind FROM ids),
         |p AS (SELECT id, kind,
         |        'MEDIA:' || id || ':' || kind || ':' ||
         |        array_to_string(list_transform(generate_series(0, 63),
         |          i -> chr(CAST(97 + (id * 31 + i) % 26 AS INT))), '') AS payload
         |      FROM k0)
         |SELECT id AS media_id, kind, CAST(length(payload) AS INT) AS n_bytes,
         |${fSelects.mkString(",\n")}
         |FROM p ORDER BY media_id""".stripMargin
    },

    "s1_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice AS price
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity >= 30
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "j4_cartesian" ->
      """SELECT CAST(q AS INT) AS query, CAST(s AS INT) AS shard, q * 4 + s AS pos
        |FROM (SELECT unnest(generate_series(0, 5)) AS q)
        |CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s)
        |ORDER BY pos""".stripMargin,

    "a4_selection_rank" ->
      s"""WITH $SelectionCte,
         |mass AS (SELECT CAST(l_orderkey % 8 AS INT) AS query,
         |                CAST(l_suppkey % 4 AS INT) AS shard,
         |                sum(l_quantity) AS mass
         |         FROM lineitem GROUP BY 1, 2)
         |SELECT m.query, m.shard, m.mass, s.rank
         |FROM mass m JOIN sel s ON m.query = s.query AND m.shard = s.shard
         |ORDER BY m.query, m.shard""".stripMargin,

    "c6_select" ->
      s"""WITH $ResultsCte, $SelectionCte
         |SELECT r.query, r.shard, r.bucket, r.score, r.gdocid
         |FROM results r JOIN sel s ON r.query = s.query AND r.shard = s.shard
         |WHERE s.rank < 2
         |ORDER BY r.query ASC, r.score DESC, r.shard, r.bucket, r.gdocid""".stripMargin,

    "c7_select_decay" ->
      s"""WITH $ResultsCte, $SelectionCte,
         |budgets AS (SELECT CAST(rank AS INT) AS rank,
         |                   CAST(ceil(2 * power(0.5, rank)) AS INT) AS buckets
         |            FROM (SELECT unnest(generate_series(0, 2)) AS rank)),
         |chosen AS (SELECT s.query, s.shard, b.buckets
         |           FROM sel s JOIN budgets b ON s.rank = b.rank
         |           WHERE s.rank < 3)
         |SELECT r.query, r.shard, r.bucket, r.score, r.gdocid
         |FROM results r JOIN chosen c ON r.query = c.query AND r.shard = c.shard
         |WHERE r.bucket < c.buckets
         |ORDER BY r.query ASC, r.score DESC, r.shard, r.bucket, r.gdocid""".stripMargin,

    "c2_evaluate" ->
      s"""WITH $EvalResultsCte, $SelectionCte,
         |joined AS (SELECT e.query, e.global_rank, e.rel, s.rank
         |           FROM er e JOIN sel s ON e.query = s.query AND e.shard = s.shard),
         |att AS (SELECT j.query, j.global_rank, j.rel, st.step
         |        FROM joined j
         |        JOIN (SELECT CAST(unnest(generate_series(1, 4)) AS INT) AS step) st
         |          ON st.step > j.rank),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY query, step ORDER BY global_rank) AS mrn
         |       FROM att)
         |SELECT query,
         |       avg(CASE WHEN mrn <= 10 THEN rel END) AS p_10,
         |       avg(CASE WHEN mrn <= 5 THEN rel END) AS p_5,
         |       step
         |FROM rk GROUP BY query, step
         |ORDER BY query, step""".stripMargin,

    "c2_evaluate_sorted" ->
      s"""WITH $EvalResultsCte,
         |sscore AS (SELECT CAST(l_orderkey % 8 AS INT) AS query,
         |                  CAST(l_suppkey % 4 AS INT) AS shard,
         |                  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS shard_score
         |           FROM lineitem GROUP BY 1, 2),
         |sel AS (SELECT query, shard,
         |               CAST(row_number() OVER (PARTITION BY query ORDER BY shard_score DESC, shard) - 1 AS INT) AS rank
         |        FROM sscore),
         |joined AS (SELECT e.query, e.global_rank, e.rel, s.rank
         |           FROM er e JOIN sel s ON e.query = s.query AND e.shard = s.shard),
         |att AS (SELECT j.query, j.global_rank, j.rel, st.step
         |        FROM joined j
         |        JOIN (SELECT CAST(unnest(generate_series(1, 4)) AS INT) AS step) st
         |          ON st.step > j.rank),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY query, step ORDER BY global_rank) AS mrn
         |       FROM att)
         |SELECT query,
         |       avg(CASE WHEN mrn <= 10 THEN rel END) AS p_10,
         |       avg(CASE WHEN mrn <= 5 THEN rel END) AS p_5,
         |       step
         |FROM rk GROUP BY query, step
         |ORDER BY query, step""".stripMargin,

    "c2_evaluate_buckets" ->
      s"""WITH $EvalResultsCte,
         |erb AS (SELECT *, CAST(gdocid % 2 AS INT) AS bucket FROM er),
         |bsel AS (
         |  SELECT query, shard, bucket,
         |         CAST(row_number() OVER (PARTITION BY query ORDER BY mass DESC, shard, bucket) - 1 AS INT) AS rank
         |  FROM (SELECT CAST(l_orderkey % 8 AS INT) AS query,
         |               CAST(l_suppkey % 4 AS INT) AS shard,
         |               CAST(l_linenumber % 2 AS INT) AS bucket,
         |               sum(l_quantity) AS mass
         |        FROM lineitem GROUP BY 1, 2, 3)),
         |joined AS (SELECT e.query, e.global_rank, e.rel, s.rank
         |           FROM erb e JOIN bsel s
         |             ON e.query = s.query AND e.shard = s.shard AND e.bucket = s.bucket),
         |att AS (SELECT j.query, j.global_rank, j.rel, st.step
         |        FROM joined j
         |        JOIN (SELECT CAST(unnest(generate_series(1, 8)) AS INT) AS step) st
         |          ON st.step > j.rank),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY query, step ORDER BY global_rank) AS mrn
         |       FROM att)
         |SELECT query,
         |       avg(CASE WHEN mrn <= 10 THEN rel END) AS p_10,
         |       step
         |FROM rk GROUP BY query, step
         |ORDER BY query, step""".stripMargin,

    "c9_to_trec" ->
      s"""WITH $ResultsCte,
         |titled AS (SELECT query, concat('doc', gdocid) AS title, score FROM results),
         |rk AS (SELECT query, title, score,
         |              CAST(row_number() OVER (PARTITION BY query ORDER BY score DESC, title) - 1 AS INT) AS rank
         |       FROM titled)
         |SELECT query, 'Q0' AS iter, title, rank, score, 'null' AS run_id
         |FROM rk WHERE rank < 50
         |ORDER BY query, rank""".stripMargin,

    "t2_group_head" ->
      s"""WITH $ResultsCte,
         |rk AS (SELECT *, row_number() OVER (PARTITION BY query, shard ORDER BY score DESC, gdocid) AS rn
         |       FROM results)
         |SELECT query, shard, bucket, score, gdocid
         |FROM rk WHERE rn <= 3
         |ORDER BY query, shard, score DESC, gdocid""".stripMargin,

    "u1_union_all" ->
      s"""WITH $ResultsCte
         |SELECT * FROM (
         |  SELECT query, shard, bucket, score, gdocid, 'hi' AS slice
         |  FROM results WHERE score >= 50000
         |  UNION ALL
         |  SELECT query, shard, bucket, score, gdocid, 'lo' AS slice
         |  FROM results WHERE score < 1000)
         |ORDER BY query, gdocid, slice""".stripMargin,

    "j5_positional_bind" ->
      """WITH cart AS (
        |  SELECT CAST(q AS INT) AS query, CAST(s AS INT) AS shard, q * 5 + s AS pos
        |  FROM (SELECT unnest(generate_series(0, 4)) AS q)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS s))
        |SELECT c.query, c.shard, n.n_name AS bound_name
        |FROM cart c JOIN nation n ON c.pos = n.n_nationkey
        |ORDER BY c.query, c.shard""".stripMargin,

    "q1_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_base_price,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 10000 AS sum_disc_price,
        |       avg(l_quantity) AS avg_qty,
        |       count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_join_topk" ->
      """SELECT o.o_orderkey,
        |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
        |                * CAST(round((1 - l.l_discount) * 100) AS BIGINT)) AS DOUBLE) / 10000 AS revenue,
        |       count(*) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY o.o_orderkey
        |ORDER BY revenue DESC, o.o_orderkey
        |LIMIT 10""".stripMargin,

    "asof_events" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS t
        |           FROM events WHERE event_type = 'purchase'),
        |r0 AS (SELECT user_id, epoch_us(ts) AS rt, event_id AS prior_id, value AS prior_value
        |       FROM events WHERE event_type <> 'purchase'),
        |r AS (SELECT * FROM r0
        |      QUALIFY row_number() OVER (PARTITION BY user_id, rt ORDER BY prior_id DESC) = 1)
        |SELECT l.user_id, l.event_id, l.t, r.prior_id, r.prior_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.t >= r.rt
        |ORDER BY l.event_id""".stripMargin,

    "asof_events_fwd" ->
      """WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS t
        |           FROM events WHERE event_type = 'purchase'),
        |r0 AS (SELECT user_id, epoch_us(ts) AS rt, event_id AS next_id, value AS next_value
        |       FROM events WHERE event_type <> 'purchase'),
        |r AS (SELECT * FROM r0
        |      QUALIFY row_number() OVER (PARTITION BY user_id, rt ORDER BY next_id) = 1)
        |SELECT l.user_id, l.event_id, l.t, r.next_id, r.next_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.t <= r.rt
        |ORDER BY l.event_id""".stripMargin,

    "rollup_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "distinct_agg" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_suppkey) AS n_supp,
        |       count(DISTINCT l_partkey) AS n_part,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "scalar_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |       CAST(date_part('year', l_shipdate) AS INT) AS ship_year,
        |       CAST(date_part('month', l_shipdate) AS INT) AS ship_month,
        |       upper(l_returnflag) AS flag_u,
        |       concat(l_returnflag, '-', l_linestatus) AS tag,
        |       abs(l_quantity - 25) AS qty_dev,
        |       l_extendedprice / l_quantity AS unit_price,
        |       greatest(l_tax, l_discount) AS max_rate
        |FROM lineitem
        |WHERE l_orderkey % 100 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "json_extract" ->
      """SELECT event_id,
        |       json_extract_string(props, '$.k') AS k_str,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS k_int
        |FROM events ORDER BY event_id""".stripMargin,

    "percentiles" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.5) AS p50_qty,
        |       quantile_cont(l_quantity, 0.9) AS p90_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the bounds rows assert "approx within documented error" on the
    // Spark side; the sketches are deterministic, so the oracle is
    // the trivially-true per-group shape (see the queries' Scaladoc)
    "approx_agg_bounds" ->
      """SELECT event_type, TRUE AS distinct_ok, TRUE AS p50_ok, TRUE AS p90_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ann_pq_fitted_bounds" -> "SELECT TRUE AS fitted_ok",

    "cube_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    // mirrors ApproxAgg.heavyHitters' CONTRACT (exact heavy hitters):
    // the MG nominate pass is invisible in the output by design, so
    // the oracle is the plain exact form
    "heavy_hitters" ->
      s"""WITH toks AS (
         |  SELECT unnest(list_filter($TokensExpr, x -> x <> '')) AS item
         |  FROM documents),
         |c AS (SELECT item, count(*) AS cnt FROM toks GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM toks)
         |SELECT item, cnt FROM c, n
         |WHERE cnt * 30 > n * 1
         |ORDER BY cnt DESC, item""".stripMargin,

    // mirrors Vocab.vocabEncode: top-100 terms by (freq desc, term),
    // ids 1..100, every token position left-joined, OOV -> 0
    "vocab_encode" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(tt) AS term,
         |         unnest(generate_series(0, len(tt) - 1)) AS pos
         |  FROM (SELECT doc_id,
         |               list_filter($TokensExpr, x -> x <> '') AS tt
         |        FROM documents)),
         |counts AS (SELECT term, count(*) AS freq FROM toks GROUP BY 1),
         |vocab AS (SELECT term,
         |                 CAST(row_number() OVER (ORDER BY freq DESC, term) AS INT) AS token_id
         |          FROM counts
         |          QUALIFY row_number() OVER (ORDER BY freq DESC, term) <= 100)
         |SELECT t.doc_id, CAST(t.pos AS INT) AS pos,
         |       COALESCE(v.token_id, 0) AS token_id
         |FROM toks t LEFT JOIN vocab v USING (term)
         |ORDER BY doc_id, pos""".stripMargin,

    "word_freq" ->
      s"""SELECT token, count(*) AS n
         |FROM (SELECT unnest($TokensExpr) AS token FROM documents)
         |GROUP BY token
         |ORDER BY n DESC, token
         |LIMIT 50""".stripMargin,

    // mirrors Lm.bigramLm + Lm.lmScore token-for-token: same
    // reference slice, same top-M tiebreak, same Laplace terms, same
    // floor(1e9 ln p) quantization before the order-free sum
    "lm_perplexity" ->
      s"""WITH w AS (SELECT doc_id, text,
         |                  list_filter($TokensExpr, x -> x <> '') AS ws
         |           FROM documents),
         |ref AS (SELECT * FROM w WHERE doc_id % 7 = 3),
         |runi AS (SELECT unnest(ws) AS t FROM ref WHERE length(trim(text)) > 0),
         |uni AS (SELECT t, count(*) AS c_a FROM runi GROUP BY t),
         |v AS (SELECT count(*) AS vocab FROM uni),
         |rbig AS (SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
         |                  i -> ws[i] || ' ' || ws[i+1])) AS s FROM ref),
         |bcount AS (SELECT s, count(*) AS c_ab FROM rbig GROUP BY s),
         |lmtop AS (SELECT s, c_ab FROM (
         |    SELECT s, c_ab, row_number() OVER (ORDER BY c_ab DESC, s) AS rn
         |    FROM bcount) WHERE rn <= 50000),
         |lm AS (SELECT l.s, l.c_ab, u.c_a
         |       FROM lmtop l JOIN uni u ON split_part(l.s, ' ', 1) = u.t),
         |dbig AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
         |                  i -> ws[i] || ' ' || ws[i+1])) AS s FROM w),
         |q AS (SELECT d.doc_id,
         |        CASE WHEN lm.c_ab IS NOT NULL
         |          THEN CAST(floor(1e9 * ln(CAST(lm.c_ab + 1 AS DOUBLE) /
         |                 CAST(lm.c_a + (SELECT vocab FROM v) AS DOUBLE))) AS BIGINT)
         |          ELSE CAST(floor(1e9 * ln(1.0 / (SELECT vocab FROM v))) AS BIGINT)
         |        END AS q
         |      FROM dbig d LEFT JOIN lm ON d.s = lm.s),
         |agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(q) AS qsum FROM q GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, -(CAST(qsum AS DOUBLE) / 1e9) / n_bigrams AS nll
         |FROM agg ORDER BY doc_id""".stripMargin,

    "pivot_agg" ->
      """SELECT user_id,
        |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "j_anti_customers" ->
      """SELECT c_custkey, c_name
        |FROM customer c ANTI JOIN
        |     (SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01') o
        |     ON c.c_custkey = o.o_custkey
        |ORDER BY c_custkey""".stripMargin,

    "sessionize_batch" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS t,
        |                  CAST(round(value * 100) AS BIGINT) AS vc
        |           FROM events),
        |m AS (SELECT *, lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev FROM e),
        |s AS (SELECT *, CASE WHEN prev IS NULL OR t - prev > 1800000 THEN 1 ELSE 0 END AS new_s FROM m),
        |c AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                                 ROWS UNBOUNDED PRECEDING) AS sidx FROM s)
        |SELECT user_id, min(t) AS session_start_ms, max(t) AS session_end_ms,
        |       CAST(count(*) AS INT) AS n_events,
        |       CAST(sum(vc) AS DOUBLE) / 100 AS total_value
        |FROM c GROUP BY user_id, sidx
        |ORDER BY user_id, session_start_ms""".stripMargin,

    "events_hourly_agg" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
        |       event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_ts, event_type""".stripMargin,

    "q5_star_join" ->
      """SELECT n_name,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |                CAST(round((1 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 10000 AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "event_gaps" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS t_ms
        |           FROM events)
        |SELECT user_id, event_id, t_ms,
        |       lag(t_ms) OVER w AS prev_ms,
        |       t_ms - lag(t_ms) OVER w AS gap_ms
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_ms, event_id)
        |ORDER BY user_id, t_ms, event_id""".stripMargin,

    // mirrors TimeSeries.resampleOhlc: the struct-min/max open/close
    // replayed as first/last row_number over the same (tn, event_id)
    // total order; cents quantization keeps every value exact. The
    // bucket start uses a FLOOR-mod form (((tn % b) + b) % b) to
    // match the operator's documented pmod floor semantics for
    // pre-epoch (negative) timestamps — DuckDB's bare % truncates
    // toward zero, which would shift negative tn up a bucket
    "events_resample_ohlc" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ns(ts) AS tn, event_id,
        |         CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |b AS (SELECT event_type,
        |             (tn - ((tn % 900000000000) + 900000000000) % 900000000000) // 1000000000 AS bucket_ts,
        |             tn, event_id, vc
        |      FROM e),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY event_type, bucket_ts
        |                           ORDER BY tn, event_id) AS rn_a,
        |        row_number() OVER (PARTITION BY event_type, bucket_ts
        |                           ORDER BY tn DESC, event_id DESC) AS rn_d
        |      FROM b)
        |SELECT event_type, bucket_ts,
        |       CAST(max(CASE WHEN rn_a = 1 THEN vc END) AS DOUBLE) / 100 AS open,
        |       CAST(max(vc) AS DOUBLE) / 100 AS high,
        |       CAST(min(vc) AS DOUBLE) / 100 AS low,
        |       CAST(max(CASE WHEN rn_d = 1 THEN vc END) AS DOUBLE) / 100 AS close,
        |       count(*) AS n,
        |       CAST(sum(vc) AS DOUBLE) / 100 AS volume
        |FROM r GROUP BY 1, 2
        |ORDER BY event_type, bucket_ts""".stripMargin,

    "j_full_outer_days" ->
      """WITH v AS (SELECT user_id, date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |             count(*) AS n_view
        |           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        |p AS (SELECT user_id, date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
        |        count(*) AS n_buy
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT user_id, d, n_view, n_buy
        |FROM v FULL JOIN p USING (user_id, d)
        |ORDER BY user_id, d""".stripMargin,

    // mirrors events_sliding_agg: epoch_ns // 15min is the same exact
    // integer bucket as Spark's `ts div` on the raw nanos
    "events_sliding_agg" ->
      """WITH e AS (SELECT event_type,
        |             CAST(round(value * 100) AS BIGINT) AS cents,
        |             epoch_ns(ts) // 900000000000 AS b
        |           FROM events),
        |x AS (SELECT event_type, cents, (b - i) * 900 AS win_start_s
        |      FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i))
        |SELECT win_start_s, event_type, count(*) AS n,
        |       CAST(sum(cents) AS DOUBLE) / 100 AS total_value
        |FROM x GROUP BY 1, 2
        |ORDER BY win_start_s, event_type""".stripMargin,

    "window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |       sum(l_quantity) OVER (PARTITION BY l_suppkey
        |         ORDER BY l_shipdate, l_orderkey, l_linenumber
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty,
        |       lag(l_quantity, 1) OVER (PARTITION BY l_suppkey
        |         ORDER BY l_shipdate, l_orderkey, l_linenumber) AS prev_qty
        |FROM lineitem
        |WHERE l_suppkey < 5
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    // mirrors Dedup.contaminatedDocs: distinct 8-gram shingles per
    // doc, benchmark slice doc_id % 97 = 1, count of matched shingles
    "contamination_check" ->
      s"""WITH w AS (SELECT doc_id, $TokensExpr AS ws FROM documents),
         |sh8 AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(generate_series(1, len(ws) - 7),
         |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
         |                ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7])) AS sg
         |  FROM w WHERE len(ws) >= 8),
         |bench AS (SELECT DISTINCT unnest(sg) AS s FROM sh8 WHERE doc_id % 97 = 1),
         |ex AS (SELECT doc_id, unnest(sg) AS s FROM sh8)
         |SELECT ex.doc_id, count(*) AS n_matched
         |FROM ex JOIN bench USING (s)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // the bloom pre-pass never changes the exact join's result, so
    // its oracle is contamination_check's verbatim
    "contamination_check_bloom" ->
      s"""WITH w AS (SELECT doc_id, $TokensExpr AS ws FROM documents),
         |sh8 AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(generate_series(1, len(ws) - 7),
         |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
         |                ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7])) AS sg
         |  FROM w WHERE len(ws) >= 8),
         |bench AS (SELECT DISTINCT unnest(sg) AS s FROM sh8 WHERE doc_id % 97 = 1),
         |ex AS (SELECT doc_id, unnest(sg) AS s FROM sh8)
         |SELECT ex.doc_id, count(*) AS n_matched
         |FROM ex JOIN bench USING (s)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // mirrors Packing.packSequences: per-lang token stream in doc_id
    // order, chunked every 512 tokens; a doc starting at s with t
    // tokens spans bins s//512 .. (s+t-1)//512
    "pack_sequences" ->
      s"""WITH t AS (SELECT doc_id, lang, $NTokensExpr AS n_tok FROM documents),
         |c AS (SELECT doc_id, lang, n_tok,
         |        CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS e
         |      FROM t WHERE n_tok > 0),
         |b AS (SELECT doc_id, lang, n_tok, e - n_tok AS s, e,
         |        unnest(generate_series((e - n_tok) // 512, (e - 1) // 512)) AS bin_id
         |      FROM c)
         |SELECT lang, doc_id, bin_id,
         |       least(e, (bin_id + 1) * 512) - greatest(s, bin_id * 512) AS tok_in_bin
         |FROM b ORDER BY doc_id, bin_id""".stripMargin,

    // same quality expression as the quality_score oracle; ntile and
    // percent_rank bin identically under the total (quality DESC,
    // doc_id) order
    "ntile_quality" ->
      s"""WITH t AS (SELECT doc_id, lang, text,
         |             $NTokensExpr AS n_tok,
         |             len(list_filter($TokensExpr, x -> x IN (${inList(sw("en"))}))) AS en_hits,
         |             $NPunctExpr AS n_punct
         |           FROM documents),
         |q AS (SELECT doc_id, lang,
         |        (CASE WHEN n_tok = 0 THEN 0.0 ELSE CAST(en_hits AS DOUBLE) / n_tok END)
         |        - (CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / length(text) END)
         |        + least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) AS quality
         |      FROM t)
         |SELECT doc_id, lang,
         |       CAST(ntile(4) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS INT) AS quartile,
         |       percent_rank() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS pct_rank
         |FROM q ORDER BY doc_id""".stripMargin,

    "j_range_prior_errors" ->
      """SELECT p.event_id,
        |       count(e.event_id) AS n_prior_errors
        |FROM events p LEFT JOIN events e
        |  ON p.user_id = e.user_id
        | AND e.event_type = 'error'
        | AND e.ts >= p.ts - INTERVAL 1 HOUR AND e.ts <= p.ts
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.event_id
        |ORDER BY p.event_id""".stripMargin,

    "grouping_sets_agg" ->
      """SELECT lang, source, count(*) AS n,
        |       CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents
        |GROUP BY GROUPING SETS ((lang), (source))
        |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin,

    // mirrors Retrieval.bm25TopK token-for-token: same tokenizer,
    // avgdl as exact sum/count (never avg()), identical
    // left-associative floating tree with constants pre-folded in
    // Scala, per-term weights quantized to integers before the sum,
    // rank on the exact scaled integer (ws DESC, doc_id)
    "bm25_topk" ->
      s"""WITH qr(query_id, term) AS (VALUES
         |  ${Bm25Queries.map { case (q, t) => s"(CAST($q AS BIGINT), '$t')" }.mkString(", ")}),
         |tokq AS (SELECT doc_id, term
         |         FROM (SELECT doc_id, unnest($TokensExpr) AS term FROM documents)
         |         WHERE term IN (SELECT term FROM qr)),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tokq GROUP BY 1, 2),
         |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |dl AS (SELECT doc_id, $NTokensExpr AS dl FROM documents),
         |st AS (SELECT count(*) AS n_docs,
         |              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |w AS (SELECT query_id, doc_id,
         |        CAST(floor(
         |          ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))
         |          * ((CAST(tf AS DOUBLE) * ${Bm25K1 + 1.0}) /
         |             (CAST(tf AS DOUBLE) + ${Bm25K1} * (${1.0 - Bm25B} + ${Bm25B} * (CAST(dl AS DOUBLE) / avgdl))))
         |          * 1.0e9) AS BIGINT) AS w
         |      FROM tf JOIN dft USING (term) JOIN dl USING (doc_id)
         |           CROSS JOIN st JOIN qr USING (term)),
         |s AS (SELECT query_id, doc_id, CAST(sum(w) AS BIGINT) AS ws FROM w GROUP BY 1, 2),
         |rk AS (SELECT query_id, doc_id, ws,
         |         row_number() OVER (PARTITION BY query_id ORDER BY ws DESC, doc_id) AS r
         |       FROM s)
         |SELECT query_id, CAST(r AS INT) AS rank, doc_id,
         |       CAST(ws AS DOUBLE) / 1.0e9 AS score
         |FROM rk WHERE r <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // mirrors Curation.tokenBudget over TextFunctions.qualityScore:
    // same quality expression as the quality_score oracle, exact
    // integer running token total (quality DESC, doc_id) per source,
    // keep while the INCLUSIVE cumsum fits the budget
    "domain_token_budget" ->
      s"""WITH t AS (SELECT doc_id, source, text,
         |             $NTokensExpr AS n_tok,
         |             len(list_filter($TokensExpr, x -> x IN (${inList(sw("en"))}))) AS en_hits,
         |             $NPunctExpr AS n_punct
         |           FROM documents),
         |q AS (SELECT doc_id, source, n_tok,
         |        (CASE WHEN n_tok = 0 THEN 0.0 ELSE CAST(en_hits AS DOUBLE) / n_tok END)
         |        - (CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / length(text) END)
         |        + least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) AS quality
         |      FROM t),
         |c AS (SELECT doc_id, source, n_tok,
         |        CAST(sum(n_tok) OVER (PARTITION BY source
         |          ORDER BY quality DESC, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |      FROM q)
         |SELECT doc_id, source, n_tok, cum_tokens
         |FROM c WHERE cum_tokens <= 800 ORDER BY doc_id""".stripMargin,

    // mirrors Sampling.weightedSample: 48-bit md5 prefix vs
    // floor(clamp(min(n_tok/100, 1)) * 2^48) — exact integers on both
    // sides of the comparison
    "sample_weighted" ->
      s"""WITH t AS (SELECT doc_id, lang, $NTokensExpr AS n_tok FROM documents)
         |SELECT doc_id, lang FROM t
         |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 12))::BIGINT
         |      < floor(least(greatest(least(CAST(n_tok AS DOUBLE) / 100.0, 1.0), 0.0), 1.0) * 281474976710656.0)
         |ORDER BY doc_id""".stripMargin,

    // mirrors Sampling.mixtureSample: per-domain keep fraction
    // min(1, ((0.5 * n) * t) / c) — the float chain left-associative
    // token-for-token with the Spark side — then the same 48-bit
    // hash threshold as the other samplers
    "mixture_sample" ->
      s"""WITH tgt AS (SELECT * FROM (VALUES ('de', 0.3), ('en', 0.5), ('fr', 0.2)) t(lang, tshare)),
         |tot AS (SELECT count(*) AS n FROM documents),
         |frac AS (SELECT c.lang,
         |           least(1.0, 0.5 * CAST(tot.n AS DOUBLE) * tgt.tshare / CAST(c.c AS DOUBLE)) AS f
         |         FROM (SELECT lang, count(*) AS c FROM documents GROUP BY 1) c
         |         JOIN tgt ON c.lang = tgt.lang CROSS JOIN tot)
         |SELECT d.doc_id, d.lang
         |FROM documents d JOIN frac ON d.lang = frac.lang
         |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':graft'), 1, 12))::BIGINT
         |      < floor(frac.f * 281474976710656.0)
         |ORDER BY doc_id""".stripMargin,

    // mirrors Sampling.hashSplit(train 0.8, val 0.1, test 0.1): the
    // cumulative thresholds are the SAME Scala-computed exact longs
    // inlined on both sides
    "split_assign" -> {
      // replicate hashSplit's scanLeft EXACTLY: 0.8 + 0.1 is
      // 0.9000000000000001 in IEEE, not 0.9 — a rounded literal here
      // would shift the val threshold by ~31 hash units
      val cums = Seq(0.8, 0.1, 0.1).scanLeft(0.0)(_ + _).tail
        .map(c => (math.min(c, 1.0) * (1L << 48)).toLong)
      s"""SELECT doc_id,
         |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 12))::BIGINT < ${cums(0)} THEN 'train'
         |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 12))::BIGINT < ${cums(1)} THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // mirrors Curation.redactPii over the same injected identifiers;
    // the regex literals come from the SAME Scala constants, and
    // DuckDB needs the 'g' flag where Spark replaces globally by
    // default
    // mirrors Chunking.chunkByTokens(window=32, stride=24): identical
    // integer chunk grid (`//` = Spark's `div` for the non-negative
    // operands here), and DuckDB's inclusive 1-based list slice
    // [a : a+31] clamps at the end exactly like Spark's
    // slice(toks, a, 32)
    "chunk_overlap" ->
      s"""WITH t AS (SELECT doc_id, list_filter($TokensExpr, x -> x <> '') AS toks
         |           FROM documents),
         |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
         |g AS (SELECT doc_id, toks,
         |             unnest(generate_series(0,
         |               CASE WHEN n <= 32 THEN 0 ELSE (n - 32 + 23) // 24 END)) AS chunk_id
         |      FROM n),
         |ck AS (SELECT doc_id, chunk_id,
         |              toks[chunk_id * 24 + 1 : chunk_id * 24 + 32] AS ck
         |       FROM g)
         |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
         |       CAST(len(ck) AS INT) AS n_chunk_tokens,
         |       array_to_string(ck, ' ') AS chunk_text
         |FROM ck ORDER BY doc_id, chunk_id""".stripMargin,

    // mirrors the curation_pipeline composition stage-for-stage: the
    // gopher CTEs (verbatim from gopher_quality_gate), md5
    // exact-dedup keepers, the contamination_check 8-gram CTEs
    // restricted to survivors, the quality_topp rank cut at 0.75 over
    // the clean set, the domain_token_budget cumsum at 800, the
    // sample_stratified hash rank at 50, and the chunk_overlap grid —
    // every fragment is the registered per-operator oracle with its
    // input swapped from `documents` to the previous stage
    "curation_pipeline" ->
      s"""WITH $RepetitionCtes,
         |rs AS ($RepetitionSelect),
         |gated AS (SELECT doc_id FROM rs
         |  WHERE n_tokens >= 25 AND n_tokens <= 100000
         |    AND token_chars >= n_tokens * 3 AND token_chars <= n_tokens * 10
         |    AND n_dup_lines * 10 <= n_lines * 3
         |    AND dup_line_chars * 5 <= line_chars
         |    AND top2gram_chars * 5 <= token_chars
         |    AND dup5gram_chars * 20 <= token_chars * 3),
         |fp AS (SELECT d.doc_id, md5(d.text) AS fp
         |       FROM documents d JOIN gated USING (doc_id)),
         |surv AS (SELECT doc_id FROM
         |           (SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS keeper FROM fp)
         |         WHERE doc_id = keeper),
         |w8 AS (SELECT doc_id, $TokensExpr AS ws FROM documents),
         |sh8 AS (SELECT doc_id,
         |          list_distinct(list_transform(generate_series(1, len(ws) - 7),
         |            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
         |                 ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7])) AS sg
         |        FROM w8 WHERE len(ws) >= 8),
         |bench AS (SELECT DISTINCT unnest(sg) AS s8 FROM sh8 WHERE doc_id % 97 = 1),
         |contam AS (SELECT DISTINCT e.doc_id
         |           FROM (SELECT sh8.doc_id AS doc_id, unnest(sh8.sg) AS s8
         |                 FROM sh8 JOIN surv USING (doc_id)) e
         |           JOIN bench USING (s8)),
         |clean AS (SELECT doc_id FROM surv
         |          WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         |qt AS (SELECT doc_id, lang, source, text,
         |         $NTokensExpr AS n_tok,
         |         len(list_filter($TokensExpr, x -> x IN (${inList(sw("en"))}))) AS en_hits,
         |         $NPunctExpr AS n_punct
         |       FROM documents),
         |q AS (SELECT doc_id, lang, source, n_tok,
         |        (CASE WHEN n_tok = 0 THEN 0.0 ELSE CAST(en_hits AS DOUBLE) / n_tok END)
         |        - (CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / length(text) END)
         |        + least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) AS quality
         |      FROM qt),
         |rk AS (SELECT q.*,
         |         row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS r,
         |         count(*) OVER (PARTITION BY lang) AS n
         |       FROM q JOIN clean USING (doc_id)),
         |filt AS (SELECT doc_id, source, quality, n_tok FROM rk WHERE r <= ceil(n * 0.75)),
         |mix AS (SELECT doc_id FROM
         |          (SELECT doc_id, CAST(sum(n_tok) OVER (PARTITION BY source
         |             ORDER BY quality DESC, doc_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |           FROM filt)
         |        WHERE cum <= 800),
         |smp AS (SELECT doc_id FROM
         |          (SELECT doc_id,
         |             row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS sr
         |           FROM (SELECT d.doc_id, d.lang,
         |                   ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':graft'), 1, 12))::BIGINT AS hv
         |                 FROM documents d JOIN mix USING (doc_id)))
         |        WHERE sr <= 50),
         |ct AS (SELECT doc_id, list_filter($TokensExpr, x -> x <> '') AS toks
         |       FROM documents JOIN smp USING (doc_id)),
         |cn AS (SELECT doc_id, toks, len(toks) AS n FROM ct WHERE len(toks) > 0),
         |cg AS (SELECT doc_id, toks,
         |              unnest(generate_series(0,
         |                CASE WHEN n <= 32 THEN 0 ELSE (n - 32 + 23) // 24 END)) AS chunk_id
         |       FROM cn),
         |ck AS (SELECT doc_id, chunk_id,
         |              toks[chunk_id * 24 + 1 : chunk_id * 24 + 32] AS ck
         |       FROM cg)
         |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
         |       CAST(len(ck) AS INT) AS n_chunk_tokens,
         |       array_to_string(ck, ' ') AS chunk_text
         |FROM ck ORDER BY doc_id, chunk_id""".stripMargin,

    // mirrors Fingerprint.winnowFingerprints(k=3, w=4): positional
    // 3-shingle md5-48bit hashes (the same '0x'||substr(md5,1,12)
    // slice every hashing oracle uses), min per 4-wide window
    // (full-width when a doc has < 4 shingles), distinct ascending
    "winnow_fingerprints" ->
      s"""WITH w AS (SELECT doc_id, list_filter($TokensExpr, x -> x <> '') AS ws
         |           FROM documents),
         |s AS (SELECT doc_id,
         |             list_transform(generate_series(1, len(ws) - 2),
         |               i -> ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 12))::BIGINT) AS h
         |      FROM w WHERE len(ws) >= 3),
         |wd AS (SELECT doc_id, h, least(4, len(h)) AS wsz FROM s),
         |f AS (SELECT doc_id,
         |             list_sort(list_distinct(
         |               list_transform(generate_series(1, len(h) - wsz + 1),
         |                 j -> list_min(h[j : j + wsz - 1])))) AS fps
         |      FROM wd)
         |SELECT doc_id, unnest(fps) AS fp FROM f ORDER BY doc_id, fp""".stripMargin,

    // mirrors Fingerprint.winnowPairs(k=3, w=4, minShared=2,
    // maxDocFreq=5): the winnow fingerprint CTE, df-capped, shared
    // counts as a fp-equality self-join (== the posting-list pair
    // expansion)
    "winnow_pairs" ->
      s"""WITH w AS (SELECT doc_id, list_filter($TokensExpr, x -> x <> '') AS ws
         |           FROM documents),
         |s AS (SELECT doc_id,
         |             list_transform(generate_series(1, len(ws) - 2),
         |               i -> ('0x' || substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 12))::BIGINT) AS h
         |      FROM w WHERE len(ws) >= 3),
         |wd AS (SELECT doc_id, h, least(4, len(h)) AS wsz FROM s),
         |f AS (SELECT doc_id,
         |             list_distinct(
         |               list_transform(generate_series(1, len(h) - wsz + 1),
         |                 j -> list_min(h[j : j + wsz - 1]))) AS fps
         |      FROM wd),
         |ex AS (SELECT doc_id, unnest(fps) AS fp FROM f),
         |dfc AS (SELECT fp, count(*) AS df FROM ex GROUP BY fp),
         |exf AS (SELECT ex.doc_id, ex.fp FROM ex JOIN dfc USING (fp) WHERE dfc.df <= 5),
         |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         |          FROM exf a JOIN exf b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared FROM inter WHERE n_shared >= 2
         |ORDER BY id_a, id_b""".stripMargin,

    // mirrors SubstringDedup.duplicateSpans(windowTokens=20): every
    // 20-token window keyed by its 96-bit MD5 (both 48-bit halves
    // mirrors SubstringDedup.dupScreenBatchPrebuilt(windowTokens=20,
    // corpus = doc_id%5<>0, batch = doc_id%5=0): corpus >=2-occurrence
    // window keys, batch windows inner-joined (each batch window is
    // one row, each key distinct — inner == semi here)
    "dup_screen_prebuilt" ->
      s"""WITH t AS (SELECT doc_id, list_filter($TokensExpr, x -> x <> '') AS ws
         |           FROM documents),
         |cw AS (SELECT ('0x' || substr(md5(array_to_string(ws[i:i+19], ' ')), 1, 12))::BIGINT AS h1,
         |              ('0x' || substr(md5(array_to_string(ws[i:i+19], ' ')), 13, 12))::BIGINT AS h2
         |       FROM (SELECT * FROM t WHERE doc_id % 5 <> 0),
         |            unnest(generate_series(1, len(ws) - 19)) AS u(i)
         |       WHERE len(ws) >= 20),
         |d AS (SELECT h1, h2 FROM cw GROUP BY h1, h2 HAVING count(*) >= 2),
         |bw AS (SELECT doc_id, CAST(i AS BIGINT) AS s,
         |              ('0x' || substr(md5(array_to_string(ws[i:i+19], ' ')), 1, 12))::BIGINT AS h1,
         |              ('0x' || substr(md5(array_to_string(ws[i:i+19], ' ')), 13, 12))::BIGINT AS h2
         |       FROM (SELECT * FROM t WHERE doc_id % 5 = 0),
         |            unnest(generate_series(1, len(ws) - 19)) AS u(i)
         |       WHERE len(ws) >= 20)
         |SELECT doc_id, s, s + 19 AS e FROM bw JOIN d USING (h1, h2)
         |ORDER BY doc_id, s""".stripMargin,

    // replayed from the hex form), >=2-occurrence keys, then the
    // running-max interval merge into maximal covered runs
    "dup_spans" ->
      s"""WITH t AS (SELECT doc_id, list_filter($TokensExpr, x -> x <> '') AS ws
         |           FROM documents),
         |wins AS (SELECT doc_id, CAST(i AS BIGINT) AS s,
         |                ('0x' || substr(md5(array_to_string(ws[i:i+19], ' ')), 1, 12))::BIGINT AS h1,
         |                ('0x' || substr(md5(array_to_string(ws[i:i+19], ' ')), 13, 12))::BIGINT AS h2
         |         FROM t, unnest(generate_series(1, len(ws) - 19)) AS u(i)
         |         WHERE len(ws) >= 20),
         |d AS (SELECT h1, h2 FROM wins GROUP BY h1, h2 HAVING count(*) >= 2),
         |dw AS (SELECT doc_id, s, s + 19 AS e FROM wins JOIN d USING (h1, h2)),
         |pm AS (SELECT doc_id, s, e,
         |              max(e) OVER (PARTITION BY doc_id ORDER BY s
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |       FROM dw),
         |g AS (SELECT doc_id, s, e,
         |             sum(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
         |               OVER (PARTITION BY doc_id ORDER BY s) AS gid
         |      FROM pm)
         |SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
         |       max(e) - min(s) + 1 AS span_tokens
         |FROM g GROUP BY doc_id, gid ORDER BY doc_id, span_start""".stripMargin,

    // mirrors SubstringDedup.duplicationStats(windowTokens=20): the
    // dup_spans CTE chain summed per document, zero-filled over every
    // document long enough to have a window
    "dup_stats" ->
      s"""WITH t AS (SELECT doc_id, list_filter($TokensExpr, x -> x <> '') AS ws
         |           FROM documents),
         |wins AS (SELECT doc_id, CAST(i AS BIGINT) AS s,
         |                ('0x' || substr(md5(array_to_string(ws[i:i+19], ' ')), 1, 12))::BIGINT AS h1,
         |                ('0x' || substr(md5(array_to_string(ws[i:i+19], ' ')), 13, 12))::BIGINT AS h2
         |         FROM t, unnest(generate_series(1, len(ws) - 19)) AS u(i)
         |         WHERE len(ws) >= 20),
         |d AS (SELECT h1, h2 FROM wins GROUP BY h1, h2 HAVING count(*) >= 2),
         |dw AS (SELECT doc_id, s, s + 19 AS e FROM wins JOIN d USING (h1, h2)),
         |pm AS (SELECT doc_id, s, e,
         |              max(e) OVER (PARTITION BY doc_id ORDER BY s
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |       FROM dw),
         |g AS (SELECT doc_id, s, e,
         |             sum(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
         |               OVER (PARTITION BY doc_id ORDER BY s) AS gid
         |      FROM pm),
         |sp AS (SELECT doc_id, max(e) - min(s) + 1 AS span_tokens
         |       FROM g GROUP BY doc_id, gid),
         |agg AS (SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
         |        FROM sp GROUP BY doc_id),
         |base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens FROM t
         |         WHERE len(ws) >= 20)
         |SELECT b.doc_id, b.n_tokens, COALESCE(a.dup_tokens, 0) AS dup_tokens,
         |       CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / b.n_tokens AS dup_ratio
         |FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    // mirrors Dsir.importanceWeights(buckets=8192, target = lang='en'):
    // hashed unigram+bigram features (md5 first-48-bits mod 8192,
    // always non-negative), Laplace-smoothed bucket distributions,
    // per-occurrence floor(1e9*ln(pT/pR)) quantized terms — the float
    // expression mirrors the Spark column token-for-token
    // mirrors Dsir.scoreBatchPrebuilt(corpus = doc_id%5<>0, target =
    // corpus AND lang='en', batch = doc_id%5=0): the model CTEs run
    // over the corpus slice only; batch features LEFT-join BOTH count
    // tables (a batch feature may hash to a bucket the corpus never
    // hit — the +1 smoothing covers it on both sides)
    "dsir_weights_prebuilt" ->
      s"""WITH t AS (SELECT doc_id, lang, list_filter($TokensExpr, x -> x <> '') AS ws
         |           FROM documents),
         |cfe AS (
         |  SELECT lang, unnest(ws) AS f FROM t WHERE doc_id % 5 <> 0
         |  UNION ALL
         |  SELECT lang, unnest(list_transform(generate_series(1, len(ws) - 1),
         |           i -> ws[i] || ' ' || ws[i+1])) AS f FROM t WHERE doc_id % 5 <> 0),
         |cb AS (SELECT lang, ('0x' || substr(md5(f), 1, 12))::BIGINT % 8192 AS bucket
         |       FROM cfe),
         |tc AS (SELECT bucket, count(*) AS c_t FROM cb WHERE lang = 'en' GROUP BY bucket),
         |tt AS (SELECT COALESCE(sum(c_t), 0) AS n_t FROM tc),
         |rc AS (SELECT bucket, count(*) AS c_r FROM cb GROUP BY bucket),
         |rt AS (SELECT COALESCE(sum(c_r), 0) AS n_r FROM rc),
         |bfe AS (
         |  SELECT doc_id, unnest(ws) AS f FROM t WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
         |           i -> ws[i] || ' ' || ws[i+1])) AS f FROM t WHERE doc_id % 5 = 0),
         |bb AS (SELECT doc_id, ('0x' || substr(md5(f), 1, 12))::BIGINT % 8192 AS bucket
         |       FROM bfe),
         |q AS (SELECT bb.doc_id,
         |        CAST(floor(1e9 * ln(
         |          (CAST(COALESCE(tc.c_t, 0) + 1 AS DOUBLE) / CAST(tt.n_t + 8192 AS DOUBLE)) /
         |          (CAST(COALESCE(rc.c_r, 0) + 1 AS DOUBLE) / CAST(rt.n_r + 8192 AS DOUBLE)))) AS BIGINT) AS q
         |      FROM bb LEFT JOIN rc USING (bucket) LEFT JOIN tc USING (bucket)
         |           CROSS JOIN tt CROSS JOIN rt)
         |SELECT doc_id, count(*) AS n_feats,
         |       CAST(sum(q) AS DOUBLE) / 1e9 AS logweight
         |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the dup_screen_prebuilt, dsir_weights_prebuilt and
    // pack_sequences chains composed: screen the batch (doc_id%5=0)
    // against the corpus (doc_id%5<>0) >=2-occurrence window keys,
    // drop hit docs, score survivors under the corpus model, pack
    // survivors per lang every 512 tokens, attach the score
    "ingest_pipeline" ->
      s"""WITH t AS (SELECT doc_id, lang, list_filter($TokensExpr, x -> x <> '') AS ws
         |           FROM documents),
         |cw AS (SELECT ('0x' || substr(md5(array_to_string(ws[i:i+19], ' ')), 1, 12))::BIGINT AS h1,
         |              ('0x' || substr(md5(array_to_string(ws[i:i+19], ' ')), 13, 12))::BIGINT AS h2
         |       FROM (SELECT * FROM t WHERE doc_id % 5 <> 0),
         |            unnest(generate_series(1, len(ws) - 19)) AS u(i)
         |       WHERE len(ws) >= 20),
         |d AS (SELECT h1, h2 FROM cw GROUP BY h1, h2 HAVING count(*) >= 2),
         |bw AS (SELECT doc_id,
         |              ('0x' || substr(md5(array_to_string(ws[i:i+19], ' ')), 1, 12))::BIGINT AS h1,
         |              ('0x' || substr(md5(array_to_string(ws[i:i+19], ' ')), 13, 12))::BIGINT AS h2
         |       FROM (SELECT * FROM t WHERE doc_id % 5 = 0),
         |            unnest(generate_series(1, len(ws) - 19)) AS u(i)
         |       WHERE len(ws) >= 20),
         |hit AS (SELECT DISTINCT doc_id FROM bw JOIN d USING (h1, h2)),
         |surv AS (SELECT * FROM t WHERE doc_id % 5 = 0
         |         AND doc_id NOT IN (SELECT doc_id FROM hit)),
         |cfe AS (
         |  SELECT lang, unnest(ws) AS f FROM t WHERE doc_id % 5 <> 0
         |  UNION ALL
         |  SELECT lang, unnest(list_transform(generate_series(1, len(ws) - 1),
         |           i -> ws[i] || ' ' || ws[i+1])) AS f FROM t WHERE doc_id % 5 <> 0),
         |cb AS (SELECT lang, ('0x' || substr(md5(f), 1, 12))::BIGINT % 8192 AS bucket
         |       FROM cfe),
         |tc AS (SELECT bucket, count(*) AS c_t FROM cb WHERE lang = 'en' GROUP BY bucket),
         |tt AS (SELECT COALESCE(sum(c_t), 0) AS n_t FROM tc),
         |rc AS (SELECT bucket, count(*) AS c_r FROM cb GROUP BY bucket),
         |rt AS (SELECT COALESCE(sum(c_r), 0) AS n_r FROM rc),
         |bfe AS (
         |  SELECT doc_id, unnest(ws) AS f FROM surv
         |  UNION ALL
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
         |           i -> ws[i] || ' ' || ws[i+1])) AS f FROM surv),
         |bb AS (SELECT doc_id, ('0x' || substr(md5(f), 1, 12))::BIGINT % 8192 AS bucket
         |       FROM bfe),
         |q AS (SELECT bb.doc_id,
         |        CAST(floor(1e9 * ln(
         |          (CAST(COALESCE(tc.c_t, 0) + 1 AS DOUBLE) / CAST(tt.n_t + 8192 AS DOUBLE)) /
         |          (CAST(COALESCE(rc.c_r, 0) + 1 AS DOUBLE) / CAST(rt.n_r + 8192 AS DOUBLE)))) AS BIGINT) AS q
         |      FROM bb LEFT JOIN rc USING (bucket) LEFT JOIN tc USING (bucket)
         |           CROSS JOIN tt CROSS JOIN rt),
         |sc AS (SELECT doc_id, count(*) AS n_feats,
         |              CAST(sum(q) AS DOUBLE) / 1e9 AS logweight
         |       FROM q GROUP BY doc_id),
         |pc AS (SELECT doc_id, lang, CAST(len(ws) AS BIGINT) AS n_tok,
         |         CAST(sum(len(ws)) OVER (PARTITION BY lang ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS e
         |       FROM surv WHERE len(ws) > 0),
         |pb AS (SELECT doc_id, lang, e - n_tok AS st, e,
         |         unnest(generate_series((e - n_tok) // 512, (e - 1) // 512)) AS bin_id
         |       FROM pc)
         |SELECT pb.doc_id, pb.lang, pb.bin_id,
         |       least(pb.e, (pb.bin_id + 1) * 512) - greatest(pb.st, pb.bin_id * 512) AS tok_in_bin,
         |       sc.n_feats, sc.logweight
         |FROM pb JOIN sc USING (doc_id)
         |ORDER BY doc_id, bin_id""".stripMargin,

    "dsir_weights" ->
      s"""WITH t AS (SELECT doc_id, lang, list_filter($TokensExpr, x -> x <> '') AS ws
         |           FROM documents),
         |feats AS (
         |  SELECT doc_id, lang, unnest(ws) AS f FROM t
         |  UNION ALL
         |  SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(ws) - 1),
         |           i -> ws[i] || ' ' || ws[i+1])) AS f FROM t),
         |fb AS (SELECT doc_id, lang,
         |              ('0x' || substr(md5(f), 1, 12))::BIGINT % 8192 AS bucket
         |       FROM feats),
         |tc AS (SELECT bucket, count(*) AS c_t FROM fb WHERE lang = 'en' GROUP BY bucket),
         |tt AS (SELECT COALESCE(sum(c_t), 0) AS n_t FROM tc),
         |rc AS (SELECT bucket, count(*) AS c_r FROM fb GROUP BY bucket),
         |rt AS (SELECT COALESCE(sum(c_r), 0) AS n_r FROM rc),
         |q AS (SELECT fb.doc_id,
         |        CAST(floor(1e9 * ln(
         |          (CAST(COALESCE(tc.c_t, 0) + 1 AS DOUBLE) / CAST(tt.n_t + 8192 AS DOUBLE)) /
         |          (CAST(rc.c_r + 1 AS DOUBLE) / CAST(rt.n_r + 8192 AS DOUBLE)))) AS BIGINT) AS q
         |      FROM fb JOIN rc USING (bucket) LEFT JOIN tc USING (bucket)
         |           CROSS JOIN tt CROSS JOIN rt)
         |SELECT doc_id, count(*) AS n_feats,
         |       CAST(sum(q) AS DOUBLE) / 1e9 AS logweight
         |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // mirrors the dsir_select composition: dsir_weights ranked within
    // source by (logweight DESC, doc_id ASC), keep rank <= ceil(n/4)
    // — the topFraction(Bounded) ceil(n * 0.25) cut on an exact count
    // (window form here; the registered bounded heap is row-identical)
    "dsir_select" ->
      s"""WITH t AS (SELECT doc_id, lang, source, list_filter($TokensExpr, x -> x <> '') AS ws
         |           FROM documents),
         |feats AS (
         |  SELECT doc_id, lang, unnest(ws) AS f FROM t
         |  UNION ALL
         |  SELECT doc_id, lang, unnest(list_transform(generate_series(1, len(ws) - 1),
         |           i -> ws[i] || ' ' || ws[i+1])) AS f FROM t),
         |fb AS (SELECT doc_id, lang,
         |              ('0x' || substr(md5(f), 1, 12))::BIGINT % 8192 AS bucket
         |       FROM feats),
         |tc AS (SELECT bucket, count(*) AS c_t FROM fb WHERE lang = 'en' GROUP BY bucket),
         |tt AS (SELECT COALESCE(sum(c_t), 0) AS n_t FROM tc),
         |rc AS (SELECT bucket, count(*) AS c_r FROM fb GROUP BY bucket),
         |rt AS (SELECT COALESCE(sum(c_r), 0) AS n_r FROM rc),
         |q AS (SELECT fb.doc_id,
         |        CAST(floor(1e9 * ln(
         |          (CAST(COALESCE(tc.c_t, 0) + 1 AS DOUBLE) / CAST(tt.n_t + 8192 AS DOUBLE)) /
         |          (CAST(rc.c_r + 1 AS DOUBLE) / CAST(rt.n_r + 8192 AS DOUBLE)))) AS BIGINT) AS q
         |      FROM fb JOIN rc USING (bucket) LEFT JOIN tc USING (bucket)
         |           CROSS JOIN tt CROSS JOIN rt),
         |w AS (SELECT doc_id, CAST(sum(q) AS DOUBLE) / 1e9 AS logweight
         |      FROM q GROUP BY doc_id),
         |ws2 AS (SELECT w.doc_id, d.source, w.logweight
         |        FROM w JOIN (SELECT doc_id, source FROM documents) d USING (doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY source
         |               ORDER BY logweight DESC, doc_id ASC) AS rnk,
         |             count(*) OVER (PARTITION BY source) AS n
         |      FROM ws2)
         |SELECT doc_id, source, logweight FROM r
         |WHERE rnk <= ceil(n * 0.25) ORDER BY doc_id""".stripMargin,

    // mirrors Retrieval.tfidfTopTerms(topK=3): raw-count tf, df from
    // the distinct (doc, term) rows, score = tf * N / df as the SAME
    // two IEEE ops in the same order (multiply then divide) — no
    // transcendental, so bit-identity needs no quantization
    "tfidf_topterms" ->
      s"""WITH tok AS (SELECT doc_id, unnest($TokensExpr) AS term FROM documents
         |             WHERE length(trim(text)) > 0),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok
         |       WHERE term <> '' GROUP BY 1, 2),
         |dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (SELECT tf.doc_id, tf.term, tf.tf,
         |              CAST(tf.tf AS DOUBLE) * CAST(nd.n_docs AS DOUBLE) / CAST(dfc.df AS DOUBLE) AS score
         |       FROM tf JOIN dfc USING (term) CROSS JOIN nd),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |               ORDER BY score DESC, term ASC) AS rank FROM sc)
         |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, score
         |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "pii_redact" ->
      s"""SELECT doc_id, lang,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(
         |        text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-' ||
         |        lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
         |        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.0.' ||
         |        CAST(doc_id % 256 AS VARCHAR) || '.7',
         |        '${graft.operators.Curation.EmailRe}', '<EMAIL>', 'g'),
         |      '${graft.operators.Curation.Ipv4Re}', '<IP>', 'g'),
         |    '${graft.operators.Curation.PhoneRe}', '<PHONE>', 'g') AS red_text
         |FROM documents ORDER BY doc_id""".stripMargin,

    "set_ops" ->
      """SELECT user_id, d FROM (
        |  (SELECT user_id, date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        |   FROM events WHERE event_type = 'view'
        |   INTERSECT
        |   SELECT user_id, date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |   FROM events WHERE event_type = 'purchase')
        |  EXCEPT
        |  SELECT user_id, date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |  FROM events WHERE event_type = 'error')
        |ORDER BY user_id, d""".stripMargin
  )
}
