package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.credit.{Marts, Pipeline}
import graft.operators.Snapshots
import graft.dq.Checks
import graft.ext.{Sim, Text}

/** The driver-facing query registry: every implemented operator from
  * SURVEY.md §2 (plus the LLM-pipeline extensions) exposed as a named
  * DataFrame query over the testdata tier, each with an ANSI-SQL DuckDB
  * twin in [[oracles]] producing identical columns, types and values.
  *
  * Oracle hash-parity rules applied throughout (SURVEY.md §7.3.1):
  *  - money goes through DecimalType(18,2) at the scan (exact: the
  *    testdata doubles are 2dp), sums stay decimal, and the FINAL
  *    projection casts to double — one deterministic conversion;
  *  - ratios are a single IEEE division of exact operands;
  *  - no `pow`/`exp`/`ln` (not correctly-rounded, engine-divergent);
  *    `+ - * / sqrt` only;
  *  - array folds are sequential left-to-right in BOTH engines (Spark
  *    `aggregate`, oracle left-associated `+` chains);
  *  - every window ordering is total (ts/event_id tiebreakers).
  */
object Registry {

  // ---------------------------------------------------------------- Spark

  private def credit(s: SparkSession, dir: String) = Pipeline.analog(Tables(s, dir))

  private val coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stg_arrears" -> ((s, dir) =>
      credit(s, dir).stgArrearsDaily.select(
        col("event_id"), col("loan_id"), col("as_of_date"), col("days_past_due"),
        col("past_due_amount_total").cast(DoubleType).as("past_due_amount_total"),
        col("event_type"), col("dpd_bucket"), col("npl_flag"))),

    "stg_loans" -> ((s, dir) =>
      credit(s, dir).stgLoanContract.select(
        col("loan_id"), col("borrower_id"), col("product_type"), col("currency"),
        col("origination_date"), col("exposure").cast(DoubleType).as("exposure"))),

    // a bucket-predicate filter — the query shape the
    // SimplifyLiteralCaseFilter optimizer rule rewrites for pushdown;
    // oracle-checked so the rewrite is proven semantics-preserving
    "stg_arrears_npl_band" -> ((s, dir) =>
      credit(s, dir).stgArrearsDaily.filter(col("dpd_bucket") === "90+").select(
        col("event_id"), col("loan_id"), col("as_of_date"),
        col("days_past_due"), col("dpd_bucket"))),

    "dpd_daily" -> ((s, dir) =>
      credit(s, dir).dpdDaily
        .withColumn("exposure", col("exposure").cast(DoubleType))
        .withColumn("past_due_amount_total", col("past_due_amount_total").cast(DoubleType))),

    "npl_monthly" -> ((s, dir) => credit(s, dir).nplMonthly),

    // exposure-weighted average DPD — the non-uniform-weight mean as
    // exact integer arithmetic: weight in cents, weighted sum as one
    // int64 aggregate (bound: dpd·cents ≤ ~1e9 per row — safe past 1e9
    // rows/group), then ONE IEEE division. A float-weighted avg() would
    // accumulate in partition order and never cross-engine-match
    "weighted_avg_dpd" -> ((s, dir) =>
      credit(s, dir).dpdDaily
        .select(graft.functions.CreditFunctions.monthOf(col("as_of_date")).as("month"),
          col("product_type"),
          col("days_past_due"),
          (col("exposure") * 100).cast(LongType).as("w"))
        .groupBy(col("month"), col("product_type"))
        .agg(sum(col("days_past_due") * col("w")).as("dpd_w"),
          sum(col("w")).as("w_total"))
        .withColumn("weighted_avg_dpd",
          when(col("w_total") =!= 0,
            col("dpd_w").cast(DoubleType) / col("w_total").cast(DoubleType)))
        .select(col("month"), col("product_type"), col("w_total"),
          col("weighted_avg_dpd"))),

    // month-over-month reporting layer on the NPL mart: prior month's
    // exposure via lag over (product, currency) — rides the mart's
    // existing keyed shuffle; delta is a guarded ratio (first month and
    // zero-base months are NULL, never a division blow-up)
    "npl_mom_change" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("product_type"), col("currency"))
        .orderBy(col("month"))
      credit(s, dir).nplMonthly
        .select(col("month"), col("product_type"), col("currency"),
          col("total_exposure"))
        .withColumn("prev_exposure", lag(col("total_exposure"), 1).over(w))
        .withColumn("mom_change",
          when(col("prev_exposure").isNotNull && col("prev_exposure") =!= 0.0,
            (col("total_exposure") - col("prev_exposure")) / col("prev_exposure")))
    }),

    // same mart through the spark.sql surface (temp views = dbt-style
    // layered relations; Catalyst inlines them identically). NOTE: the
    // createOrReplaceTempView calls mutate SESSION catalog state — fine
    // for a driver-run query, but a library embedding this pattern should
    // prefer unique view names or Dataset.createTempView scoping so
    // concurrent queries can't clobber each other's views.
    "sql_npl_monthly" -> ((s, dir) => {
      val c = credit(s, dir)
      c.stgArrearsDaily.createOrReplaceTempView("v_stg_arrears")
      c.stgLoanContract.createOrReplaceTempView("v_stg_loans")
      s.sql(
        """SELECT month, product_type, currency,
          |       CAST(total_exposure_dec AS DOUBLE) AS total_exposure,
          |       CAST(npl_exposure_dec AS DOUBLE) AS npl_exposure,
          |       CASE WHEN total_exposure_dec = 0 THEN NULL
          |            ELSE CAST(npl_exposure_dec AS DOUBLE) / CAST(total_exposure_dec AS DOUBLE) END AS npl_ratio
          |FROM (
          |  SELECT trunc(a.as_of_date, 'month') AS month, l.product_type, l.currency,
          |         SUM(l.exposure) AS total_exposure_dec,
          |         SUM(CASE WHEN a.npl_flag THEN l.exposure ELSE 0 END) AS npl_exposure_dec
          |  FROM v_stg_arrears a JOIN v_stg_loans l ON a.loan_id = l.loan_id
          |  GROUP BY 1, 2, 3) g""".stripMargin)
    }),

    "month_end" -> ((s, dir) =>
      credit(s, dir).intMonthEnd.select(
        col("loan_id"), col("month"), col("as_of_date"),
        col("days_past_due"), col("dpd_bucket"), col("npl_flag"))),

    // gaps-and-islands: monthly DPD states compressed to SCD-2 validity
    // ranges — one (loan, order) window exchange serves the change
    // marker, the island id, AND the final grouping
    "dpd_state_intervals" -> ((s, dir) =>
      graft.operators.Snapshots.compressIntervals(
        credit(s, dir).intMonthEnd.select(col("loan_id"), col("month"), col("dpd_bucket")),
        Seq("loan_id"), "month", Seq("dpd_bucket"))),

    "bucket_transitions" -> ((s, dir) => credit(s, dir).intTransitions),

    "roll_rate_monthly" -> ((s, dir) => credit(s, dir).rollRateMonthly),

    "cure_rate_monthly" -> ((s, dir) => credit(s, dir).cureRateMonthly),

    "vintage_mob" -> ((s, dir) => credit(s, dir).vintageMob),

    "writeoff_recovery_monthly" -> ((s, dir) => credit(s, dir).writeoffRecoveryMonthly),

    "collections_monthly" -> ((s, dir) => credit(s, dir).collectionsMonthly),

    "densify_daily" -> ((s, dir) => {
      val o = Tables(s, dir).orders.select(
          col("o_orderkey"),
          col("o_orderdate").cast(DateType).as("start_date"))
        .withColumn("end_date", date_add(col("start_date"), (col("o_orderkey") % 5).cast(IntegerType)))
      Snapshots.densifyDaily(o, col("start_date"), col("end_date"), "day")
        .select(col("o_orderkey"), col("day"))
    }),

    // time-series gap-fill: per-user daily metric linearly interpolated
    // between observed days (exact-cents base series so the interpolated
    // double is one int64 numerator + one IEEE division — see
    // Snapshots.interpolateDaily's determinism contract)
    "interpolate_daily" -> ((s, dir) => {
      val ev = Tables(s, dir).events.select(
        col("user_id"),
        to_date(timestamp_micros(expr("ts div 1000"))).as("day"),
        floor(col("value") * 100).cast(LongType).as("cents"))
      val obs = ev.groupBy(col("user_id"), col("day")).agg(sum(col("cents")).as("cents"))
      Snapshots.interpolateDaily(obs, col("user_id"), col("day"), col("cents"))
        .withColumnRenamed("k", "user_id")
    }),

    // RANGE window frame (value-based, not row-based): per-loan rolling
    // 30-day collected amount — peers at the same day all join the
    // frame, so the result is tie-order-independent; decimal sums exact
    "rolling_collections_30d" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pay = credit(s, dir).stgPayments
        .withColumn("d", datediff(col("payment_date"), to_date(lit("1992-01-01"))))
      val w = Window.partitionBy(col("loan_id")).orderBy(col("d")).rangeBetween(-29, 0)
      pay.select(col("loan_id"), col("payment_date"),
        col("amount_received").cast(DoubleType).as("amount_received"),
        sum(col("amount_received")).over(w).cast(DoubleType).as("rolling_30d"))
    }),

    // RelationalGroupedDataset.pivot with an explicit value list (the
    // scale-safe form — no extra distinct-values job, stable schema);
    // payments by product pivoted across the three settlement currencies
    "pivot_collections" -> ((s, dir) => {
      val c = credit(s, dir)
      c.stgPayments.join(c.stgLoanContract.select(col("loan_id"), col("product_type")),
          Seq("loan_id"), "inner")
        .groupBy(col("product_type"))
        .pivot("currency", Seq("A", "N", "R"))
        .agg(sum(col("amount_received")))
        .select(col("product_type"),
          col("A").cast(DoubleType).as("collected_a"),
          col("N").cast(DoubleType).as("collected_n"),
          col("R").cast(DoubleType).as("collected_r"))
    }),

    // EXCEPT / INTERSECT set semantics (deduplicating, like SQL) over
    // the delinquent vs NPL loan-id sets, labeled and unioned
    "set_ops_loans" -> ((s, dir) => {
      val a = credit(s, dir).stgArrearsDaily
      val delinquent = a.filter(col("days_past_due") > 0).select(col("loan_id"))
      val npl = a.filter(col("npl_flag")).select(col("loan_id"))
      delinquent.except(npl).select(lit("delinquent_not_npl").as("set_name"), col("loan_id"))
        .unionByName(delinquent.intersect(npl)
          .select(lit("delinquent_and_npl").as("set_name"), col("loan_id")))
    }),

    "dedup_exact" -> ((s, dir) => {
      val ev = Tables(s, dir).events.select(
        col("event_id"), col("user_id"),
        to_date(timestamp_micros(expr("ts div 1000"))).as("day"),
        col("ts"), col("event_type"), col("value"))
      Snapshots.topOnePerGroup(ev,
          partitionBy = Seq(col("user_id"), col("day")),
          orderBy = Seq(col("ts").asc, col("event_id").asc))
        .select(col("event_id"), col("user_id"), col("day"), col("event_type"), col("value"))
    }),

    // gap-based sessionization over the event stream (1-hour quiet gap),
    // rolled up per session — one window shuffle + one agg shuffle. The
    // instant is epoch MICROS on both sides (`ts div 1000` ↔ DuckDB
    // `epoch_us`): the oracle's parquet reader truncates TIMESTAMP_NANOS
    // to micro precision, so nanos-exact arithmetic is unobservable there
    // — ordering, gap tests and outputs all use the same truncated value
    "event_sessions" -> ((s, dir) => {
      val ev = Tables(s, dir).events.select(
        col("event_id"), col("user_id"), expr("ts div 1000").as("tsu"))
      graft.operators.Sessions
        .sessionize(ev, col("user_id"), col("tsu"), 3600L * 1000000L,
          Seq(col("tsu").asc, col("event_id").asc))
        .groupBy(col("user_id"), col("session_no"))
        .agg(count(lit(1)).as("events"),
          min(col("tsu")).as("first_us"), max(col("tsu")).as("last_us"))
        .withColumn("duration_us", col("last_us") - col("first_us"))
    }),

    // exponential moving average per user over monthly value sums — the
    // SEQUENTIAL-recurrence class (y_t = α·x_t + (1−α)·y_{t−1}) that no
    // window frame expresses. Scale shape: one groupBy shuffle, then a
    // per-key HOF fold over the sorted month array — state bounded by
    // months-per-key (a config-sized series), never corpus rows; the
    // whole fold is deterministic IEEE so the DuckDB WITH RECURSIVE twin
    // reproduces it bit-for-bit (same precedent as the annuity schedule)
    "ema_monthly_value" -> ((s, dir) => {
      val monthly = Tables(s, dir).events.select(col("user_id"),
          trunc(to_date(timestamp_micros(expr("ts div 1000"))), "month").as("m"),
          floor(col("value") * 100).cast(LongType).as("cents"))
        .groupBy(col("user_id"), col("m")).agg(sum(col("cents")).as("cents"))
      val folded = monthly
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("m"), col("cents")))).as("xs"))
        .withColumn("ema", aggregate(col("xs"),
          expr("cast(array() as array<double>)"),
          (acc, x) => concat(acc, array(
            when(size(acc) === 0, x.getField("cents").cast(DoubleType))
              .otherwise(lit(0.25) * x.getField("cents").cast(DoubleType) +
                lit(0.75) * element_at(acc, size(acc)))))))
      folded.select(col("user_id"),
          explode(arrays_zip(col("xs"), col("ema"))).as("z"))
        .select(col("user_id"), col("z.xs.m").as("m"),
          col("z.xs.cents").as("cents"), col("z.ema").as("ema"))
    }),

    // generated calendar dimension — the broadcast-sized mart-support
    // table (year/quarter/month attributes, weekend + month-end flags);
    // one narrow sequence explode, no shuffle. Weekday numbering differs
    // per engine (Spark dayofweek 1=Sun; DuckDB dow 0=Sun) so the flags,
    // not the raw numbers, are the contract
    "date_dim" -> ((s, _) =>
      s.range(1).select(explode(sequence(
          lit("2015-01-01").cast(DateType), lit("2016-12-31").cast(DateType),
          expr("interval 1 day"))).as("d"))
        .select(col("d"),
          year(col("d")).as("yr"), quarter(col("d")).as("qtr"),
          month(col("d")).as("mo"), dayofmonth(col("d")).as("dom"),
          trunc(col("d"), "month").as("month_start"),
          last_day(col("d")).as("month_end"),
          (dayofweek(col("d")) === 1 || dayofweek(col("d")) === 7).as("is_weekend"),
          (col("d") === last_day(col("d"))).as("is_month_end"))),

    // retention cohort analysis: users bucketed by first-activity month,
    // distinct actives per (cohort, months-since) — first-touch groupBy,
    // one join back, distinct count (all keyed shuffles; the distinct
    // count can swap to Skew.distinctCountSkewSafe under a hot cohort)
    "retention_cohorts" -> ((s, dir) => {
      val ev = Tables(s, dir).events.select(col("user_id"),
        trunc(to_date(timestamp_micros(expr("ts div 1000"))), "month").as("m"))
      val first = ev.groupBy(col("user_id")).agg(min(col("m")).as("cohort_month"))
      ev.join(first, Seq("user_id"))
        .withColumn("months_since",
          months_between(col("m"), col("cohort_month")).cast(IntegerType))
        .groupBy(col("cohort_month"), col("months_since"))
        .agg(countDistinct(col("user_id")).as("active_users"))
    }),

    // hopping (sliding) time windows — the third member of the window
    // family next to tumbling (streaming_dpd_batch) and session
    // (session_window_agg): each event lands in size/slide = 4 windows;
    // the oracle replays the assignment arithmetic with generate_series
    "hopping_window_agg" -> ((s, dir) => {
      val ev = Tables(s, dir).events.select(
        col("event_type"), expr("ts div 1000").as("tsu"))
        .withColumn("tss", timestamp_micros(col("tsu")))
      ev.groupBy(col("event_type"), window(col("tss"), "1 day", "6 hours").as("w"))
        .agg(count(lit(1)).as("events"))
        .select(col("event_type"),
          unix_micros(col("w.start")).as("win_start_us"),
          unix_micros(col("w.end")).as("win_end_us"), col("events"))
    }),

    // Spark's NATIVE session windows (the streaming-capable operator) in
    // batch mode, cross-validated against the composed islands spelling:
    // merge at <= gap (boundary-probed), end = last event + gap. Output
    // instants stay BIGINT micros for oracle parity.
    "session_window_agg" -> ((s, dir) => {
      val ev = Tables(s, dir).events.select(
        col("event_id"), col("user_id"), expr("ts div 1000").as("tsu"))
        .withColumn("tss", timestamp_micros(col("tsu")))
      ev.groupBy(col("user_id"), session_window(col("tss"), "1 hour").as("sw"))
        .agg(count(lit(1)).as("events"),
          min(col("tsu")).as("first_us"), max(col("tsu")).as("last_us"))
        .select(col("user_id"), col("events"), col("first_us"), col("last_us"),
          unix_micros(col("sw.end")).as("session_end_us"))
    }),

    // forward as-of with tolerance (merge_asof direction='forward'):
    // each click attributed to the user's FIRST purchase within 24h —
    // same one-shuffle union+window shape as the SCD-2 backward as-of,
    // time ordering reversed. Right side deduped to one row per
    // (user, instant) so the match is engine-independent.
    "funnel_next_purchase" -> ((s, dir) => {
      val ev = Tables(s, dir).events.select(
        col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("tsu"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("tsu"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tsu").as("p_tsu"), col("event_id"))
        .groupBy(col("user_id"), col("p_tsu"))
        .agg(min(col("event_id")).as("purchase_id"))
        .withColumn("p_ts", col("p_tsu"))
      graft.operators.AsOf.asOfJoinForward(
        clicks, purchases, Seq("user_id"), "tsu", "p_tsu",
        tolerance = Some(24L * 3600L * 1000000L))
    }),

    "text_stats" -> ((s, dir) => Text.textStats(Tables(s, dir).documents)),

    "near_dup_ngram" -> ((s, dir) => Text.ngramJaccardPairs(Tables(s, dir).documents, 3)),

    // web-graph-style document quality weighting: 3 damped PageRank
    // rounds over the doc–shingle bipartite graph (df-window 2..20 caps
    // supernode degree), exact-int64 rank units so the fixpoint prefix
    // hash-replays in SQL
    "doc_centrality" -> ((s, dir) =>
      graft.ext.Graph.docCentrality(Tables(s, dir).documents, n = 3,
        minDf = 2, maxDf = 20, iters = 3)),

    // the CONVERGENCE stopping rule over the same graph: run until the
    // max per-vertex |Δrank| falls to 8× the per-vertex seed (hub
    // vertices start ~28 seeds from their fixpoint, decaying ~0.85×
    // per round) or 12 rounds — exact-int determinism makes the
    // stopping ROUND itself oracle-replayable, not just a fixed prefix
    "doc_centrality_converged" -> ((s, dir) =>
      graft.ext.Graph.docCentralityConverged(Tables(s, dir).documents,
        n = 3, minDf = 2, maxDf = 20, maxIters = 12, epsPct = 800L)),

    // dangling-mass redistribution on a graph that is ALL sinks on one
    // side (customer→order edges; orders have no out-edges): each
    // round returns the parked mass uniformly inside the damped term,
    // so total mass is conserved up to floor shed instead of leaking
    "page_rank_dangling" -> ((s, dir) => {
      val o = Tables(s, dir).orders
      graft.ext.Graph.pageRank(
        o.select(concat(lit("c:"), col("o_custkey").cast("string")).as("src"),
          concat(lit("o:"), col("o_orderkey").cast("string")).as("dst")),
        iters = 3, redistributeDangling = true)
    }),

    "knn_cosine_brute" -> ((s, dir) => Sim.bruteTopK(Tables(s, dir).embeddings, 5)),

    "knn_cosine_lsh" -> ((s, dir) => Sim.lshTopK(Tables(s, dir).embeddings, 5, 6)),

    // the scale configuration: narrower buckets (2^10), recall recovered
    // by OR-amplification over 3 independent hyperplane tables
    "knn_cosine_lsh_multi" -> ((s, dir) =>
      Sim.lshTopKTables(Tables(s, dir).embeddings, 5, 10, 3)),

    // the cell-probing alternative: IVF coarse quantizer, 8 cells, nprobe 2
    "knn_cosine_ivf" -> ((s, dir) =>
      Sim.ivfTopK(Tables(s, dir).embeddings, 5, 8, 2)),

    "embed_near_dup" -> ((s, dir) => Sim.embeddingNearDups(Tables(s, dir).embeddings, 6, 0.30)),

    // the recall audit for the EMBEDDING near-dup family (near_dup_recall's
    // discipline on the third similarity modality): LSH-bucketed pair
    // count vs the brute all-pairs cosine truth at the same 0.30
    // threshold — every bucketed pair is exact-cosine verified, so
    // hits/truth IS the bucketing's recall, as a driver-hashed number
    "embed_near_dup_recall" -> ((s, dir) => {
      val emb = Tables(s, dir).embeddings
      val truth = Sim.bruteNearDupPairs(emb, 0.30)
        .agg(count(lit(1)).as("n_truth"))
      val hits = Sim.embeddingNearDups(emb, 6, 0.30)
        .agg(count(lit(1)).as("n_hit"))
      truth.crossJoin(hits).select(col("n_truth"), col("n_hit"),
        when(col("n_truth") > 0,
          col("n_hit").cast(DoubleType) / col("n_truth").cast(DoubleType))
          .otherwise(lit(null).cast(DoubleType)).as("recall"))
    }),

    // the IVF TUNING curve: recall + candidate volume at nProbe ∈
    // {1,2,4,8} over ONE trained routing and ONE candidate set (each
    // point is a probe-rank prefix) — coarseK/iters mirror the
    // knn_cosine_ivf_trained configuration, so the np=2 row is that
    // query's operating point quantified against its alternatives
    "ivf_nprobe_curve" -> ((s, dir) =>
      Sim.ivfNprobeCurve(Tables(s, dir).embeddings, k = 5, coarseK = 8, iters = 2,
        nProbes = Seq(1, 2, 4, 8))),

    // the 100 TB form of the curve the scaladoc promises: the probe
    // side a deterministic residue class (vec_id % 3 = 1 — a third of
    // the probes), the FULL corpus indexed, truth restricted to the
    // same slice — and both the IVF probe list and the brute-truth
    // kernel see the filter BEFORE their expensive work (the truth side
    // via the two-frame bruteTopK, since Catalyst can't push a filter
    // below the typed MapPartitions), so the sampled recall genuinely
    // costs ~1/3 of the full twin (measured in COVERAGE.md) and the
    // estimate's accuracy is itself a hashed number (compare against
    // ivf_nprobe_curve's rows)
    "ivf_nprobe_curve_sampled" -> ((s, dir) =>
      Sim.ivfNprobeCurve(Tables(s, dir).embeddings, k = 5, coarseK = 8, iters = 2,
        nProbes = Seq(1, 2, 4, 8), probeMod = Some((3L, 1L)))),

    "dq_suite" -> ((s, dir) => {
      val c = credit(s, dir)
      Checks.suite(c.stgArrearsDaily, c.stgLoanContract, c.stgPayments)
    }),

    // the streaming surface driven in batch mode: dailyWorstDpd is
    // readStream/read agnostic (same plan, the watermark is a no-op on a
    // batch frame), so the tumbling-window agg gets a full hash oracle
    "streaming_dpd_batch" -> ((s, dir) => {
      val ev = Tables(s, dir).events.select(
        col("user_id").as("loan_id"),
        timestamp_micros(expr("ts div 1000")).as("ts"),
        floor(col("value")).cast(IntegerType).as("dpd"))
      graft.streaming.StreamingDpd.dailyWorstDpd(ev)
    }),

    // the stateful streaming path's driver signal: the batch twin of
    // flatMapGroupsWithState's final state (max/last/sticky-NPL are
    // micro-batch-boundary-invariant; StreamingSpec asserts the stateful
    // kernel's last emission equals this frame on a chunked stream)
    "streaming_dpd_state_batch" -> ((s, dir) => {
      // the instant is epoch MICROS (`ts div 1000` ↔ oracle `epoch_us`):
      // DuckDB's parquet read truncates TIMESTAMP_NANOS to micros, so a
      // raw-nanos order here would break on micro-level ties the oracle
      // can't see (same rule as event_sessions); finalStateBatch's dpd
      // tiebreaker resolves those ties identically in both engines
      val ev = Tables(s, dir).events.select(
        col("user_id").as("loan_id"), expr("ts div 1000").as("ts"),
        floor(col("value")).cast(IntegerType).as("dpd"))
      graft.streaming.StreamingDpd.finalStateBatch(ev)
    }),

    // the stream-stream join's batch driver signal: error events
    // enriched with the same user's events from the trailing 30 minutes.
    // trailingWindowJoin is read-agnostic — this exact plan, fed two
    // readStream frames, is the watermark-bounded incremental join the
    // StreamingSpec drives through MemoryStreams. Instants are micros on
    // both sides (nanos are unobservable to the oracle).
    "stream_join_batch" -> ((s, dir) => {
      val ev = Tables(s, dir).events
      val anchors = ev.filter(col("event_type") === "error").select(
        col("event_id").as("anchor_id"), col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("anchor_ts"))
      val probes = ev.select(
        col("event_id").as("probe_id"), col("user_id").as("probe_user"),
        timestamp_micros(expr("ts div 1000")).as("probe_ts"),
        col("event_type").as("probe_type"))
      graft.streaming.StreamingJoin.trailingWindowJoin(
          anchors, probes, "user_id", "probe_user", "anchor_ts", "probe_ts",
          expr("INTERVAL 30 MINUTES"), "1 hour")
        .filter(col("probe_id") =!= col("anchor_id"))
        .select(col("anchor_id"), col("probe_id"), col("user_id"), col("probe_type"),
          unix_micros(col("anchor_ts")).as("anchor_us"),
          unix_micros(col("probe_ts")).as("probe_us"))
    }),

    // the salted-join twin of dpd_daily: Skew.saltedJoin only changes the
    // physical distribution (content-hash salt on the fact, dim replicated
    // salts-fold), so the SAME dpd_daily oracle hash-proves the rewrite
    // is semantics-preserving end-to-end
    "dpd_daily_salted" -> ((s, dir) => {
      val c = credit(s, dir)
      val joined = graft.operators.Skew.saltedJoin(
        c.stgArrearsDaily,
        c.stgLoanContract.select(
          col("loan_id"), col("borrower_id"), col("product_type"),
          col("currency"), col("origination_date"), col("exposure")),
        "loan_id", 8)
      joined.select(
        col("as_of_date"), col("loan_id"), col("borrower_id"),
        col("product_type"), col("currency"), col("origination_date"),
        col("exposure").cast(DoubleType).as("exposure"),
        col("days_past_due"), col("dpd_bucket"), col("npl_flag"),
        col("past_due_amount_total").cast(DoubleType).as("past_due_amount_total"))
    }),

    // the injected-function SQL surface (GraftExtensions): graft_dot
    // reached through a pure SQL string, oracle-checked against the same
    // left-associated chain the DataFrame plans compile to
    "sql_embedding_norms" -> ((s, dir) => {
      Tables(s, dir).embeddings.createOrReplaceTempView("v_embeddings")
      s.sql("SELECT vec_id, graft_dot(embedding, embedding) AS nsq FROM v_embeddings")
    }),

    // S5 driver exposure: dense surrogate keys over an explicit total
    // order (the RETURNING-id analog), dim-table scale by contract
    "load_surrogate_keys" -> ((s, dir) =>
      graft.sources.Load.withSurrogateKeys(
        Tables(s, dir).customer.select(
          col("c_custkey"), col("c_name"),
          col("c_acctbal").cast(DoubleType).as("acctbal")),
        "sk", 10000L, Seq(col("c_custkey")))),

    // the corpus-scale upgrade of S5: dense 1..n ids via per-shard counts
    // + offset broadcast + bounded windows — NO one-task global sort.
    // shardSize 100 so the sf tiers exercise real multi-shard offsets
    "dense_ids" -> ((s, dir) =>
      graft.sources.Load.withDenseIds(
        Tables(s, dir).documents.select(col("doc_id"), col("source")),
        "doc_id", "dense_id", 100L)),

    // SCD-2 dimension merge over the loans dim: one derivation exercises
    // every merge branch — closed-history pass-through (loan_id%5=0 rows
    // pre-closed), equal-attr no-op, changed-attr close+reopen
    // (exposure bumped on the even incoming keys), re-open of a key
    // whose versions were all closed, and brand-new inserts (the
    // +1000000 keys). The oracle is the declarative UNION of the same
    // five branches — merge semantics proven, not echoed.
    "scd2_merge" -> ((s, dir) => {
      val l = credit(s, dir).stgLoanContract.withColumn("loan_id", col("loan_id").cast(LongType))
      val dim = l.select(
        col("loan_id"), col("product_type"), col("currency"), col("exposure"),
        col("origination_date").as("valid_from"),
        when(col("loan_id") % 5 === 0, to_date(lit("2024-01-01"))).as("valid_to"),
        (col("loan_id") % 5 =!= 0).as("is_current"))
      val inc = l.filter(col("loan_id") % 3 === 0).select(
          col("loan_id"), col("product_type"), col("currency"),
          when(col("loan_id") % 2 === 0, col("exposure") + 100)
            .otherwise(col("exposure")).cast(DecimalType(18, 2)).as("exposure"))
        .unionByName(l.filter(col("loan_id") % 10 === 0).select(
          (col("loan_id") + 1000000L).as("loan_id"), col("product_type"),
          col("currency"), col("exposure")))
      graft.operators.Scd2.merge(dim, inc, "loan_id",
          Seq("product_type", "currency", "exposure"), to_date(lit("2025-06-01")))
        .withColumn("exposure", col("exposure").cast(DoubleType))
    }),

    // range join as an equi-join: payments matched to the keyed order
    // windows containing their date. The naive BETWEEN join is a
    // broadcast nested loop; the grain-cell rewrite shuffles once on
    // (loan_id, cell) — PlanSpec asserts no nested-loop/cartesian ever
    // appears. The oracle states the BETWEEN semantics directly, so the
    // rewrite is proven result-identical.
    "interval_join_payments" -> ((s, dir) => {
      val pay = credit(s, dir).stgPayments
        .select(col("loan_id"), col("payment_date"),
          col("amount_received").cast(DoubleType).as("amount_received"))
      val iv = Tables(s, dir).orders.select(
        col("o_custkey").cast(LongType).as("loan_id"),
        col("o_orderdate").cast(DateType).as("start_date"),
        date_add(col("o_orderdate").cast(DateType),
          (col("o_orderkey") % 30).cast(IntegerType)).as("end_date"),
        col("o_orderkey").cast(LongType).as("interval_id"))
      graft.operators.IntervalJoin
        .pointInInterval(pay, iv, Seq("loan_id"), "payment_date",
          "start_date", "end_date", 30)
        .select(col("loan_id"), col("interval_id"), col("payment_date"),
          col("start_date"), col("end_date"), col("amount_received"))
    }),

    // table reconciliation (dbt-audit / data-diff): left = the loans dim,
    // right = a deterministically drifted copy (removals on %11, exposure
    // bump on %4, product reclassification on %9, brand-new keys on %13)
    // — the diff reports added/removed/changed keys with the offending
    // column names, and identical rows never appear
    "table_diff" -> ((s, dir) => {
      val l = credit(s, dir).stgLoanContract.withColumn("loan_id", col("loan_id").cast(LongType))
        .select(col("loan_id"), col("product_type"), col("exposure"))
      val r = l.filter(col("loan_id") % 11 =!= 0)
        .select(col("loan_id"),
          when(col("loan_id") % 9 === 0, lit("RECLASSIFIED"))
            .otherwise(col("product_type")).as("product_type"),
          when(col("loan_id") % 4 === 0, col("exposure") + 1)
            .otherwise(col("exposure")).cast(DecimalType(18, 2)).as("exposure"))
        .unionByName(l.filter(col("loan_id") % 13 === 0).select(
          (col("loan_id") + 2000000L).as("loan_id"), col("product_type"), col("exposure")))
      graft.operators.Reconcile.diff(l, r, "loan_id", Seq("product_type", "exposure"))
    }),

    // dbt-incremental maintenance of the monthly mart: probe the current
    // max month (the `SELECT max(...)` boundary probe every incremental
    // model runs — one tiny agg job, the documented exception to the
    // no-collect rule), recompute ONLY that month's slice, union it with
    // the prior months' mart. month is a group key, so the mart is
    // month-partitionable and the incremental union is EXACT — proven by
    // sharing npl_monthly's oracle verbatim. At 100 TB this is the
    // difference between scanning one month and scanning the history.
    "npl_monthly_incremental" -> ((s, dir) => {
      val dd = credit(s, dir).dpdDaily
      val m = date_trunc("month", col("as_of_date")).cast(DateType)
      val cutoffRow = dd.agg(max(m).as("m")).head()
      if (cutoffRow.isNullAt(0)) Marts.nplMonthly(dd)
      else {
        val cutoff = cutoffRow.getDate(0)
        Marts.nplMonthly(dd.filter(m < lit(cutoff)))
          .unionByName(Marts.nplMonthly(dd.filter(m === lit(cutoff))))
      }
    }),

    // S3 driver exposure: the partitioned batch sink round-tripped — what
    // the oracle checks is that the write+read is LOSSLESS (values,
    // types, partition-column recovery), the sink's actual contract
    "load_partitioned_roundtrip" -> ((s, dir) => {
      val ev = Tables(s, dir).events.select(
        col("event_id"), col("user_id"), col("event_type"), col("value"))
      // per-invocation temp dir: a fixed path would race when two
      // drivers (Verify + Bench) run against the same scale dir;
      // Scratch removes it at JVM exit (no /tmp litter across bench runs)
      val path = graft.sources.Scratch.dir("graft_sink")
        .resolve("events_by_type").toString
      graft.sources.Load.writePartitioned(ev, path, Seq("event_type"), Seq("event_id"))
      s.read.parquet(path).select(
        col("event_id"), col("user_id"), col("event_type"), col("value"))
    }),

    // per-group top-k: `row_number() <= 3` plans as WindowGroupLimit,
    // which prunes each partition to 3 rows per type before the one
    // hash exchange. Total order via the event_id tiebreak.
    "topk_per_group" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id").asc)
      Tables(s, dir).events.select(col("event_id"), col("event_type"), col("value"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .drop("rn")
    }),

    // ORC source/sink round-trip: the second columnar interchange format
    // (same lossless contract as the parquet sink, different reader path)
    "source_orc_roundtrip" -> ((s, dir) => {
      val ev = Tables(s, dir).events.select(
        col("event_id"), col("user_id"), col("event_type"), col("value"))
      val path = graft.sources.Scratch.dir("graft_orc").resolve("events").toString
      ev.write.orc(path)
      s.read.schema(ev.schema).orc(path)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    }),

    // bucketed co-located join: both sides written bucketed on the join
    // key (external tables under a Scratch dir), then a sort-merge join
    // that reads the bucket layout and SKIPS the shuffle on both sides —
    // the write-once/join-many answer for repeated fact×fact joins at
    // 100 TB (plan-asserted exchange-free in LoadSpec; the oracle checks
    // the join result itself survives the bucketed storage boundary)
    "bucketed_join" -> ((s, dir) => {
      val scratch = graft.sources.Scratch.dir("graft_bucketed")
      val ev = Tables(s, dir).events.select(col("event_id"), col("user_id"), col("value"))
      val per = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      graft.sources.Load.writeBucketed(ev, "graft_b_events", "user_id", 8,
        Seq("user_id"), Some(scratch.resolve("ev").toString))
      graft.sources.Load.writeBucketed(per, "graft_b_users", "user_id", 8,
        Seq("user_id"), Some(scratch.resolve("us").toString))
      s.table("graft_b_events").hint("merge")
        .join(s.table("graft_b_users"), Seq("user_id"))
        .select(col("user_id"), col("event_id"), col("value"), col("n_events"))
    }),

    // JSONL source/sink round-trip: the interchange format every LLM
    // corpus pipeline ingests. The oracle checks losslessness through
    // Spark's JSON encode→decode (escaping, unicode, long fidelity) —
    // read back with an EXPLICIT schema, the 100 TB posture (schema
    // inference is a full extra pass over the data).
    "source_jsonl_roundtrip" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
      val path = graft.sources.Scratch.dir("graft_jsonl").resolve("docs").toString
      docs.write.json(path)
      s.read.schema(docs.schema).json(path)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
    }),

    // gzip-compressed JSONL round-trip: how 100 TB corpora actually
    // arrive (.jsonl.gz shards — CommonCrawl WET/WARC derivatives, most
    // public text dumps). The codec is Hadoop-built-in; the cost is
    // SPLITTABILITY: a gzip member can only be decoded from byte 0, so
    // one .gz file = one task and read parallelism comes from the SHARD
    // COUNT — hence the explicit repartition(8) before the write (the
    // knob that decides ingest parallelism at scale; bzip2/zstd-seekable
    // are the splittable alternatives when shard counts are low)
    "source_jsonl_gz_roundtrip" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
      val path = graft.sources.Scratch.dir("graft_jsonl_gz").resolve("docs").toString
      docs.repartition(8).write.option("compression", "gzip").json(path)
      s.read.schema(docs.schema).json(path) // .gz sniffed by extension
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
    }),

    // CSV round-trip under ADVERSARIAL content: the sf corpus text is
    // delimiter-clean, so hostile bytes (comma, RFC-doubled quote,
    // embedded newline, backslash) are INJECTED before the write — the
    // quoteAll + quote-escape + multiLine config must carry them
    // losslessly or the oracle hash catches it. nullValue is remapped to
    // a sentinel no text field can contain (NUL) because the read-side
    // default ("") would resurrect empty strings as NULLs — the classic
    // CSV lossiness this sink config exists to avoid. Scale note:
    // multiLine makes each CSV FILE non-splittable (embedded newlines
    // defeat offset-based splits) — parallelism then comes from file
    // count, and columnar/JSONL formats are the right 100 TB interchange;
    // this sink exists for the ingest boundary where CSV is imposed.
    "source_csv_roundtrip" -> ((s, dir) => {
      val hostile = concat(col("text"), lit(", \"q\"\nL2\\end"))
      val docs = Tables(s, dir).documents
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          hostile.as("text"))
      val path = graft.sources.Scratch.dir("graft_csv").resolve("docs").toString
      docs.write
        .option("header", "true").option("quoteAll", "true")
        .option("escape", "\"")
        .csv(path)
      s.read.schema(docs.schema)
        .option("header", "true").option("multiLine", "true")
        .option("escape", "\"").option("nullValue", "\u0000")
        .csv(path)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("text"))
    }),

    // WARC-shaped crawl-container round-trip: documents packed into
    // record-framed WARC/1.0 containers (version line, headers,
    // Content-Length framing, CRLF CRLF terminator) and parsed back by
    // the real byte walker. The payload is made HOSTILE first — it
    // embeds a complete fake record head — so only length-based
    // framing round-trips it; a delimiter-scanning parser would split
    // mid-payload and hash-fail (the CSV round-trip's adversarial
    // discipline applied to the crawl container)
    "source_warc_roundtrip" -> ((s, dir) => {
      val hostile = concat(col("text"),
        lit("\nWARC/1.0\nContent-Length: 0\n\n"))
      val docs = Tables(s, dir).documents
        .select(col("doc_id"), hostile.as("text"))
      graft.sources.Warc.parseWarc(graft.sources.Warc.encodeWarc(docs)).toDF()
    }),

    // the .warc.gz form CommonCrawl actually ships: each RECORD is its
    // own gzip member (offset-seekable at archive scale), members
    // concatenated per container; the multi-member inflate + the same
    // length-framed walker must round-trip the identical hostile
    // payload — same identity oracle as the plain form
    "source_warc_gz_roundtrip" -> ((s, dir) => {
      val hostile = concat(col("text"),
        lit("\nWARC/1.0\nContent-Length: 0\n\n"))
      val docs = Tables(s, dir).documents
        .select(col("doc_id"), hostile.as("text"))
      graft.sources.Warc.parseWarcGz(graft.sources.Warc.encodeWarcGz(docs)).toDF()
    }),

    // the HTTP metadata screen a real CommonCrawl ingest applies BEFORE
    // any text work: records carry a full HTTP response block inside
    // the Content-Length framing (status line + headers + CRLF blank
    // line + body — the block's own CRLFs sit inside the declared
    // length); the parser recovers status / Content-Type / body and the
    // funnel keeps 200 + text-like records. Total annotation over the
    // record spine, keep verdict as a flag — both branches live by the
    // fixture's status (mod 7) and content-type (mod 5) cycles
    "warc_http_screen" -> ((s, dir) => {
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      graft.sources.Warc.parseWarcHttp(
        graft.sources.Warc.parseWarc(graft.sources.Warc.encodeWarcHttp(docs)))
        .toDF()
        .select(col("doc_id"), col("target_uri"), col("status"),
          col("content_type"), length(col("body")).cast("long").as("n_body_chars"),
          (col("status") === 200 && col("content_type").startsWith("text/"))
            .cast("int").as("keep"))
    }),

    // the screen's missing half (r19 VERDICT "What's missing #1"): real
    // response bodies arrive FRAMED — gzip/deflate Content-Encoding
    // (what CommonCrawl overwhelmingly carries), chunked
    // Transfer-Encoding, or chunked-over-gzip — and a funnel that skips
    // the decode step screens compressed bytes. The fixture cycles all
    // five framings off doc_id (mod 5); the decoder de-chunks, then
    // inflates, over RAW payload bytes (a String round-trip would
    // corrupt gzip bytes), and the oracle states body = the ORIGINAL
    // text for every mode — a passthrough bug on any framing hash-fails
    "warc_http_body" -> ((s, dir) => {
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      graft.sources.Warc.parseWarcHttpBody(
        graft.sources.Warc.parseWarcRaw(graft.sources.Warc.encodeWarcHttpEnc(docs)))
        .toDF()
        .select(col("doc_id"), col("target_uri"), col("status"),
          col("content_type"), col("body"),
          (col("status") === 200 && col("content_type").startsWith("text/"))
            .cast("int").as("keep"))
    }),

    // the FULL CommonCrawl read path in one query: `.warc.gz` container
    // (per-record gzip members) on the outside, encoded HTTP framing
    // inside — member inflate, length-framed record walk, de-chunk,
    // body inflate, all on raw bytes; records are byte-identical to the
    // plain form's, so the oracle holds verbatim
    "warc_http_body_gz" -> ((s, dir) => {
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      graft.sources.Warc.parseWarcHttpBody(
        graft.sources.Warc.parseWarcGzRaw(graft.sources.Warc.encodeWarcHttpEncGz(docs)))
        .toDF()
        .select(col("doc_id"), col("target_uri"), col("status"),
          col("content_type"), col("body"),
          (col("status") === 200 && col("content_type").startsWith("text/"))
            .cast("int").as("keep"))
    }),

    // the charset step after body recovery: the web is not uniformly
    // UTF-8, so the funnel decodes each body per its Content-Type's
    // DECLARED charset — the fixture carries the SAME logical text
    // (doc text + a 3-char accented suffix) as 2-byte UTF-8 sequences,
    // raw Latin-1 high bytes, and under a quoted upper-case parameter
    // spelling; one oracle states the logical text, so a decode bug in
    // ANY branch (or a blind UTF-8 read of the Latin-1 wire bytes —
    // mojibake) hash-fails
    "warc_charset_text" -> ((s, dir) => {
      val docs = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      graft.sources.Warc.parseWarcHttpText(
        graft.sources.Warc.parseWarcRaw(graft.sources.Warc.encodeWarcCharset(docs)))
        .toDF()
    })
  )

  // ---- ANN recall as per-variant first-class queries ------------------
  // The quality AUDIT for every ANN variant: recall against the brute-
  // force truth as a driver-hash-checked number, not a doc claim. One
  // query PER variant (r9 composed all four into one 289 KB / ~24 s
  // DuckDB oracle — the sweep's worst case by 10×, and the nesting
  // excluded ivfpq entirely because its 8-Lloyd-chain oracle overflowed
  // DuckDB inside the 4-way union). Per-variant, each oracle embeds ONE
  // variant twin plus the brute twin, so the largest is the ivfpq entry
  // at ~50 KB and ivfpq recall is finally driver-checked like the rest.
  // The (variant → underlying registered query) table is the single
  // source of sync: the Spark side runs the REGISTERED query function
  // and the oracle embeds that query's REGISTERED twin, so a parameter
  // change in either propagates to its recall row automatically.
  private val annRecallVariants: Seq[(String, String)] = Seq(
    "lsh" -> "knn_cosine_lsh", "lsh_multi" -> "knn_cosine_lsh_multi",
    "ivf" -> "knn_cosine_ivf", "ivf_trained" -> "knn_cosine_ivf_trained",
    "ivf_sampled" -> "knn_cosine_ivf_sampled",
    "ivfpq" -> "knn_cosine_ivfpq", "ivfpq_res" -> "knn_cosine_ivfpq_res",
    "ivfsq" -> "knn_cosine_ivfsq", "ivfbq" -> "knn_cosine_ivfbq",
    "ivfpq_refined" -> "knn_cosine_ivfpq_refined",
    "ivfpq_opq" -> "knn_cosine_ivfpq_opq",
    "jl" -> "knn_cosine_jl",
    "jl_refined" -> "knn_cosine_jl_refined")

  private def annRecallQuery(variant: String, underlying: String): (SparkSession, String) => DataFrame =
    (s, dir) => {
      val emb = Tables(s, dir).embeddings
      // truth (brute index collect + checkpoint + count) and the
      // searcher's training chain are independent until the final
      // semi-join — build them CONCURRENTLY (guide §2.6). The searcher
      // is wrapped in Try so the empty-corpus short-circuit keeps the
      // sequential contract: its result (or failure) is only consumed
      // when truth_pairs > 0, exactly when the sequential code invoked
      // it at all.
      val (search, truthAndCnt) = graft.operators.DriverPar.par2(
        scala.util.Try((coreQueries ++ ExtRegistry.queries)(underlying)(s, dir)), {
          val t = Sim.bruteTopK(emb, 5)
            .select(col("vec_id"), col("neighbor_id")).localCheckpoint(false)
          (t, t.count())
        })
      val (truth, truthCnt) = truthAndCnt
      if (truthCnt == 0L) {
        // an empty/all-zero corpus degrades to an empty result (as the
        // ANN operators themselves do), never a 0/0 NaN recall row —
        // the oracle's `WHERE truth_pairs > 0` is the same short-circuit
        import s.implicits._
        Seq.empty[(String, Long, Long, Double)]
          .toDF("variant", "truth_pairs", "hit_pairs", "recall")
      } else
        search.get
          .select(col("vec_id"), col("neighbor_id"))
          .join(truth, Seq("vec_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("hit_pairs"))
          .select(lit(variant).as("variant"), lit(truthCnt).as("truth_pairs"),
            col("hit_pairs"),
            (col("hit_pairs").cast(DoubleType) / lit(truthCnt.toDouble)).as("recall"))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ SynthRegistry.queries ++ ExtRegistry.queries ++
      annRecallVariants.map { case (v, u) => s"ann_recall_$v" -> annRecallQuery(v, u) }

  /** Flagship: monthly NPL ratios end-to-end (scan → cast-projection →
    * bucket/flag derivation → dim join → conditional agg → guarded ratio). */
  def entry(spark: SparkSession): DataFrame =
    credit(spark, "/root/testdata/sf0.001").nplMonthly

  // --------------------------------------------------------------- Oracle

  // lazy: ExtRegistry reads this DURING Registry's own initialization
  // (Registry.queries triggers ExtRegistry init) — a strict val would
  // still be null at that point (circular object-init order)
  private[queries] lazy val arrearsCte =
    """arrears AS (
      |  SELECT user_id AS loan_id,
      |         CAST(CAST(ts AS DATE) + INTERVAL ((event_id % 6)) MONTH AS DATE) AS as_of_date,
      |         ts, event_id,
      |         CAST(floor(value) AS INTEGER) AS days_past_due,
      |         CAST(value AS DECIMAL(18,2)) AS past_due_amount_total,
      |         event_type,
      |         CASE WHEN floor(value) <= 0 THEN '0'
      |              WHEN floor(value) <= 30 THEN '1-30'
      |              WHEN floor(value) <= 60 THEN '31-60'
      |              WHEN floor(value) <= 90 THEN '61-90'
      |              ELSE '90+' END AS dpd_bucket,
      |         (COALESCE(event_type = 'error', false) OR floor(value) > 90) AS npl_flag
      |  FROM events)""".stripMargin

  private val loansCte =
    """loans AS (
      |  SELECT c_custkey AS loan_id,
      |         10000 + c_custkey AS borrower_id,
      |         c_mktsegment AS product_type,
      |         'C' || CAST(c_nationkey AS VARCHAR) AS currency,
      |         DATE '2015-01-01' + CAST(c_custkey * 7 AS INTEGER) AS origination_date,
      |         CAST(c_acctbal AS DECIMAL(18,2)) AS exposure
      |  FROM customer)""".stripMargin

  private val monthEndCte =
    """month_end AS (
      |  SELECT loan_id, month, as_of_date, days_past_due, dpd_bucket, npl_flag FROM (
      |    SELECT a.*, CAST(date_trunc('month', as_of_date) AS DATE) AS month,
      |           row_number() OVER (PARTITION BY loan_id, date_trunc('month', as_of_date)
      |                              ORDER BY as_of_date DESC, ts DESC, event_id DESC) AS rn
      |    FROM arrears a) t WHERE rn = 1)""".stripMargin

  private val transCte =
    """trans AS (
      |  SELECT loan_id, month, prev_bucket, dpd_bucket AS curr_bucket FROM (
      |    SELECT loan_id, month, dpd_bucket,
      |           lag(dpd_bucket) OVER (PARTITION BY loan_id ORDER BY month) AS prev_bucket
      |    FROM month_end) t
      |  WHERE prev_bucket IS NOT NULL)""".stripMargin

  private val payCte =
    """pay AS (
      |  SELECT o.o_custkey AS loan_id, CAST(l.l_shipdate AS DATE) AS payment_date,
      |         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS amount_received,
      |         l.l_returnflag AS currency
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)""".stripMargin

  private val writeoffCte =
    """wo AS (
      |  SELECT o_orderkey AS loan_id,
      |         CAST(o_orderdate AS DATE) AS writeoff_date,
      |         CASE WHEN o_orderstatus = 'F' THEN CAST(o_orderdate AS DATE) + 30 END AS recovery_date,
      |         CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.70 AS DECIMAL(4,2)) AS writeoff_amount_principal,
      |         CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.20 AS DECIMAL(4,2)) AS writeoff_amount_interest,
      |         NULLIF(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.10 AS DECIMAL(4,2)), 0) AS writeoff_amount_fees,
      |         CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.10 AS DECIMAL(4,2)) END AS recovery_amount
      |  FROM orders)""".stripMargin

  private val embeddingDim = 64

  private def dotChain(a: String, b: String): String =
    (1 to embeddingDim).map(i => s"$a.embedding[$i]::DOUBLE * $b.embedding[$i]::DOUBLE").mkString(" + ")

  private def nsqChain: String =
    (1 to embeddingDim).map(i => s"embedding[$i]::DOUBLE * embedding[$i]::DOUBLE").mkString(" + ")

  /** Hyperplane component constants mirror [[Sim.lshBucket]]'s integer
    * arithmetic exactly; the SQL re-derives the double with the same IEEE
    * ops (int::DOUBLE / 1000.0 - 0.5) instead of a decimal literal. */
  private def lshProjChain(nBits: Int, planeOffset: Int = 0): Seq[String] =
    (0 until nBits).map { j =>
      (1 to embeddingDim).map { i =>
        val k = Sim.hyperplaneInt(planeOffset + j, i - 1)
        s"embedding[$i]::DOUBLE * ($k::DOUBLE / 1000.0 - 0.5)"
      }.mkString(" + ")
    }

  private def lshBucketSql(nBits: Int, planeOffset: Int): String =
    lshProjChain(nBits, planeOffset).zipWithIndex
      .map { case (p, j) => s"CASE WHEN ($p) >= 0 THEN ${1L << j} ELSE 0 END" }
      .mkString(" + ")

  /** IVF centroid component as SQL: the same int→double→FLOAT→double
    * derivation [[Sim.centroid]] performs (the REAL cast reproduces the
    * Scala `.toFloat` rounding; the multiply then promotes to double). */
  private def ivfCenSql(c: Int, i: Int): String =
    s"CAST(CAST((${Sim.centroidInt(c, i)}::DOUBLE / 1000.0 - 0.5) AS REAL) AS DOUBLE)"

  /** Cell score -2·dot(v,centroid) + |centroid|², both sums left-assoc
    * chains in the same order as the Spark plan's DotProduct loop and
    * plan-time fold. */
  private def ivfScoreSql(c: Int): String = {
    val dotC = (1 to embeddingDim)
      .map(i => s"embedding[$i]::DOUBLE * ${ivfCenSql(c, i - 1)}").mkString(" + ")
    val nsqC = (0 until embeddingDim)
      .map(i => s"${ivfCenSql(c, i)} * ${ivfCenSql(c, i)}").mkString(" + ")
    s"($dotC) * -2.0 + ($nsqC)"
  }

  /** Body-decode twin (shared verbatim by the `.warc.gz` form — the
    * member codec is lossless over byte-identical records). */
  private lazy val warcHttpBodyOracle: String =
    """SELECT doc_id,
      |       'https://graft.test/' || doc_id AS target_uri,
      |       CAST(CASE doc_id % 7 WHEN 3 THEN 404 WHEN 4 THEN 301
      |                            WHEN 6 THEN 503 ELSE 200 END AS INTEGER) AS status,
      |       CASE doc_id % 5 WHEN 0 THEN 'text/html; charset=UTF-8'
      |                       WHEN 1 THEN 'text/plain'
      |                       WHEN 2 THEN 'application/pdf'
      |                       WHEN 3 THEN 'text/html'
      |                       ELSE 'image/png' END AS content_type,
      |       text AS body,
      |       CAST(CASE WHEN doc_id % 7 NOT IN (3, 4, 6)
      |                  AND doc_id % 5 IN (0, 1, 3) THEN 1 ELSE 0 END AS INTEGER) AS keep
      |FROM documents""".stripMargin

  private val coreOracles: Map[String, String] = Map(
    "stg_arrears" ->
      s"""WITH $arrearsCte
         |SELECT event_id, loan_id, as_of_date, days_past_due,
         |       CAST(past_due_amount_total AS DOUBLE) AS past_due_amount_total,
         |       event_type, dpd_bucket, npl_flag
         |FROM arrears""".stripMargin,

    "stg_loans" ->
      s"""WITH $loansCte
         |SELECT loan_id, borrower_id, product_type, currency, origination_date,
         |       CAST(exposure AS DOUBLE) AS exposure
         |FROM loans""".stripMargin,

    "stg_arrears_npl_band" ->
      s"""WITH $arrearsCte
         |SELECT event_id, loan_id, as_of_date, days_past_due, dpd_bucket
         |FROM arrears WHERE dpd_bucket = '90+'""".stripMargin,

    "dpd_daily" ->
      s"""WITH $arrearsCte, $loansCte
         |SELECT a.as_of_date, a.loan_id, l.borrower_id, l.product_type, l.currency,
         |       l.origination_date, CAST(l.exposure AS DOUBLE) AS exposure,
         |       a.days_past_due, a.dpd_bucket, a.npl_flag,
         |       CAST(a.past_due_amount_total AS DOUBLE) AS past_due_amount_total
         |FROM arrears a JOIN loans l ON a.loan_id = l.loan_id""".stripMargin,

    "npl_monthly" ->
      s"""WITH $arrearsCte, $loansCte
         |SELECT month, product_type, currency,
         |       CAST(total_exposure_dec AS DOUBLE) AS total_exposure,
         |       CAST(npl_exposure_dec AS DOUBLE) AS npl_exposure,
         |       CASE WHEN total_exposure_dec = 0 THEN NULL
         |            ELSE CAST(npl_exposure_dec AS DOUBLE) / CAST(total_exposure_dec AS DOUBLE) END AS npl_ratio
         |FROM (
         |  SELECT CAST(date_trunc('month', a.as_of_date) AS DATE) AS month,
         |         l.product_type, l.currency,
         |         SUM(l.exposure) AS total_exposure_dec,
         |         SUM(CASE WHEN a.npl_flag THEN l.exposure ELSE 0 END) AS npl_exposure_dec
         |  FROM arrears a JOIN loans l ON a.loan_id = l.loan_id
         |  GROUP BY 1, 2, 3) g""".stripMargin,

    // same integer weighted sum; exposure joins through the same CTEs
    "weighted_avg_dpd" ->
      s"""WITH $arrearsCte, $loansCte
         |SELECT month, product_type, w_total,
         |       CASE WHEN w_total <> 0
         |            THEN CAST(dpd_w AS DOUBLE) / CAST(w_total AS DOUBLE) END
         |         AS weighted_avg_dpd
         |FROM (
         |  SELECT CAST(date_trunc('month', a.as_of_date) AS DATE) AS month,
         |         l.product_type,
         |         CAST(SUM(a.days_past_due * CAST(l.exposure * 100 AS BIGINT)) AS BIGINT) AS dpd_w,
         |         CAST(SUM(CAST(l.exposure * 100 AS BIGINT)) AS BIGINT) AS w_total
         |  FROM arrears a JOIN loans l ON a.loan_id = l.loan_id
         |  GROUP BY 1, 2) g""".stripMargin,

    // lag over observed months per (product, currency); the double
    // subtraction-then-division order matches the Spark expression
    "npl_mom_change" ->
      s"""WITH $arrearsCte, $loansCte,
         |npl AS (
         |  SELECT CAST(date_trunc('month', a.as_of_date) AS DATE) AS month,
         |         l.product_type, l.currency,
         |         CAST(SUM(l.exposure) AS DOUBLE) AS total_exposure
         |  FROM arrears a JOIN loans l ON a.loan_id = l.loan_id
         |  GROUP BY 1, 2, 3),
         |lagged AS (
         |  SELECT *, lag(total_exposure) OVER (
         |    PARTITION BY product_type, currency ORDER BY month) AS prev_exposure
         |  FROM npl)
         |SELECT month, product_type, currency, total_exposure, prev_exposure,
         |       CASE WHEN prev_exposure IS NOT NULL AND prev_exposure <> 0
         |            THEN (total_exposure - prev_exposure) / prev_exposure END AS mom_change
         |FROM lagged""".stripMargin,

    "month_end" ->
      s"""WITH $arrearsCte, $monthEndCte
         |SELECT loan_id, month, as_of_date, days_past_due, dpd_bucket, npl_flag
         |FROM month_end""".stripMargin,

    "dpd_state_intervals" ->
      s"""WITH $arrearsCte, $monthEndCte,
         |m AS (
         |  SELECT loan_id, month, dpd_bucket,
         |         CASE WHEN lag(dpd_bucket) OVER (PARTITION BY loan_id ORDER BY month)
         |                   IS NOT DISTINCT FROM dpd_bucket THEN 0 ELSE 1 END AS chg
         |  FROM month_end),
         |i AS (
         |  SELECT *, sum(chg) OVER (PARTITION BY loan_id ORDER BY month
         |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM m)
         |SELECT loan_id, dpd_bucket, min(month) AS valid_from, max(month) AS valid_to,
         |       count(*) AS n_rows
         |FROM i GROUP BY loan_id, dpd_bucket, island""".stripMargin,

    "bucket_transitions" ->
      s"""WITH $arrearsCte, $monthEndCte, $transCte
         |SELECT loan_id, month, prev_bucket, curr_bucket FROM trans""".stripMargin,

    "roll_rate_monthly" ->
      s"""WITH $arrearsCte, $monthEndCte, $transCte
         |SELECT month, prev_bucket, curr_bucket, count(*) AS loans_cnt
         |FROM trans GROUP BY 1, 2, 3""".stripMargin,

    "cure_rate_monthly" ->
      s"""WITH $arrearsCte, $monthEndCte, $transCte
         |SELECT month, prev_delinquent_cnt, cured_cnt,
         |       CASE WHEN prev_delinquent_cnt = 0 THEN NULL
         |            ELSE CAST(cured_cnt AS DOUBLE) / CAST(prev_delinquent_cnt AS DOUBLE) END AS cure_rate
         |FROM (
         |  SELECT month,
         |         count(*) FILTER (WHERE prev_bucket <> '0') AS prev_delinquent_cnt,
         |         count(*) FILTER (WHERE prev_bucket <> '0' AND curr_bucket = '0') AS cured_cnt
         |  FROM trans GROUP BY 1) g""".stripMargin,

    "vintage_mob" ->
      s"""WITH $arrearsCte, $loansCte, $monthEndCte
         |SELECT cohort_q, mob, loans_cnt, delinquent_cnt, npl_cnt,
         |       CASE WHEN loans_cnt = 0 THEN NULL
         |            ELSE CAST(delinquent_cnt AS DOUBLE) / CAST(loans_cnt AS DOUBLE) END AS delinquent_rate,
         |       CASE WHEN loans_cnt = 0 THEN NULL
         |            ELSE CAST(npl_cnt AS DOUBLE) / CAST(loans_cnt AS DOUBLE) END AS npl_rate
         |FROM (
         |  SELECT cohort_q, mob, count(*) AS loans_cnt,
         |         CAST(SUM(CASE WHEN days_past_due > 0 THEN 1 ELSE 0 END) AS BIGINT) AS delinquent_cnt,
         |         CAST(SUM(CASE WHEN days_past_due > 90 THEN 1 ELSE 0 END) AS BIGINT) AS npl_cnt
         |  FROM (
         |    SELECT CAST(date_trunc('quarter', l.origination_date) AS DATE) AS cohort_q,
         |           CAST(date_part('year', age(m.month, l.origination_date)) * 12
         |                + date_part('month', age(m.month, l.origination_date)) AS INTEGER) AS mob,
         |           m.days_past_due
         |    FROM month_end m JOIN loans l ON m.loan_id = l.loan_id) p
         |  WHERE mob >= 0
         |  GROUP BY 1, 2) g""".stripMargin,

    "writeoff_recovery_monthly" ->
      s"""WITH $writeoffCte
         |SELECT month,
         |       CAST(writeoff_total_dec AS DOUBLE) AS writeoff_total,
         |       CAST(recovery_total_dec AS DOUBLE) AS recovery_total
         |FROM (
         |  SELECT CAST(date_trunc('month', COALESCE(recovery_date, writeoff_date)) AS DATE) AS month,
         |         SUM(COALESCE(writeoff_amount_principal, 0) + COALESCE(writeoff_amount_interest, 0)
         |             + COALESCE(writeoff_amount_fees, 0)) AS writeoff_total_dec,
         |         SUM(COALESCE(recovery_amount, 0)) AS recovery_total_dec
         |  FROM wo GROUP BY 1) g""".stripMargin,

    "collections_monthly" ->
      s"""WITH $payCte, $loansCte
         |SELECT month, product_type, currency, CAST(s AS DOUBLE) AS collected_amount
         |FROM (
         |  SELECT CAST(date_trunc('month', p.payment_date) AS DATE) AS month,
         |         lo.product_type, p.currency, SUM(p.amount_received) AS s
         |  FROM pay p JOIN loans lo ON p.loan_id = lo.loan_id
         |  GROUP BY 1, 2, 3) g""".stripMargin,

    "densify_daily" ->
      """SELECT o_orderkey, CAST(d AS DATE) AS day FROM (
        |  SELECT o_orderkey,
        |         unnest(generate_series(CAST(o_orderdate AS DATE),
        |                CAST(o_orderdate AS DATE) + CAST(o_orderkey % 5 AS INTEGER),
        |                INTERVAL 1 DAY)) AS d
        |  FROM orders) t""".stripMargin,

    // same exact-numerator / one-division formula as the Spark side
    "interpolate_daily" ->
      """WITH obs AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         SUM(CAST(floor(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2),
        |nxt AS (
        |  SELECT user_id, day AS d0, cents AS v0,
        |         lead(day) OVER (PARTITION BY user_id ORDER BY day) AS d1,
        |         lead(cents) OVER (PARTITION BY user_id ORDER BY day) AS v1
        |  FROM obs),
        |ex AS (
        |  SELECT user_id, d0, v0, d1, v1,
        |         unnest(CASE WHEN d1 IS NULL THEN [CAST(0 AS BIGINT)]
        |                ELSE generate_series(CAST(0 AS BIGINT),
        |                       CAST(date_diff('day', d0, d1) - 1 AS BIGINT)) END) AS off
        |  FROM nxt)
        |SELECT user_id,
        |       CAST(d0 + INTERVAL (off) DAY AS DATE) AS day,
        |       CASE WHEN off = 0 THEN CAST(v0 AS DOUBLE)
        |            ELSE CAST(v0 AS DOUBLE) +
        |                 CAST((v1 - v0) * off AS DOUBLE) /
        |                 CAST(date_diff('day', d0, d1) AS DOUBLE) END AS value_interp,
        |       (off = 0) AS is_observed
        |FROM ex""".stripMargin,

    "rolling_collections_30d" ->
      s"""WITH $payCte
         |SELECT loan_id, payment_date,
         |       CAST(amount_received AS DOUBLE) AS amount_received,
         |       CAST(SUM(amount_received) OVER (
         |         PARTITION BY loan_id
         |         ORDER BY date_diff('day', DATE '1992-01-01', payment_date)
         |         RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_30d
         |FROM pay""".stripMargin,

    "pivot_collections" ->
      s"""WITH $payCte, $loansCte
         |SELECT product_type,
         |       CAST(SUM(CASE WHEN p.currency = 'A' THEN p.amount_received END) AS DOUBLE) AS collected_a,
         |       CAST(SUM(CASE WHEN p.currency = 'N' THEN p.amount_received END) AS DOUBLE) AS collected_n,
         |       CAST(SUM(CASE WHEN p.currency = 'R' THEN p.amount_received END) AS DOUBLE) AS collected_r
         |FROM pay p JOIN loans lo ON p.loan_id = lo.loan_id
         |GROUP BY 1""".stripMargin,

    "set_ops_loans" ->
      s"""WITH $arrearsCte,
         |delinquent AS (SELECT loan_id FROM arrears WHERE days_past_due > 0),
         |npl AS (SELECT loan_id FROM arrears WHERE npl_flag)
         |SELECT 'delinquent_not_npl' AS set_name, loan_id
         |FROM (SELECT loan_id FROM delinquent EXCEPT SELECT loan_id FROM npl) t
         |UNION ALL
         |SELECT 'delinquent_and_npl', loan_id
         |FROM (SELECT loan_id FROM delinquent INTERSECT SELECT loan_id FROM npl) t""".stripMargin,

    "dedup_exact" ->
      """SELECT event_id, user_id, day, event_type, value FROM (
        |  SELECT event_id, user_id, CAST(ts AS DATE) AS day, event_type, value,
        |         row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin,

    "text_stats" ->
      s"""SELECT doc_id, lang, source, n_chars, char_cnt, token_cnt, distinct_tokens,
         |       stopword_cnt,
         |       CAST(stopword_cnt AS DOUBLE) / CAST(token_cnt AS DOUBLE) AS stopword_ratio,
         |       CAST(char_cnt - (token_cnt - 1) AS DOUBLE) / CAST(token_cnt AS DOUBLE) AS avg_token_len,
         |       punct_cnt,
         |       CASE WHEN char_cnt = 0 THEN 0.0
         |            ELSE CAST(punct_cnt AS DOUBLE) / CAST(char_cnt AS DOUBLE) END AS punct_ratio,
         |       (token_cnt >= 10 AND token_cnt <= 100000
         |         AND CAST(stopword_cnt AS DOUBLE) / CAST(token_cnt AS DOUBLE) >= 0.01
         |         AND CAST(char_cnt - (token_cnt - 1) AS DOUBLE) / CAST(token_cnt AS DOUBLE) >= 2.0
         |         AND CAST(char_cnt - (token_cnt - 1) AS DOUBLE) / CAST(token_cnt AS DOUBLE) <= 12.0
         |         AND (CASE WHEN char_cnt = 0 THEN 0.0
         |                   ELSE CAST(punct_cnt AS DOUBLE) / CAST(char_cnt AS DOUBLE) END) <= 0.2) AS quality_flag,
         |       CASE WHEN CAST(stopword_cnt AS DOUBLE) / CAST(token_cnt AS DOUBLE) >= 0.05
         |            THEN 'en' ELSE 'other' END AS lang_pred,
         |       fingerprint
         |FROM (
         |  SELECT doc_id, lang, source, n_chars,
         |         CAST(length(text) AS BIGINT) AS char_cnt,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS token_cnt,
         |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS distinct_tokens,
         |         CAST(len(list_filter(string_split(text, ' '), t -> t IN (${Text.Stopwords.map("'" + _ + "'").mkString(",")}))) AS BIGINT) AS stopword_cnt,
         |         CAST(len(regexp_extract_all(text, '[.,;:!?"''()\\[\\]]')) AS BIGINT) AS punct_cnt,
         |         CAST(list_sum(list_transform(string_split(text, ' '),
         |                (t, i) -> i * 1000003 + length(t) * 31 + ascii(t))) % 2147483647 AS BIGINT) AS fingerprint
         |  FROM documents) g""".stripMargin,

    "near_dup_ngram" ->
      s"""WITH ${ExtRegistry.shingleHashCtes},
         |ex AS (SELECT doc_id, unnest(hashes) AS s FROM h2),
         |rare AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 5),
         |exr AS (SELECT ex.doc_id, ex.s FROM ex JOIN rare USING (s)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM exr a JOIN exr b ON a.s = b.s AND a.doc_id < b.doc_id)
         |SELECT c.doc_a, c.doc_b,
         |       CAST(len(list_intersect(x.hashes, y.hashes)) AS BIGINT) AS common_shingles,
         |       CAST(len(list_intersect(x.hashes, y.hashes)) AS DOUBLE)
         |         / CAST(len(list_distinct(x.hashes || y.hashes)) AS DOUBLE) AS jaccard
         |FROM cand c JOIN h2 x ON c.doc_a = x.doc_id JOIN h2 y ON c.doc_b = y.doc_id""".stripMargin,

    // doc–shingle bipartite PageRank, Graph.pageRank replayed: `ms`
    // computes init = mass // V and base = (15·init) // 100 once, r0
    // seeds every vertex at init, each r{i} is one damped round —
    // contributions are exact floor divisions `rank // outdeg`, in-sums
    // cast back to BIGINT (DuckDB sums to HUGEINT), update
    // base + (85·in) // 100. UNION (distinct) in `v` mirrors the Spark
    // side's union+distinct; the df window and shingle hashes reuse the
    // near_dup_ngram machinery verbatim.
    "doc_centrality" -> {
      val iterCtes = (1 to 3).map { i =>
        s"""r$i AS MATERIALIZED (
           |  SELECT v.vertex,
           |         CAST((SELECT base FROM ms) + (85 * coalesce(s.in_sum, 0)) // 100 AS BIGINT) AS rank_units
           |  FROM v LEFT JOIN (
           |    SELECT eo.dst AS vertex, CAST(sum(r.rank_units // eo.outdeg) AS BIGINT) AS in_sum
           |    FROM eo JOIN r${i - 1} r ON r.vertex = eo.src GROUP BY eo.dst) s USING (vertex))""".stripMargin
      }.mkString(",\n")
      s"""WITH ${ExtRegistry.shingleHashCtes},
         |ex AS MATERIALIZED (SELECT doc_id, unnest(hashes) AS s FROM h2),
         |kept AS MATERIALIZED (
         |  SELECT ex.doc_id, ex.s FROM ex
         |  JOIN (SELECT s FROM ex GROUP BY s HAVING count(*) >= 2 AND count(*) <= 20) k USING (s)),
         |e AS MATERIALIZED (
         |  SELECT 'd:' || CAST(doc_id AS VARCHAR) AS src, 't:' || CAST(s AS VARCHAR) AS dst FROM kept
         |  UNION ALL
         |  SELECT 't:' || CAST(s AS VARCHAR), 'd:' || CAST(doc_id AS VARCHAR) FROM kept),
         |v AS MATERIALIZED (SELECT src AS vertex FROM e UNION SELECT dst AS vertex FROM e),
         |ms AS (SELECT 1000000000000 // count(*) AS init,
         |              (15 * (1000000000000 // count(*))) // 100 AS base FROM v),
         |eo AS MATERIALIZED (
         |  SELECT e.src, e.dst, od.outdeg FROM e
         |  JOIN (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src) od USING (src)),
         |r0 AS (SELECT vertex, CAST((SELECT init FROM ms) AS BIGINT) AS rank_units FROM v),
         |$iterCtes
         |SELECT CAST(vertex[3:] AS BIGINT) AS doc_id, rank_units
         |FROM r3 WHERE vertex LIKE 'd:%'""".stripMargin
    },

    // the convergence twin: 12 chained rounds, each with a 1-row delta
    // CTE (max |Δrank| vs the prior round); `fi` is the FIRST round
    // whose delta is at or below eps = 8·init (else 12), and the final
    // select reads exactly r{fi} — the oracle replays the stopping
    // RULE, not a pre-agreed round count, which only works because the
    // exact-int update makes both engines' rank frames bit-identical
    "doc_centrality_converged" -> {
      val maxIters = 12
      val iterCtes = (1 to maxIters).map { i =>
        s"""r$i AS MATERIALIZED (
           |  SELECT v.vertex,
           |         CAST((SELECT base FROM ms) + (85 * coalesce(s.in_sum, 0)) // 100 AS BIGINT) AS rank_units
           |  FROM v LEFT JOIN (
           |    SELECT eo.dst AS vertex, CAST(sum(r.rank_units // eo.outdeg) AS BIGINT) AS in_sum
           |    FROM eo JOIN r${i - 1} r ON r.vertex = eo.src GROUP BY eo.dst) s USING (vertex)),
           |d$i AS (SELECT coalesce(max(abs(a.rank_units - b.rank_units)), 0) AS d
           |        FROM r$i a JOIN r${i - 1} b USING (vertex))""".stripMargin
      }.mkString(",\n")
      val deltaRows = (1 to maxIters)
        .map(i => s"SELECT $i AS i, (SELECT d FROM d$i) AS d")
        .mkString("\n  UNION ALL ")
      val pick = (1 to maxIters)
        .map(i => s"SELECT vertex, rank_units FROM r$i WHERE (SELECT i FROM fi) = $i")
        .mkString("\n  UNION ALL ")
      s"""WITH ${ExtRegistry.shingleHashCtes},
         |ex AS MATERIALIZED (SELECT doc_id, unnest(hashes) AS s FROM h2),
         |kept AS MATERIALIZED (
         |  SELECT ex.doc_id, ex.s FROM ex
         |  JOIN (SELECT s FROM ex GROUP BY s HAVING count(*) >= 2 AND count(*) <= 20) k USING (s)),
         |e AS MATERIALIZED (
         |  SELECT 'd:' || CAST(doc_id AS VARCHAR) AS src, 't:' || CAST(s AS VARCHAR) AS dst FROM kept
         |  UNION ALL
         |  SELECT 't:' || CAST(s AS VARCHAR), 'd:' || CAST(doc_id AS VARCHAR) FROM kept),
         |v AS MATERIALIZED (SELECT src AS vertex FROM e UNION SELECT dst AS vertex FROM e),
         |ms AS (SELECT 1000000000000 // count(*) AS init,
         |              (15 * (1000000000000 // count(*))) // 100 AS base,
         |              ((1000000000000 // count(*)) * 800) // 100 AS eps FROM v),
         |eo AS MATERIALIZED (
         |  SELECT e.src, e.dst, od.outdeg FROM e
         |  JOIN (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src) od USING (src)),
         |r0 AS (SELECT vertex, CAST((SELECT init FROM ms) AS BIGINT) AS rank_units FROM v),
         |$iterCtes,
         |dd AS (
         |  $deltaRows),
         |fi AS (SELECT coalesce(min(i), $maxIters) AS i FROM dd WHERE d <= (SELECT eps FROM ms)),
         |pk AS (
         |  $pick)
         |SELECT CAST(vertex[3:] AS BIGINT) AS doc_id, rank_units
         |FROM pk WHERE vertex LIKE 'd:%'""".stripMargin
    },

    // dangling-redistribution twin: per round, ds{i} sums the mass
    // parked on vertices with no out-edges (anti-join against edge
    // sources) and every vertex's damped term gains the floor share
    // ds // V — Graph.prRound's redistribute branch, CTE for CTE
    "page_rank_dangling" -> {
      val iterCtes = (1 to 3).map { i =>
        s"""ds$i AS (SELECT CAST(coalesce(sum(rank_units), 0) AS BIGINT) AS ds FROM r${i - 1} rr
           |        WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = rr.vertex)),
           |r$i AS MATERIALIZED (
           |  SELECT v.vertex,
           |         CAST((SELECT base FROM ms) + (85 * (coalesce(s.in_sum, 0)
           |              + (SELECT ds FROM ds$i) // (SELECT n FROM vc))) // 100 AS BIGINT) AS rank_units
           |  FROM v LEFT JOIN (
           |    SELECT eo.dst AS vertex, CAST(sum(r.rank_units // eo.outdeg) AS BIGINT) AS in_sum
           |    FROM eo JOIN r${i - 1} r ON r.vertex = eo.src GROUP BY eo.dst) s USING (vertex))""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
         |         'o:' || CAST(o_orderkey AS VARCHAR) AS dst FROM orders),
         |v AS MATERIALIZED (SELECT src AS vertex FROM e UNION SELECT dst AS vertex FROM e),
         |vc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
         |ms AS (SELECT 1000000000000 // count(*) AS init,
         |              (15 * (1000000000000 // count(*))) // 100 AS base FROM v),
         |eo AS MATERIALIZED (
         |  SELECT e.src, e.dst, od.outdeg FROM e
         |  JOIN (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src) od USING (src)),
         |r0 AS (SELECT vertex, CAST((SELECT init FROM ms) AS BIGINT) AS rank_units FROM v),
         |$iterCtes
         |SELECT vertex, rank_units FROM r3""".stripMargin
    },

    "knn_cosine_brute" ->
      s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding, ($nsqChain) AS nsq FROM embeddings) t0 WHERE nsq > 0)
         |SELECT vec_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         |         (${dotChain("a", "b")}) / (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine,
         |         row_number() OVER (PARTITION BY a.vec_id
         |            ORDER BY (${dotChain("a", "b")}) / (sqrt(a.nsq) * sqrt(b.nsq)) DESC, b.vec_id) AS rank
         |  FROM e a JOIN e b ON a.vec_id <> b.vec_id) t
         |WHERE rank <= 5""".stripMargin,

    "knn_cosine_lsh" -> {
      val bucketExpr = lshBucketSql(6, 0)
      s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding, ($nsqChain) AS nsq, ($bucketExpr) AS bucket FROM embeddings) t0 WHERE nsq > 0)
         |SELECT vec_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         |         (${dotChain("a", "b")}) / (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine,
         |         row_number() OVER (PARTITION BY a.vec_id
         |            ORDER BY (${dotChain("a", "b")}) / (sqrt(a.nsq) * sqrt(b.nsq)) DESC, b.vec_id) AS rank
         |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id) t
         |WHERE rank <= 5""".stripMargin
    },

    // mirrors Sim.lshTopKTables(k=5, nBits=10, nTables=3, maxBucket=128):
    // per-table buckets via UNION ALL banding, window count per
    // (tbl, bucket), oversized buckets sub-split by vec_id % ceil(cnt/128),
    // candidates joined on (tbl, bucket, subkey), cosine deduped across
    // tables (identical IEEE expression both engines), then top-5
    "knn_cosine_lsh_multi" -> {
      val bucketExprs = (0 until 3).map(t => lshBucketSql(10, t * 10))
      val bandSelects = bucketExprs.zipWithIndex
        .map { case (bx, t) => s"SELECT vec_id, embedding, nsq, $t AS tbl, ($bx) AS bucket FROM e" }
        .mkString("\n  UNION ALL ")
      s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding, ($nsqChain) AS nsq
         |  FROM embeddings) t0 WHERE nsq > 0),
         |banded0 AS (
         |  $bandSelects),
         |banded AS (
         |  SELECT *, ((vec_id % 1000003) * 2654435761 + tbl * 40503 + 97) % 1000003
         |            % ((count(*) OVER (PARTITION BY tbl, bucket) + 127) // 128) AS subkey
         |  FROM banded0),
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         |         (${dotChain("a", "b")}) / (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine
         |  FROM banded a JOIN banded b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.subkey = b.subkey
         |       AND a.vec_id <> b.vec_id)
         |SELECT vec_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT vec_id, neighbor_id, cosine,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM pairs) t
         |WHERE rank <= 5""".stripMargin
    },

    "knn_cosine_ivf" -> {
      val scores = (0 until 8).map(ivfScoreSql).mkString(",\n  ")
      s"""WITH e0 AS (
         |  SELECT vec_id, embedding, ($nsqChain) AS nsq,
         |         [$scores] AS scores
         |  FROM embeddings),
         |e1 AS (SELECT * FROM e0 WHERE nsq > 0),
         |e2 AS (
         |  SELECT vec_id, embedding, nsq,
         |         list_transform(
         |           list_sort(list_transform([0,1,2,3,4,5,6,7],
         |             c -> struct_pack(s := scores[c + 1], c := c))),
         |           x -> x.c)[1:2] AS cells
         |  FROM e1),
         |probes AS (SELECT vec_id, embedding, nsq, unnest(cells) AS cell FROM e2),
         |indexed AS (SELECT vec_id AS neighbor_id, embedding, nsq, cells[1] AS cell FROM e2),
         |pairs AS (
         |  SELECT DISTINCT p.vec_id, i.neighbor_id,
         |         (${dotChain("p", "i")}) / (sqrt(p.nsq) * sqrt(i.nsq)) AS cosine
         |  FROM probes p JOIN indexed i ON p.cell = i.cell AND p.vec_id <> i.neighbor_id)
         |SELECT vec_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT vec_id, neighbor_id, cosine,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM pairs) t
         |WHERE rank <= 5""".stripMargin
    },

    "embed_near_dup" -> {
      val bucketExpr = lshBucketSql(6, 0)
      s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding, ($nsqChain) AS nsq, ($bucketExpr) AS bucket FROM embeddings) t0 WHERE nsq > 0)
         |SELECT vec_id AS keep_id, neighbor_id AS dup_id, cosine FROM (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         |         (${dotChain("a", "b")}) / (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine
         |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) t
         |WHERE cosine >= 0.30""".stripMargin
    },

    // recall twin: the bucketed count over the truth count, both sides
    // the SAME dot/norm expression chains (the kernel adds in index
    // order, bit-matching the chain — the bruteTopK determinism
    // contract); truth is the bucket-free all-pairs join
    "embed_near_dup_recall" -> {
      val bucketExpr = lshBucketSql(6, 0)
      s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding, ($nsqChain) AS nsq, ($bucketExpr) AS bucket FROM embeddings) t0 WHERE nsq > 0),
         |tr AS (SELECT CAST(count(*) AS BIGINT) AS n_truth
         |       FROM (SELECT (${dotChain("a", "b")}) / (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine
         |             FROM e a JOIN e b ON a.vec_id < b.vec_id) t
         |       WHERE cosine >= 0.30),
         |hi AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
         |       FROM (SELECT (${dotChain("a", "b")}) / (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine
         |             FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) t
         |       WHERE cosine >= 0.30)
         |SELECT tr.n_truth, hi.n_hit,
         |       CASE WHEN tr.n_truth > 0
         |            THEN CAST(hi.n_hit AS DOUBLE) / CAST(tr.n_truth AS DOUBLE)
         |            ELSE NULL END AS recall
         |FROM tr CROSS JOIN hi""".stripMargin
    },

    "streaming_dpd_batch" ->
      """SELECT loan_id, as_of_date, worst_dpd,
        |       CASE WHEN worst_dpd <= 0 THEN '0'
        |            WHEN worst_dpd <= 30 THEN '1-30'
        |            WHEN worst_dpd <= 60 THEN '31-60'
        |            WHEN worst_dpd <= 90 THEN '61-90'
        |            ELSE '90+' END AS dpd_bucket
        |FROM (
        |  SELECT user_id AS loan_id, CAST(ts AS DATE) AS as_of_date,
        |         CAST(max(floor(value)) AS INTEGER) AS worst_dpd
        |  FROM events GROUP BY 1, 2) g""".stripMargin,

    "event_sessions" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events),
        |m AS (
        |  SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
        |                   OR tsu - lag(tsu) OVER w > 3600000000
        |                 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |sn AS (
        |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM m)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no, count(*) AS events,
        |       min(tsu) AS first_us, max(tsu) AS last_us,
        |       max(tsu) - min(tsu) AS duration_us
        |FROM sn GROUP BY 1, 2""".stripMargin,

    // the same recurrence as a recursive CTE: seed y_1 = x_1, then one
    // multiply-add per step in the identical order
    "ema_monthly_value" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, CAST(date_trunc('month', CAST(ts AS DATE)) AS DATE) AS m,
        |         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |o AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY m) AS rn
        |  FROM e),
        |r AS (
        |  SELECT user_id, m, cents, rn, CAST(cents AS DOUBLE) AS ema
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.user_id, o.m, o.cents, o.rn,
        |         0.25 * CAST(o.cents AS DOUBLE) + 0.75 * r.ema
        |  FROM o JOIN r ON o.user_id = r.user_id AND o.rn = r.rn + 1)
        |SELECT user_id, m, cents, ema FROM r""".stripMargin,

    // same calendar arithmetic; dow differs by numbering so the flag is
    // derived from DuckDB's 0=Sunday convention
    "date_dim" ->
      """WITH days AS (
        |  SELECT CAST(unnest(generate_series(DATE '2015-01-01',
        |                DATE '2016-12-31', INTERVAL 1 DAY)) AS DATE) AS d)
        |SELECT d, CAST(year(d) AS INTEGER) AS yr,
        |       CAST(quarter(d) AS INTEGER) AS qtr,
        |       CAST(month(d) AS INTEGER) AS mo,
        |       CAST(day(d) AS INTEGER) AS dom,
        |       date_trunc('month', d) AS month_start,
        |       last_day(d) AS month_end,
        |       dayofweek(d) IN (0, 6) AS is_weekend,
        |       d = last_day(d) AS is_month_end
        |FROM days""".stripMargin,

    // month-truncated dates on both sides; months_since is whole months
    // between month boundaries (exact integer on both engines)
    "retention_cohorts" ->
      """WITH e AS (SELECT user_id,
        |                  date_trunc('month', CAST(ts AS DATE)) AS m
        |           FROM events),
        |f AS (SELECT user_id, min(m) AS cohort_month FROM e GROUP BY 1)
        |SELECT f.cohort_month,
        |       CAST(date_diff('month', f.cohort_month, e.m) AS INTEGER) AS months_since,
        |       count(DISTINCT e.user_id) AS active_users
        |FROM e JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin,

    // per event: the 4 covering window starts are (t floordiv slide - i)*slide
    // for i in 0..3 (boundary-probed: start <= t < start + size holds for
    // exactly those). DuckDB's // truncates toward zero for negative
    // operands while Spark's window() floors, so the quotient is a
    // sign-normalized integer floor-div — exact for pre-epoch timestamps too.
    "hopping_window_agg" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS tsu FROM events),
        |w AS (
        |  SELECT event_type,
        |         ((CASE WHEN tsu >= 0 THEN tsu // 21600000000
        |                ELSE -((-tsu + 21600000000 - 1) // 21600000000)
        |           END) - g.i) * 21600000000 AS win_start
        |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) g)
        |SELECT event_type, win_start AS win_start_us,
        |       win_start + 86400000000 AS win_end_us, count(*) AS events
        |FROM w GROUP BY 1, 2""".stripMargin,

    // the same islands CTE as event_sessions (session_window merges at
    // <= gap, so the split predicate is identical), end = last + gap
    "session_window_agg" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu FROM events),
        |m AS (
        |  SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
        |                   OR tsu - lag(tsu) OVER w > 3600000000
        |                 THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |sn AS (
        |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM m)
        |SELECT user_id, count(*) AS events, min(tsu) AS first_us,
        |       max(tsu) AS last_us, max(tsu) + 3600000000 AS session_end_us
        |FROM sn GROUP BY user_id, session_no""".stripMargin,

    // the forward-as-of twin: first qualifying purchase per click via a
    // rank-1 window over the bounded-horizon range join (exact at oracle
    // scale; the Spark side never plans the range join)
    "funnel_next_purchase" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu
        |            FROM events),
        |l AS (SELECT event_id, user_id, tsu FROM ev WHERE event_type = 'click'),
        |r AS (SELECT user_id, tsu AS p_tsu, min(event_id) AS purchase_id
        |      FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2),
        |cand AS (
        |  SELECT l.event_id, r.purchase_id, r.p_tsu,
        |         row_number() OVER (PARTITION BY l.event_id ORDER BY r.p_tsu) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id
        |   AND r.p_tsu >= l.tsu AND r.p_tsu <= l.tsu + 86400000000)
        |SELECT l.user_id, l.event_id, l.tsu, c.purchase_id, c.p_tsu AS p_ts
        |FROM l LEFT JOIN cand c ON c.event_id = l.event_id AND c.rn = 1""".stripMargin,

    "streaming_dpd_state_batch" ->
      """SELECT loan_id, max_dpd, last_dpd, max_dpd > 90 AS ever_npl FROM (
        |  SELECT user_id AS loan_id,
        |         CAST(max(floor(value)) OVER (PARTITION BY user_id) AS INTEGER) AS max_dpd,
        |         CAST(floor(value) AS INTEGER) AS last_dpd,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts) DESC, floor(value) DESC) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin,

    "sql_embedding_norms" ->
      s"""SELECT vec_id, ($nsqChain) AS nsq FROM embeddings""",

    "stream_join_batch" ->
      """SELECT a.event_id AS anchor_id, b.event_id AS probe_id, a.user_id,
        |       b.event_type AS probe_type,
        |       epoch_us(a.ts) AS anchor_us, epoch_us(b.ts) AS probe_us
        |FROM events a JOIN events b ON a.user_id = b.user_id
        | AND a.event_type = 'error' AND b.event_id <> a.event_id
        | AND epoch_us(b.ts) BETWEEN epoch_us(a.ts) - 1800000000 AND epoch_us(a.ts)""".stripMargin,

    "load_surrogate_keys" ->
      """SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS acctbal,
        |       10000 + row_number() OVER (ORDER BY c_custkey) AS sk
        |FROM customer""".stripMargin,

    "load_partitioned_roundtrip" ->
      """SELECT event_id, user_id, event_type, value FROM events""".stripMargin,

    "source_jsonl_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, text FROM documents""".stripMargin,

    // losslessness through the gzip codec — same identity twin
    "source_jsonl_gz_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, text FROM documents""".stripMargin,

    "source_orc_roundtrip" ->
      """SELECT event_id, user_id, event_type, value FROM events""".stripMargin,

    "topk_per_group" ->
      """SELECT event_id, event_type, value FROM (
        |  SELECT event_id, event_type, value,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value DESC, event_id) AS rn
        |  FROM events) t WHERE rn <= 3""".stripMargin,

    "bucketed_join" ->
      """WITH per AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1)
        |SELECT e.user_id, e.event_id, e.value, per.n_events
        |FROM events e JOIN per USING (user_id)""".stripMargin,

    // the same hostile suffix the Spark side injects pre-write; the
    // oracle never sees the CSV — it proves the encode→decode identity
    "source_csv_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars,
        |       text || ', "q"' || chr(10) || 'L2\end' AS text
        |FROM documents""".stripMargin,

    // identity through the WARC container: target URI from the
    // encoder's pinned template, payload with the embedded fake record
    // head the length framing must carry intact
    "source_warc_roundtrip" ->
      """SELECT doc_id,
        |       'https://graft.test/' || doc_id AS target_uri,
        |       text || chr(10) || 'WARC/1.0' || chr(10) ||
        |         'Content-Length: 0' || chr(10) || chr(10) AS text
        |FROM documents""".stripMargin,

    // identity through the per-record-gzip-member container — the
    // codec layer must be lossless over the same hostile payload
    "source_warc_gz_roundtrip" ->
      """SELECT doc_id,
        |       'https://graft.test/' || doc_id AS target_uri,
        |       text || chr(10) || 'WARC/1.0' || chr(10) ||
        |         'Content-Length: 0' || chr(10) || chr(10) AS text
        |FROM documents""".stripMargin,

    // HTTP-screen twin: status / content-type replayed from the
    // fixture's mod-7 / mod-5 cycles, body = the document text (the
    // parser must hand back EVERYTHING after the header terminator),
    // keep = 200 AND text-like
    "warc_http_screen" ->
      """SELECT doc_id,
        |       'https://graft.test/' || doc_id AS target_uri,
        |       CAST(CASE doc_id % 7 WHEN 3 THEN 404 WHEN 4 THEN 301
        |                            WHEN 6 THEN 503 ELSE 200 END AS INTEGER) AS status,
        |       CASE doc_id % 5 WHEN 0 THEN 'text/html; charset=UTF-8'
        |                       WHEN 1 THEN 'text/plain'
        |                       WHEN 2 THEN 'application/pdf'
        |                       WHEN 3 THEN 'text/html'
        |                       ELSE 'image/png' END AS content_type,
        |       CAST(length(text) AS BIGINT) AS n_body_chars,
        |       CAST(CASE WHEN doc_id % 7 NOT IN (3, 4, 6)
        |                  AND doc_id % 5 IN (0, 1, 3) THEN 1 ELSE 0 END AS INTEGER) AS keep
        |FROM documents""".stripMargin,

    // body-decode twin: whatever framing the fixture applied (identity /
    // gzip / deflate / chunked / chunked-over-gzip by doc_id mod 5), the
    // decoder must hand back the ORIGINAL text verbatim — the oracle
    // never mentions the framing because a correct decode erases it
    "warc_http_body" -> warcHttpBodyOracle,

    // gz-container twin: the codec layer is lossless over byte-identical
    // records, so the decode contract holds verbatim
    "warc_http_body_gz" -> warcHttpBodyOracle,

    // charset twin: the oracle states the LOGICAL text (doc text + the
    // chr()-replayed accented suffix; the cp1252 mode prepends the
    // euro sign, chr(8364) — wire byte 0x80, remap-block-only) for
    // every mode — it never mentions the wire encoding because a
    // correct charset decode erases it; charset column = the
    // normalized declared value
    "warc_charset_text" ->
      """WITH lt AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 4 = 3 THEN ' ' || chr(8364) ELSE ' ' END
        |              || chr(CAST(161 + (doc_id % 94) AS INTEGER))
        |              || chr(CAST(161 + ((doc_id + 7) % 94) AS INTEGER))
        |              || chr(CAST(161 + ((doc_id + 14) % 94) AS INTEGER)) AS t
        |  FROM documents)
        |SELECT doc_id,
        |       'https://graft.test/' || doc_id AS target_uri,
        |       CAST(200 AS INTEGER) AS http_status,
        |       CASE doc_id % 4 WHEN 0 THEN 'text/html; charset=utf-8'
        |                       WHEN 1 THEN 'text/html; charset=iso-8859-1'
        |                       WHEN 2 THEN 'text/plain; charset="ISO-8859-1"'
        |                       ELSE 'text/html; charset=windows-1252' END AS content_type,
        |       CASE doc_id % 4 WHEN 0 THEN 'utf-8'
        |                       WHEN 3 THEN 'windows-1252'
        |                       ELSE 'iso-8859-1' END AS charset,
        |       t AS text,
        |       CAST(length(t) AS BIGINT) AS n_chars
        |FROM lt""".stripMargin,

    // the sharded two-phase assignment must equal the one global
    // row_number — the oracle IS the semantic contract
    "dense_ids" ->
      """SELECT doc_id, source,
        |       CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS dense_id
        |FROM documents""".stripMargin,

    // the BETWEEN semantics stated directly — DuckDB plans it however it
    // likes; the Spark side must merely produce the identical relation
    "interval_join_payments" ->
      s"""WITH $payCte,
         |iv AS (
         |  SELECT CAST(o_custkey AS BIGINT) AS loan_id,
         |         CAST(o_orderdate AS DATE) AS start_date,
         |         CAST(o_orderdate AS DATE) + CAST(o_orderkey % 30 AS INTEGER) AS end_date,
         |         CAST(o_orderkey AS BIGINT) AS interval_id
         |  FROM orders)
         |SELECT CAST(p.loan_id AS BIGINT) AS loan_id, iv.interval_id, p.payment_date,
         |       iv.start_date, iv.end_date,
         |       CAST(p.amount_received AS DOUBLE) AS amount_received
         |FROM pay p JOIN iv ON p.loan_id = iv.loan_id
         |  AND p.payment_date BETWEEN iv.start_date AND iv.end_date""".stripMargin,

    // full-outer-join reconciliation; concat_ws drops the NULL pieces in
    // both engines, so equal attrs vanish from changed_cols identically
    "table_diff" ->
      s"""WITH $loansCte,
         |l AS (SELECT CAST(loan_id AS BIGINT) AS loan_id, product_type, exposure FROM loans),
         |r AS (
         |  SELECT loan_id,
         |         CASE WHEN loan_id % 9 = 0 THEN 'RECLASSIFIED' ELSE product_type END AS product_type,
         |         CAST(CASE WHEN loan_id % 4 = 0 THEN exposure + 1 ELSE exposure END
         |              AS DECIMAL(18,2)) AS exposure
         |  FROM l WHERE loan_id % 11 <> 0
         |  UNION ALL
         |  SELECT loan_id + 2000000, product_type, exposure FROM l WHERE loan_id % 13 = 0)
         |SELECT COALESCE(l.loan_id, r.loan_id) AS loan_id,
         |       CASE WHEN l.loan_id IS NULL THEN 'added'
         |            WHEN r.loan_id IS NULL THEN 'removed'
         |            ELSE 'changed' END AS change_type,
         |       CASE WHEN l.loan_id IS NOT NULL AND r.loan_id IS NOT NULL THEN
         |         concat_ws(',',
         |           CASE WHEN NOT (l.product_type IS NOT DISTINCT FROM r.product_type) THEN 'product_type' END,
         |           CASE WHEN NOT (l.exposure IS NOT DISTINCT FROM r.exposure) THEN 'exposure' END)
         |       ELSE '' END AS changed_cols
         |FROM l FULL JOIN r ON l.loan_id = r.loan_id
         |WHERE l.loan_id IS NULL OR r.loan_id IS NULL
         |   OR NOT (l.product_type IS NOT DISTINCT FROM r.product_type)
         |   OR NOT (l.exposure IS NOT DISTINCT FROM r.exposure)""".stripMargin,

    // the declarative twin of the Scd2.merge branches; attr equality is
    // null-safe (IS NOT DISTINCT FROM ↔ Spark <=>)
    "scd2_merge" -> {
      val attrsEq =
        """c.product_type IS NOT DISTINCT FROM i.product_type
          |         AND c.currency IS NOT DISTINCT FROM i.currency
          |         AND c.exposure IS NOT DISTINCT FROM i.exposure""".stripMargin
      s"""WITH $loansCte,
         |dim AS (
         |  SELECT CAST(loan_id AS BIGINT) AS loan_id, product_type, currency, exposure,
         |         origination_date AS valid_from,
         |         CASE WHEN loan_id % 5 = 0 THEN DATE '2024-01-01' END AS valid_to,
         |         loan_id % 5 <> 0 AS is_current
         |  FROM loans),
         |inc AS (
         |  SELECT CAST(loan_id AS BIGINT) AS loan_id, product_type, currency,
         |         CAST(CASE WHEN loan_id % 2 = 0 THEN exposure + 100 ELSE exposure END
         |              AS DECIMAL(18,2)) AS exposure
         |  FROM loans WHERE loan_id % 3 = 0
         |  UNION ALL
         |  SELECT CAST(loan_id + 1000000 AS BIGINT), product_type, currency, exposure
         |  FROM loans WHERE loan_id % 10 = 0),
         |cur AS (SELECT * FROM dim WHERE is_current),
         |merged AS (
         |  SELECT * FROM dim WHERE NOT is_current
         |  UNION ALL
         |  SELECT c.* FROM cur c LEFT JOIN inc i ON c.loan_id = i.loan_id
         |  WHERE i.loan_id IS NULL OR ($attrsEq)
         |  UNION ALL
         |  SELECT c.loan_id, c.product_type, c.currency, c.exposure,
         |         c.valid_from, DATE '2025-06-01', false
         |  FROM cur c JOIN inc i ON c.loan_id = i.loan_id WHERE NOT ($attrsEq)
         |  UNION ALL
         |  SELECT i.loan_id, i.product_type, i.currency, i.exposure,
         |         DATE '2025-06-01', NULL, true
         |  FROM cur c JOIN inc i ON c.loan_id = i.loan_id WHERE NOT ($attrsEq)
         |  UNION ALL
         |  SELECT i.loan_id, i.product_type, i.currency, i.exposure,
         |         DATE '2025-06-01', NULL, true
         |  FROM inc i LEFT JOIN cur c ON i.loan_id = c.loan_id WHERE c.loan_id IS NULL)
         |SELECT loan_id, product_type, currency, CAST(exposure AS DOUBLE) AS exposure,
         |       valid_from, valid_to, is_current
         |FROM merged""".stripMargin
    },

    "dq_suite" ->
      s"""WITH $arrearsCte, $loansCte, $payCte
         |SELECT 'loans_loan_id_not_null' AS check_name, count(*) AS violations FROM loans WHERE loan_id IS NULL
         |UNION ALL SELECT 'loans_loan_id_unique', count(*) FROM (SELECT loan_id FROM loans GROUP BY loan_id HAVING count(*) > 1) t
         |UNION ALL SELECT 'arrears_loan_id_not_null', count(*) FROM arrears WHERE loan_id IS NULL
         |UNION ALL SELECT 'arrears_as_of_date_not_null', count(*) FROM arrears WHERE as_of_date IS NULL
         |UNION ALL SELECT 'arrears_loan_fk', count(*) FROM arrears a WHERE NOT EXISTS (SELECT 1 FROM loans l WHERE l.loan_id = a.loan_id)
         |UNION ALL SELECT 'payments_loan_fk', count(*) FROM pay p WHERE NOT EXISTS (SELECT 1 FROM loans l WHERE l.loan_id = p.loan_id)
         |UNION ALL SELECT 'payments_amount_not_null', count(*) FROM pay WHERE amount_received IS NULL""".stripMargin
  )

  /** ANN-recall twins, one per variant, COMPOSED from the variants' own
    * oracles: the variant's full oracle SQL embeds as a parenthesized
    * subquery (SQL permits a WITH inside any subquery), truth = the
    * brute oracle, hits via an EXISTS on (vec_id, neighbor_id). Built by
    * string concatenation — no stripMargin over the embedded SQL, whose
    * interiors must pass through untouched. `WHERE truth_pairs > 0`
    * mirrors the Spark side's empty-corpus short-circuit. */
  private lazy val annRecallOracles: Map[String, String] = {
    def sub(name: String): String = (coreOracles ++ ExtRegistry.oracles)(name)
    annRecallVariants.map { case (variant, underlying) =>
      s"ann_recall_$variant" -> (
        // MATERIALIZED: truth is referenced twice (scalar count + the
        // EXISTS probe); a plain CTE re-inlines the brute n² window at
        // both sites — the DuckDB plan-explosion class found in r10
        s"WITH truth AS MATERIALIZED (SELECT vec_id, neighbor_id FROM (\n${sub("knn_cosine_brute")}\n) t)\n" +
          "SELECT variant, truth_pairs, hit_pairs,\n" +
          "       CAST(hit_pairs AS DOUBLE) / CAST(truth_pairs AS DOUBLE) AS recall\n" +
          "FROM (\n" +
          s"  SELECT '$variant' AS variant,\n" +
          "         (SELECT CAST(count(*) AS BIGINT) FROM truth) AS truth_pairs,\n" +
          s"         (SELECT CAST(count(*) AS BIGINT) FROM (\n${sub(underlying)}\n) a\n" +
          "           WHERE EXISTS (SELECT 1 FROM truth t\n" +
          "                         WHERE t.vec_id = a.vec_id AND t.neighbor_id = a.neighbor_id)) AS hit_pairs\n" +
          ") u\nWHERE truth_pairs > 0")
    }.toMap
  }

  val oracles: Map[String, String] =
    coreOracles ++ SynthRegistry.oracles ++ ExtRegistry.oracles +
      // same mart through the SQL surface -> same oracle, defined once
      ("sql_npl_monthly" -> coreOracles("npl_monthly")) +
      // salting is distribution-only -> result must hash-match dpd_daily
      ("dpd_daily_salted" -> coreOracles("dpd_daily")) +
      // incremental maintenance must be EXACT vs the full recompute
      ("npl_monthly_incremental" -> coreOracles("npl_monthly")) ++
      annRecallOracles +
      // tuning-curve twin: trained routing at max width + brute truth,
      // parameters in lockstep with the registered query above
      ("ivf_nprobe_curve" -> ExtRegistry.ivfNprobeCurveOracle(
        coreOracles("knn_cosine_brute"), coarseK = 8, kNeighbors = 5,
        nProbes = Seq(1, 2, 4, 8))) +
      // sampled-probe twin: residue class in lockstep with the query
      ("ivf_nprobe_curve_sampled" -> ExtRegistry.ivfNprobeCurveOracle(
        coreOracles("knn_cosine_brute"), coarseK = 8, kNeighbors = 5,
        nProbes = Seq(1, 2, 4, 8), probeMod = Some((3L, 1L))))
}
