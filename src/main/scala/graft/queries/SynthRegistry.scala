package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.credit.{Marts, Pipeline}
import graft.synth.Synth
import graft.synth.Synth.Rng.uSql

/** Driver registrations for the synthesis pipeline (G1–G11): the Spark
  * generator is pure deterministic arithmetic (see [[Synth]]), so the
  * DuckDB oracle can re-derive the SAME world from `range()` + the same
  * LCG formulas — the generator itself is correctness-checked, not just
  * the queries over its output.
  *
  * The annuity schedule runs its (1+r)^n factor in integer fixed point
  * and its balance recurrence in integer cents (no `pow`, whose rounding
  * is engine-divergent), so even the sequential typed-flatMap kernel is
  * oracle-checked — the twin is a DuckDB `WITH RECURSIVE` over the same
  * integer arithmetic.
  */
object SynthRegistry {

  private def sl(s: SparkSession) = Synth.scheduleLinear(Synth.loans(s))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "synth_loans" -> ((s, _) =>
      Synth.loans(s).select(
        col("loan_id"), col("borrower_id"), col("application_id"),
        col("product_type"), col("currency"), col("origination_date"),
        col("term_months"), col("principal"), col("annual_rate"),
        col("is_default"), col("is_late"), col("is_partial"),
        col("repayment_method"), col("interest_rate_type"),
        col("created_hours_before"), col("maturity_date"),
        col("grace_period_months"), col("payment_frequency"),
        col("disbursement_date"), col("status"), col("created_at"))),

    "synth_schedule_methods" -> ((s, _) => Synth.scheduleByMethod(Synth.loans(s))),

    "synth_schedule" -> ((s, _) =>
      sl(s).select(
        col("loan_id"), col("installment_no"), col("due_date"),
        col("principal_due"), col("interest_due"), col("total_due"),
        col("opening_balance"), col("closing_balance"))),

    "synth_payments" -> ((s, _) =>
      Synth.payments(sl(s)).select(
        col("loan_id"), col("installment_no"), col("due_date"), col("payment_date"),
        col("delay_days"), col("late_inst"), col("partial_inst"), col("amount_received"))),

    "synth_waterfall" -> ((s, _) => Synth.waterfall(Synth.payments(sl(s)))),

    "synth_dpd_snapshots" -> ((s, _) => Synth.dpdSnapshots(Synth.payments(sl(s)))),

    "synth_rate_schedule" -> ((s, _) => Synth.rateSchedule(Synth.loans(s))),

    // SCD-2 lookup: the rate effective at each installment's due date —
    // the as-of join (union+window composition, one shuffle, no range
    // join) over the variable-rate loans' schedule
    "synth_schedule_rates" -> ((s, _) => {
      val loans = Synth.loans(s)
      val sched = Synth.scheduleLinear(loans.filter(col("interest_rate_type") === "variable"))
        .select(col("loan_id"), col("installment_no"), col("due_date"))
      val rates = Synth.rateSchedule(loans)
        .select(col("loan_id"), col("effective_from"), col("annual_rate"))
      graft.operators.AsOf.asOfJoin(sched, rates, Seq("loan_id"), "due_date", "effective_from")
        .select(col("loan_id"), col("installment_no"), col("due_date"), col("annual_rate"))
    }),

    "synth_chronology_audit" -> ((s, _) => Synth.chronologyAudit(Synth.loans(s), Synth.applications(s))),

    // the reference's full loop over the synth world, through the same
    // Pipeline as the external-data marts; 2015–2024 gives real W2 transitions
    "synth_npl_monthly" -> ((s, _) => Pipeline.synth(s).nplMonthly),

    "synth_bucket_transitions" -> ((s, _) => Pipeline.synth(s).intTransitions),

    "synth_roll_rate_monthly" -> ((s, _) => Pipeline.synth(s).rollRateMonthly),

    "synth_cure_rate_monthly" -> ((s, _) => Pipeline.synth(s).cureRateMonthly),

    "synth_vintage_mob" -> ((s, _) => Pipeline.synth(s).vintageMob),

    "synth_collections_monthly" -> ((s, _) => Pipeline.synth(s).collectionsMonthly),

    "synth_borrowers" -> ((s, _) => Synth.borrowers(s)),

    "synth_applications" -> ((s, _) => Synth.applications(s)),

    "synth_audit_log" -> ((s, _) =>
      Synth.auditLog(Synth.loans(s), Synth.payments(sl(s)))),

    "synth_payment_allocation" -> ((s, _) =>
      Synth.paymentAllocations(Synth.waterfall(Synth.payments(sl(s))))),

    "synth_disbursements" -> ((s, _) => Synth.loanDisbursements(Synth.loans(s))),

    "synth_fees" -> ((s, _) => Synth.feesAndCharges(Synth.payments(sl(s)))),

    "synth_penalties" -> ((s, _) => Synth.penaltyInterestEvents(Synth.payments(sl(s)))),

    "synth_mandates" -> ((s, _) => Synth.directDebitMandates(Synth.loans(s))),

    "synth_instructions" -> ((s, _) =>
      Synth.collectionInstructions(Synth.payments(sl(s)),
        Synth.directDebitMandates(Synth.loans(s)))),

    "synth_forbearance" -> ((s, _) => Synth.forbearanceEvents(Synth.loans(s))),

    "synth_cases" -> ((s, _) => Synth.collectionsCases(Synth.loans(s))),

    "synth_writeoffs" -> ((s, _) =>
      Synth.writeOffAndRecovery(Synth.collectionsCases(Synth.loans(s))).select(
        col("writeoff_id"), col("loan_id"), col("writeoff_date"),
        col("writeoff_amount_principal"), col("writeoff_amount_interest"),
        col("writeoff_amount_fees"), col("recovery_expected_flag"),
        col("recovery_case_id"), col("recovery_payment_id"),
        col("recovery_amount"), col("recovery_date"))),

    "synth_writeoff_recovery_monthly" -> ((s, _) => Pipeline.synth(s).writeoffRecoveryMonthly),

    // integer-cents sequential recurrence — oracle is a WITH RECURSIVE twin
    "synth_annuity_schedule" -> ((s, _) =>
      Synth.scheduleAnnuity(
        Synth.loans(s).filter(col("repayment_method") === "annuity")).toDF()),

    // the reference's STORAGE boundary, on the synth world: the generator
    // writes real tables and the marts read them back (pg_oltp_synth.py
    // 118-139 -> sources.yml 5-11). The snapshot fact goes to parquet
    // partitioned by year (the pruning layout a daily fact wants), loans
    // unpartitioned; the mart runs over the READ-BACK frames, so schema
    // fidelity across write/read (dates, longs, partition-column
    // recovery) is what the synth_npl_monthly oracle hash-checks here.
    // Only the cents cast is Pipeline's: its stg_loan_contract needs loan
    // columns this round trip doesn't write (borrower_id, origination_date,
    // term_months).
    "synth_npl_monthly_roundtrip" -> ((s, _) => {
      val loans = Synth.loans(s)
      val snaps = Synth.dpdSnapshots(Synth.payments(Synth.scheduleLinear(loans)))
      val base = graft.sources.Scratch.dir("graft_synth_rt")
      val snapPath = base.resolve("dpd_snapshots").toString
      val loanPath = base.resolve("loans").toString
      graft.sources.Load.writePartitioned(
        snaps.withColumn("snap_year", year(col("as_of_date"))),
        snapPath, Seq("snap_year"), Seq("loan_id", "as_of_date"))
      graft.sources.Load.writePartitioned(
        loans.select(col("loan_id"), col("product_type"), col("currency"),
          col("principal_cents")),
        loanPath, Nil, Seq("loan_id"))
      val dpd = s.read.parquet(snapPath)
        .join(s.read.parquet(loanPath).select(
          col("loan_id"), col("product_type"), col("currency"),
          Pipeline.cents("principal_cents").as("exposure")),
          Seq("loan_id"), "inner")
        .withColumn("npl_flag", col("nonperforming_flag"))
      Marts.nplMonthly(dpd)
    })
  )

  // --------------------------------------------------------------- SQL

  private val id = "id"

  private val loansCte =
    s"""synth_loans AS (
       |  SELECT id + 1 AS loan_id,
       |         10000 + CAST(floor(${uSql(id, Synth.SaltBorrower)} * 2000) AS BIGINT) AS borrower_id,
       |         100000000 + CAST(floor(${uSql(id, Synth.SaltApplication)} * 3000) AS BIGINT) AS application_id,
       |         (['consumer','auto','mortgage','sme'])[CAST(floor(${uSql(id, Synth.SaltProduct)} * 4) AS INTEGER) + 1] AS product_type,
       |         (['EUR','USD','GBP'])[CAST(floor(${uSql(id, Synth.SaltCurrency)} * 3) AS INTEGER) + 1] AS currency,
       |         DATE '2015-01-01' + CAST(floor(${uSql(id, Synth.SaltOrigDate)} * 3652) AS INTEGER) AS origination_date,
       |         6 + CAST(floor(${uSql(id, Synth.SaltTerm)} * 67) AS INTEGER) AS term_months,
       |         50000 + CAST(floor(${uSql(id, Synth.SaltPrincipal)} * 4950000) AS BIGINT) AS principal_cents,
       |         300 + CAST(floor(${uSql(id, Synth.SaltRate)} * 1900) AS BIGINT) AS rate_bp,
       |         ${uSql(id, Synth.SaltDefault)} < 0.03 AS is_default,
       |         ${uSql(id, Synth.SaltLate)} < 0.18 AS is_late,
       |         ${uSql(id, Synth.SaltPartial)} < 0.10 AS is_partial,
       |         (['linear','annuity','interest_only','balloon'])[CAST(floor(${uSql(id, Synth.SaltMethod)} * 4) AS INTEGER) + 1] AS repayment_method,
       |         CASE WHEN ${uSql(id, Synth.SaltVariable)} < 0.35 THEN 'variable' ELSE 'fixed' END AS interest_rate_type,
       |         3 + CAST(floor(${uSql(id, Synth.SaltCreatedH)} * 69) AS BIGINT) AS created_hours_before,
       |         CASE WHEN floor(${uSql(id, Synth.SaltGrace)} * 20) < 17 THEN 0
       |              ELSE CAST(floor(${uSql(id, Synth.SaltGrace)} * 20) - 16 AS INTEGER) END AS grace_period_months,
       |         'monthly' AS payment_frequency,
       |         DATE '2015-01-01' + CAST(floor(${uSql(id, Synth.SaltOrigDate)} * 3652) AS INTEGER)
       |           + CAST(floor(${uSql(id, Synth.SaltDisbDelay)} * 8) AS INTEGER) AS disbursement_date,
       |         CASE WHEN ${uSql(id, Synth.SaltDefault)} < 0.03 THEN 'defaulted' ELSE 'active' END AS status
       |  FROM range(0, 1500) t(id))""".stripMargin

  private val schedCte =
    """sched AS (
      |  SELECT *, principal_due_cents + interest_due_cents AS total_due_cents,
      |         CAST(origination_date + INTERVAL (grace_period_months + installment_no) MONTH AS DATE) AS due_date
      |  FROM (
      |    SELECT *, (opening_cents * rate_bp) // 120000 AS interest_due_cents
      |    FROM (
      |      SELECT *,
      |             principal_cents - pd_cents_base * (installment_no - 1) AS opening_cents,
      |             CASE WHEN installment_no = term_months
      |                  THEN principal_cents - pd_cents_base * (term_months - 1)
      |                  ELSE pd_cents_base END AS principal_due_cents
      |      FROM (
      |        SELECT l.*, CAST(unnest(generate_series(1, term_months)) AS INTEGER) AS installment_no,
      |               principal_cents // term_months AS pd_cents_base
      |        FROM synth_loans l) a) b) c)""".stripMargin

  private val instKeySql = "(loan_id * 200 + installment_no)"

  private val payCte =
    s"""spay AS (
       |  SELECT *, (owed_cents * frac_ppm) // 1000000 AS amount_cents
       |  FROM (
       |    SELECT *,
       |           total_due_cents + fee_cents + penalty_cents AS owed_cents,
       |           is_partial AND ${uSql(instKeySql, Synth.SaltInstPartial)} < 0.5 AS partial_inst,
       |           CASE WHEN is_partial AND ${uSql(instKeySql, Synth.SaltInstPartial)} < 0.5
       |                THEN 300000 + CAST(floor(${uSql(instKeySql, Synth.SaltInstFrac)} * 500001) AS BIGINT)
       |                ELSE 1000000 END AS frac_ppm
       |    FROM (
       |      SELECT *,
       |             due_date + delay_days AS payment_date,
       |             CASE WHEN late_inst THEN 500 + CAST(floor(${uSql(instKeySql, Synth.SaltInstFee)} * 3500) AS BIGINT) ELSE 0 END AS fee_cents,
       |             (total_due_cents * 12 * delay_days) // 36500 AS penalty_cents
       |      FROM (
       |        SELECT *,
       |               is_late AND ${uSql(instKeySql, Synth.SaltInstLate)} < 0.5 AS late_inst,
       |               CASE WHEN is_late AND ${uSql(instKeySql, Synth.SaltInstLate)} < 0.5
       |                    THEN 1 + CAST(floor(${uSql(instKeySql, Synth.SaltInstDelay)} * 90) AS INTEGER)
       |                    ELSE 0 END AS delay_days
       |        FROM sched
       |        WHERE NOT is_default OR installment_no <= (term_months * 3) // 10) d) e) f)""".stripMargin

  /** Daily worst-DPD arrears twin of [[Synth.arrearsDaily]] over the
    * snapshot expansion (shared by the transition-family oracles). */
  private val sarrCte =
    """sarr AS (
      |  SELECT loan_id, as_of_date, days_past_due,
      |         CASE WHEN days_past_due <= 0 THEN '0'
      |              WHEN days_past_due <= 30 THEN '1-30'
      |              WHEN days_past_due <= 60 THEN '31-60'
      |              WHEN days_past_due <= 90 THEN '61-90'
      |              ELSE '90+' END AS dpd_bucket
      |  FROM (
      |    SELECT loan_id, CAST(d AS DATE) AS as_of_date,
      |           CAST(max(date_diff('day', due_date, CAST(d AS DATE))) AS INTEGER) AS days_past_due
      |    FROM (
      |      SELECT *, unnest(generate_series(due_date, LEAST(payment_date, due_date + 180), INTERVAL 1 DAY)) AS d
      |      FROM spay) s
      |    GROUP BY 1, 2) g)""".stripMargin

  /** W1 month-end dedup + W2 observed-month lag over the synth arrears
    * ((loan_id, as_of_date) is unique, so `as_of_date DESC` is total). */
  private val smeCte =
    """sme AS (
      |  SELECT loan_id, month, as_of_date, days_past_due, dpd_bucket FROM (
      |    SELECT a.*, CAST(date_trunc('month', as_of_date) AS DATE) AS month,
      |           row_number() OVER (PARTITION BY loan_id, date_trunc('month', as_of_date)
      |                              ORDER BY as_of_date DESC) AS rn
      |    FROM sarr a) t WHERE rn = 1)""".stripMargin

  private val stransCte =
    """strans AS (
      |  SELECT loan_id, month, prev_bucket, dpd_bucket AS curr_bucket FROM (
      |    SELECT loan_id, month, dpd_bucket,
      |           lag(dpd_bucket) OVER (PARTITION BY loan_id ORDER BY month) AS prev_bucket
      |    FROM sme) t
      |  WHERE prev_bucket IS NOT NULL)""".stripMargin

  /** Collections cases + write-off twin CTEs ([[Synth.collectionsCases]] /
    * [[Synth.writeOffAndRecovery]]). */
  private val scasesCte =
    s"""scases AS (
       |  SELECT 900000 + loan_id AS case_id, loan_id,
       |         CAST(origination_date + INTERVAL ((term_months * 3) // 10) MONTH AS DATE) + 30 AS opened_date,
       |         ${uSql("loan_id", Synth.SaltCaseRecovery)} < 0.5 AS recovery_expected_flag
       |  FROM synth_loans WHERE is_default)""".stripMargin

  private val swoCte =
    s"""swo AS (
       |  SELECT *,
       |         CASE WHEN recovery_expected_flag THEN wo_principal_cents // 2 END AS recovery_amount_cents,
       |         CASE WHEN recovery_expected_flag THEN writeoff_date + 90 END AS recovery_date
       |  FROM (
       |    SELECT loan_id AS writeoff_id, loan_id, case_id AS recovery_case_id,
       |           recovery_expected_flag,
       |           opened_date + CAST(1 + floor(${uSql("loan_id", Synth.SaltWoDate)} * 180) AS INTEGER) AS writeoff_date,
       |           10000 + CAST(floor(${uSql("loan_id", Synth.SaltWoPrincipal)} * 190001) AS BIGINT) AS wo_principal_cents,
       |           CAST(floor(${uSql("loan_id", Synth.SaltWoInterest)} * 30001) AS BIGINT) AS wo_interest_cents,
       |           CAST(floor(${uSql("loan_id", Synth.SaltWoFees)} * 20001) AS BIGINT) AS wo_fees_cents
       |    FROM scases
       |    WHERE ${uSql("loan_id", Synth.SaltWriteoff)} < 0.35) b)""".stripMargin

  private val appsSql: String =
    s"""SELECT 100000000 + id AS application_id,
         |       10000 + CAST(floor(${uSql("id", Synth.SaltAppBorrower)} * 2000) AS BIGINT) AS borrower_id,
         |       DATE '2015-01-01' + CAST(floor(${uSql("id", Synth.SaltAppDate)} * 3652) AS INTEGER) AS application_date,
         |       (['branch','online','broker'])[CAST(floor(${uSql("id", Synth.SaltChannel)} * 3) AS INTEGER) + 1] AS channel,
         |       CAST(50000 + CAST(floor(${uSql("id", Synth.SaltReqAmount)} * 4950000) AS BIGINT) AS DOUBLE) / 100.0 AS requested_amount,
         |       (['approved','rejected','withdrawn'])[CAST(floor(${uSql("id", Synth.SaltAppStatus)} * 3) AS INTEGER) + 1] AS status,
         |       CAST(DATE '2015-01-01' + CAST(floor(${uSql("id", Synth.SaltAppDate)} * 3652) AS INTEGER) AS TIMESTAMP)
         |         - INTERVAL (3 + CAST(floor(${uSql("id", Synth.SaltAppCreatedH)} * 69) AS BIGINT)) HOUR AS created_at,
         |       3 + CAST(floor(${uSql("id", Synth.SaltAppCreatedH)} * 69) AS BIGINT) AS created_hours_before
         |FROM range(0, 3000) t(id)"""

  /** The G7 waterfall cascade as a shared CTE (used by the waterfall and
    * payment_allocation oracles — one copy to keep in sync). */
  private val waterfallCte =
    """wfall AS (
      |  SELECT * FROM (
      |    SELECT *, LEAST(rem3, principal_due_cents) AS alloc_principal FROM (
      |      SELECT *, rem2 - alloc_interest AS rem3 FROM (
      |        SELECT *, LEAST(rem2, interest_due_cents) AS alloc_interest FROM (
      |          SELECT *, rem1 - alloc_fees AS rem2 FROM (
      |            SELECT *, LEAST(rem1, fee_cents) AS alloc_fees FROM (
      |              SELECT *, amount_cents - alloc_penalty AS rem1 FROM (
      |                SELECT *, LEAST(amount_cents, penalty_cents) AS alloc_penalty
      |                FROM spay) q1) q2) q3) q4) q5) q6) q7)""".stripMargin

  private val baseOracles: Map[String, String] = Map(
    "synth_loans" ->
      s"""WITH $loansCte
         |SELECT loan_id, borrower_id, application_id, product_type, currency,
         |       origination_date, term_months,
         |       CAST(principal_cents AS DOUBLE) / 100.0 AS principal,
         |       CAST(rate_bp AS DOUBLE) / 10000.0 AS annual_rate,
         |       is_default, is_late, is_partial, repayment_method, interest_rate_type,
         |       created_hours_before,
         |       CAST(origination_date + INTERVAL (term_months) MONTH AS DATE) AS maturity_date,
         |       grace_period_months, payment_frequency, disbursement_date, status,
         |       CAST(origination_date AS TIMESTAMP) - INTERVAL (created_hours_before) HOUR AS created_at
         |FROM synth_loans""".stripMargin,

    "synth_schedule" ->
      s"""WITH $loansCte, $schedCte
         |SELECT loan_id, installment_no, due_date,
         |       CAST(principal_due_cents AS DOUBLE) / 100.0 AS principal_due,
         |       CAST(interest_due_cents AS DOUBLE) / 100.0 AS interest_due,
         |       CAST(total_due_cents AS DOUBLE) / 100.0 AS total_due,
         |       CAST(opening_cents AS DOUBLE) / 100.0 AS opening_balance,
         |       CAST(opening_cents - principal_due_cents AS DOUBLE) / 100.0 AS closing_balance
         |FROM sched""".stripMargin,

    "synth_schedule_methods" ->
      s"""WITH $loansCte
         |SELECT loan_id, repayment_method, installment_no, due_date,
         |       CAST(principal_due_cents AS DOUBLE) / 100.0 AS principal_due,
         |       CAST(interest_due_cents AS DOUBLE) / 100.0 AS interest_due,
         |       CAST(principal_due_cents + interest_due_cents AS DOUBLE) / 100.0 AS total_due,
         |       CAST(opening_cents AS DOUBLE) / 100.0 AS opening_balance,
         |       CAST(opening_cents - principal_due_cents AS DOUBLE) / 100.0 AS closing_balance
         |FROM (
         |  SELECT *, (opening_cents * rate_bp) // 120000 AS interest_due_cents,
         |         CAST(origination_date + INTERVAL (grace_period_months + installment_no) MONTH AS DATE) AS due_date
         |  FROM (
         |    SELECT *,
         |           CASE WHEN repayment_method = 'linear'
         |                THEN CASE WHEN installment_no = term_months
         |                          THEN principal_cents - pd_base * (term_months - 1)
         |                          ELSE pd_base END
         |                WHEN repayment_method = 'balloon'
         |                THEN CASE WHEN installment_no = term_months THEN principal_cents ELSE 0 END
         |                ELSE 0 END AS principal_due_cents,
         |           CASE WHEN repayment_method = 'linear'
         |                THEN principal_cents - pd_base * (installment_no - 1)
         |                ELSE principal_cents END AS opening_cents
         |    FROM (
         |      SELECT l.*, CAST(unnest(generate_series(1, term_months)) AS INTEGER) AS installment_no,
         |             principal_cents // term_months AS pd_base
         |      FROM synth_loans l
         |      WHERE repayment_method <> 'annuity') a) b) c""".stripMargin,

    "synth_payments" ->
      s"""WITH $loansCte, $schedCte, $payCte
         |SELECT loan_id, installment_no, due_date, payment_date, delay_days,
         |       late_inst, partial_inst,
         |       CAST(amount_cents AS DOUBLE) / 100.0 AS amount_received
         |FROM spay""".stripMargin,

    "synth_waterfall" ->
      s"""WITH $loansCte, $schedCte, $payCte, $waterfallCte
         |SELECT loan_id, installment_no,
         |       CAST(amount_cents AS DOUBLE) / 100.0 AS amount,
         |       CAST(alloc_penalty AS DOUBLE) / 100.0 AS alloc_penalty,
         |       CAST(alloc_fees AS DOUBLE) / 100.0 AS alloc_fees,
         |       CAST(alloc_interest AS DOUBLE) / 100.0 AS alloc_interest,
         |       CAST(alloc_principal AS DOUBLE) / 100.0 AS alloc_principal,
         |       CAST(rem3 - alloc_principal AS DOUBLE) / 100.0 AS alloc_other
         |FROM wfall""".stripMargin,

    "synth_dpd_snapshots" ->
      s"""WITH $loansCte, $schedCte, $payCte
         |SELECT loan_id, installment_no, CAST(d AS DATE) AS as_of_date,
         |       CAST(date_diff('day', due_date, CAST(d AS DATE)) AS INTEGER) AS days_past_due,
         |       CASE WHEN date_diff('day', due_date, CAST(d AS DATE)) <= 0 THEN '0'
         |            WHEN date_diff('day', due_date, CAST(d AS DATE)) <= 30 THEN '1-30'
         |            WHEN date_diff('day', due_date, CAST(d AS DATE)) <= 60 THEN '31-60'
         |            WHEN date_diff('day', due_date, CAST(d AS DATE)) <= 90 THEN '61-90'
         |            ELSE '90+' END AS dpd_bucket,
         |       date_diff('day', due_date, CAST(d AS DATE)) BETWEEN 5 AND 30 AS early_arrears_flag,
         |       date_diff('day', due_date, CAST(d AS DATE)) > 90 AS nonperforming_flag
         |FROM (
         |  SELECT *, unnest(generate_series(due_date, LEAST(payment_date, due_date + 180), INTERVAL 1 DAY)) AS d
         |  FROM spay) s""".stripMargin,

    "synth_rate_schedule" ->
      s"""WITH $loansCte,
         |v AS (SELECT *, 1 + CAST(floor(${uSql("loan_id", Synth.SaltNEvents)} * 3) AS INTEGER) AS n_events
         |      FROM synth_loans WHERE interest_rate_type = 'variable'),
         |ev AS (SELECT loan_id, term_months, origination_date, n_events,
         |              CAST(unnest(generate_series(0, n_events - 1)) AS INTEGER) AS event_no
         |       FROM v),
         |ev2 AS (SELECT *,
         |               CAST(origination_date + INTERVAL ((event_no * term_months) // n_events) MONTH AS DATE) AS effective_from,
         |               300 + CAST(floor(${uSql("(loan_id * 10 + event_no)", Synth.SaltEvtRate)} * 1900) AS BIGINT) AS rate_bp_event
         |        FROM ev)
         |SELECT loan_id, event_no, effective_from,
         |       lead(effective_from) OVER (PARTITION BY loan_id ORDER BY event_no) - 1 AS effective_to,
         |       CAST(rate_bp_event AS DOUBLE) / 10000.0 AS annual_rate
         |FROM ev2""".stripMargin,

    "synth_schedule_rates" ->
      s"""WITH $loansCte, $schedCte,
         |v AS (SELECT *, 1 + CAST(floor(${uSql("loan_id", Synth.SaltNEvents)} * 3) AS INTEGER) AS n_events
         |      FROM synth_loans WHERE interest_rate_type = 'variable'),
         |ev AS (SELECT loan_id, term_months, origination_date, n_events,
         |              CAST(unnest(generate_series(0, n_events - 1)) AS INTEGER) AS event_no
         |       FROM v),
         |ev2 AS (SELECT *,
         |               CAST(origination_date + INTERVAL ((event_no * term_months) // n_events) MONTH AS DATE) AS effective_from,
         |               300 + CAST(floor(${uSql("(loan_id * 10 + event_no)", Synth.SaltEvtRate)} * 1900) AS BIGINT) AS rate_bp_event
         |        FROM ev)
         |SELECT s.loan_id, s.installment_no, s.due_date,
         |       CAST(r.rate_bp_event AS DOUBLE) / 10000.0 AS annual_rate
         |FROM (SELECT loan_id, installment_no, due_date FROM sched
         |      WHERE interest_rate_type = 'variable') s
         |ASOF LEFT JOIN ev2 r
         |  ON s.loan_id = r.loan_id AND s.due_date >= r.effective_from""".stripMargin,

    "synth_npl_monthly" ->
      s"""WITH $loansCte, $schedCte, $payCte,
         |snaps AS (
         |  SELECT loan_id, CAST(d AS DATE) AS as_of_date,
         |         date_diff('day', due_date, CAST(d AS DATE)) > 90 AS npl_flag
         |  FROM (
         |    SELECT *, unnest(generate_series(due_date, LEAST(payment_date, due_date + 180), INTERVAL 1 DAY)) AS d
         |    FROM spay) s),
         |dpd AS (
         |  SELECT sn.as_of_date, sn.npl_flag, l.product_type, l.currency,
         |         CAST(CAST(l.principal_cents AS DECIMAL(20,2)) / 100 AS DECIMAL(18,2)) AS exposure
         |  FROM snaps sn JOIN synth_loans l ON sn.loan_id = l.loan_id)
         |SELECT month, product_type, currency,
         |       CAST(total_exposure_dec AS DOUBLE) AS total_exposure,
         |       CAST(npl_exposure_dec AS DOUBLE) AS npl_exposure,
         |       CASE WHEN total_exposure_dec = 0 THEN NULL
         |            ELSE CAST(npl_exposure_dec AS DOUBLE) / CAST(total_exposure_dec AS DOUBLE) END AS npl_ratio
         |FROM (
         |  SELECT CAST(date_trunc('month', as_of_date) AS DATE) AS month, product_type, currency,
         |         SUM(exposure) AS total_exposure_dec,
         |         SUM(CASE WHEN npl_flag THEN exposure ELSE 0 END) AS npl_exposure_dec
         |  FROM dpd GROUP BY 1, 2, 3) g""".stripMargin,

    "synth_bucket_transitions" ->
      s"""WITH $loansCte, $schedCte, $payCte, $sarrCte, $smeCte, $stransCte
         |SELECT loan_id, month, prev_bucket, curr_bucket FROM strans""".stripMargin,

    "synth_roll_rate_monthly" ->
      s"""WITH $loansCte, $schedCte, $payCte, $sarrCte, $smeCte, $stransCte
         |SELECT month, prev_bucket, curr_bucket, count(*) AS loans_cnt
         |FROM strans GROUP BY 1, 2, 3""".stripMargin,

    "synth_cure_rate_monthly" ->
      s"""WITH $loansCte, $schedCte, $payCte, $sarrCte, $smeCte, $stransCte
         |SELECT month, prev_delinquent_cnt, cured_cnt,
         |       CASE WHEN prev_delinquent_cnt = 0 THEN NULL
         |            ELSE CAST(cured_cnt AS DOUBLE) / CAST(prev_delinquent_cnt AS DOUBLE) END AS cure_rate
         |FROM (
         |  SELECT month,
         |         count(*) FILTER (WHERE prev_bucket <> '0') AS prev_delinquent_cnt,
         |         count(*) FILTER (WHERE prev_bucket <> '0' AND curr_bucket = '0') AS cured_cnt
         |  FROM strans GROUP BY 1) g""".stripMargin,

    "synth_vintage_mob" ->
      s"""WITH $loansCte, $schedCte, $payCte, $sarrCte, $smeCte
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
         |    FROM sme m JOIN synth_loans l ON m.loan_id = l.loan_id) p
         |  WHERE mob >= 0
         |  GROUP BY 1, 2) g""".stripMargin,

    "synth_collections_monthly" ->
      s"""WITH $loansCte, $schedCte, $payCte
         |SELECT month, product_type, currency, CAST(s AS DOUBLE) AS collected_amount
         |FROM (
         |  SELECT CAST(date_trunc('month', p.payment_date) AS DATE) AS month,
         |         l.product_type, l.currency,
         |         SUM(CAST(CAST(p.amount_cents AS DECIMAL(20,2)) / 100 AS DECIMAL(18,2))) AS s
         |  FROM spay p JOIN synth_loans l ON p.loan_id = l.loan_id
         |  GROUP BY 1, 2, 3) g""".stripMargin,

    "synth_borrowers" ->
      s"""SELECT 10000 + id AS borrower_id,
         |       'B-' || CAST(id AS VARCHAR) AS full_name,
         |       DATE '1950-01-01' + CAST(floor(${uSql("id", Synth.SaltBirth)} * 18262) AS INTEGER) AS birth_date,
         |       (['retail','premium','sme'])[CAST(floor(${uSql("id", Synth.SaltSegment)} * 3) AS INTEGER) + 1] AS segment
         |FROM range(0, 2000) t(id)""".stripMargin,

    "synth_applications" -> s"""$appsSql""".stripMargin,

    "synth_audit_log" ->
      s"""WITH $loansCte, $schedCte, $payCte
         |SELECT *,
         |       CAST(event_date AS TIMESTAMP)
         |         + INTERVAL ((entity_id * 7) % 24) HOUR
         |         + INTERVAL ((entity_id * 13) % 60) MINUTE AS event_timestamp
         |FROM (
         |  SELECT 'loan_contract' AS entity_type, loan_id AS entity_id, 'created' AS event,
         |         origination_date AS event_date,
         |         'LN-' || CAST(loan_id AS VARCHAR) || '-' || CAST(term_months AS VARCHAR) AS reference,
         |         'DE89**********' || lpad(CAST(loan_id % 10000 AS VARCHAR), 4, '0') AS masked_iban
         |  FROM synth_loans
         |  UNION ALL
         |  SELECT 'repayment_payment', loan_id, 'posted', payment_date,
         |         'EXT-' || CAST(loan_id AS VARCHAR) || '-' || CAST(installment_no AS VARCHAR),
         |         CAST(NULL AS VARCHAR)
         |  FROM spay) u""".stripMargin,

    "synth_payment_allocation" ->
      s"""WITH $loansCte, $schedCte, $payCte, $waterfallCte
         |SELECT (loan_id*200 + installment_no)*8 + k AS allocation_id,
         |       loan_id*200 + installment_no AS payment_id,
         |       loan_id, allocated_to, amount_allocated
         |FROM (
         |  SELECT loan_id, installment_no, 0 AS k, 'penalty' AS allocated_to,
         |         CAST(alloc_penalty AS DOUBLE)/100.0 AS amount_allocated FROM wfall
         |  UNION ALL SELECT loan_id, installment_no, 1, 'fees', CAST(alloc_fees AS DOUBLE)/100.0 FROM wfall
         |  UNION ALL SELECT loan_id, installment_no, 2, 'interest', CAST(alloc_interest AS DOUBLE)/100.0 FROM wfall
         |  UNION ALL SELECT loan_id, installment_no, 3, 'principal', CAST(alloc_principal AS DOUBLE)/100.0 FROM wfall
         |  UNION ALL SELECT loan_id, installment_no, 4, 'other', CAST(rem3 - alloc_principal AS DOUBLE)/100.0 FROM wfall) t""".stripMargin,

    "synth_disbursements" ->
      s"""WITH $loansCte
         |SELECT loan_id AS disbursement_id, loan_id,
         |       origination_date AS disbursement_date,
         |       CAST(principal_cents AS DOUBLE) / 100.0 AS amount,
         |       (['sepa','swift','internal'])[CAST(floor(${uSql("loan_id", Synth.SaltDisbChannel)} * 3) AS INTEGER) + 1] AS channel
         |FROM synth_loans""".stripMargin,

    "synth_fees" ->
      s"""WITH $loansCte, $schedCte, $payCte
         |SELECT (loan_id * 200 + installment_no) AS fee_id, loan_id,
         |       'late_fee' AS fee_type, payment_date AS fee_date,
         |       CAST(fee_cents AS DOUBLE) / 100.0 AS amount,
         |       ${uSql(instKeySql, Synth.SaltCapitalize)} < 0.2 AS capitalization_flag
         |FROM spay WHERE fee_cents > 0""".stripMargin,

    "synth_penalties" ->
      s"""WITH $loansCte, $schedCte, $payCte
         |SELECT (loan_id * 200 + installment_no) AS penalty_id, loan_id,
         |       payment_date AS event_date,
         |       CAST(total_due_cents AS DOUBLE) / 100.0 AS base_amount,
         |       CAST(0.12 AS DOUBLE) AS penalty_rate,
         |       delay_days AS days_late,
         |       CAST(penalty_cents AS DOUBLE) / 100.0 AS penalty_amount
         |FROM spay WHERE penalty_cents > 0""".stripMargin,

    "synth_mandates" ->
      s"""WITH $loansCte
         |SELECT 500000 + loan_id AS mandate_id, borrower_id, loan_id,
         |       'DD-' || CAST(loan_id AS VARCHAR) || '-'
         |         || CAST(CAST(floor(${uSql("loan_id", Synth.SaltDirectDebit)} * 1000000) AS BIGINT) AS VARCHAR) AS mandate_reference,
         |       'DE89**********' || lpad(CAST(loan_id % 10000 AS VARCHAR), 4, '0') AS iban_masked,
         |       CASE WHEN ${uSql("loan_id", Synth.SaltMandateStatus)} < 0.9 THEN 'active' ELSE 'revoked' END AS status,
         |       origination_date - 7 AS signed_date
         |FROM synth_loans WHERE ${uSql("loan_id", Synth.SaltDirectDebit)} < 0.55""".stripMargin,

    "synth_instructions" ->
      s"""WITH $loansCte, $schedCte, $payCte,
         |m AS (SELECT 500000 + loan_id AS mandate_id, loan_id FROM synth_loans
         |      WHERE ${uSql("loan_id", Synth.SaltDirectDebit)} < 0.55)
         |SELECT (p.loan_id * 200 + p.installment_no) AS instruction_id, p.loan_id,
         |       m.mandate_id, p.due_date,
         |       CAST(p.amount_cents AS DOUBLE) / 100.0 AS amount,
         |       CASE WHEN ${uSql("(p.loan_id * 200 + p.installment_no)", Synth.SaltInstrStatus)} < 0.93
         |            THEN 'executed' ELSE 'returned' END AS status,
         |       CASE WHEN ${uSql("(p.loan_id * 200 + p.installment_no)", Synth.SaltInstrStatus)} >= 0.93
         |            THEN 'insufficient_funds' END AS return_reason
         |FROM spay p JOIN m ON p.loan_id = m.loan_id""".stripMargin,

    "synth_forbearance" ->
      s"""WITH $loansCte
         |SELECT loan_id AS event_id, loan_id, 'restructure' AS event_type,
         |       CAST(origination_date + INTERVAL (term_months // 2) MONTH AS DATE) AS event_date,
         |       'term=' || CAST(term_months AS VARCHAR) AS old_terms,
         |       'term=' || CAST(term_months + 12 AS VARCHAR) AS new_terms,
         |       ${uSql("loan_id", Synth.SaltForbearance)} < 0.025 AS probation_flag
         |FROM synth_loans WHERE ${uSql("loan_id", Synth.SaltForbearance)} < 0.05""".stripMargin,

    "synth_cases" ->
      s"""WITH $loansCte
         |SELECT 900000 + loan_id AS case_id, loan_id,
         |       CAST(origination_date + INTERVAL ((term_months * 3) // 10) MONTH AS DATE) + 30 AS opened_date,
         |       CAST(NULL AS DATE) AS closed_date,
         |       (['soft','field','legal'])[CAST(floor(${uSql("loan_id", Synth.SaltCaseStage)} * 3) AS INTEGER) + 1] AS stage,
         |       ${uSql("loan_id", Synth.SaltCaseRecovery)} < 0.5 AS recovery_expected_flag
         |FROM synth_loans WHERE is_default""".stripMargin,

    "synth_writeoffs" ->
      s"""WITH $loansCte, $scasesCte, $swoCte
         |SELECT writeoff_id, loan_id, writeoff_date,
         |       CAST(wo_principal_cents AS DOUBLE) / 100.0 AS writeoff_amount_principal,
         |       CAST(wo_interest_cents AS DOUBLE) / 100.0 AS writeoff_amount_interest,
         |       CAST(wo_fees_cents AS DOUBLE) / 100.0 AS writeoff_amount_fees,
         |       recovery_expected_flag, recovery_case_id,
         |       CAST(NULL AS BIGINT) AS recovery_payment_id,
         |       CAST(recovery_amount_cents AS DOUBLE) / 100.0 AS recovery_amount,
         |       recovery_date
         |FROM swo""".stripMargin,

    "synth_writeoff_recovery_monthly" ->
      s"""WITH $loansCte, $scasesCte, $swoCte
         |SELECT month,
         |       CAST(writeoff_total_dec AS DOUBLE) AS writeoff_total,
         |       CAST(recovery_total_dec AS DOUBLE) AS recovery_total
         |FROM (
         |  SELECT CAST(date_trunc('month', COALESCE(recovery_date, writeoff_date)) AS DATE) AS month,
         |         SUM(COALESCE(CAST(CAST(wo_principal_cents AS DECIMAL(20,2)) / 100 AS DECIMAL(18,2)), 0)
         |             + COALESCE(CAST(CAST(wo_interest_cents AS DECIMAL(20,2)) / 100 AS DECIMAL(18,2)), 0)
         |             + COALESCE(CAST(CAST(wo_fees_cents AS DECIMAL(20,2)) / 100 AS DECIMAL(18,2)), 0)) AS writeoff_total_dec,
         |         SUM(COALESCE(CAST(CAST(recovery_amount_cents AS DECIMAL(20,2)) / 100 AS DECIMAL(18,2)), 0)) AS recovery_total_dec
         |  FROM swo GROUP BY 1) g""".stripMargin,

    // The one sequential kernel, oracle-checked via WITH RECURSIVE: powf
    // iterates the fixed-point (1+r)^k factor, rec replays the exact
    // integer-cents balance recurrence of [[Synth.scheduleAnnuity]].
    "synth_annuity_schedule" ->
      s"""WITH RECURSIVE $loansCte,
         |aloans AS (
         |  SELECT loan_id, principal_cents, term_months, grace_period_months, origination_date,
         |         (rate_bp * 1000000000) // 120000 AS r_s
         |  FROM synth_loans WHERE repayment_method = 'annuity'),
         |powf AS (
         |  SELECT loan_id, 0 AS k, CAST(1000000000 AS BIGINT) AS f FROM aloans
         |  UNION ALL
         |  SELECT p.loan_id, p.k + 1, (p.f * (1000000000 + a.r_s)) // 1000000000
         |  FROM powf p JOIN aloans a ON p.loan_id = a.loan_id WHERE p.k < a.term_months),
         |pays AS (
         |  SELECT a.loan_id,
         |         CASE WHEN a.r_s = 0 THEN a.principal_cents // a.term_months
         |              ELSE ((a.principal_cents * a.r_s) // 1000)
         |                   * ((f.f * 1000000) // (f.f - 1000000000)) // 1000000000000 END AS pay_cents
         |  FROM aloans a JOIN powf f ON a.loan_id = f.loan_id AND f.k = a.term_months),
         |rec AS (
         |  SELECT a.loan_id, a.term_months, a.grace_period_months, a.origination_date, a.r_s, p.pay_cents,
         |         1 AS installment_no,
         |         a.principal_cents AS opening_cents,
         |         (a.principal_cents * a.r_s) // 1000000000 AS interest_due_cents,
         |         CASE WHEN a.term_months = 1 THEN a.principal_cents
         |              ELSE p.pay_cents - (a.principal_cents * a.r_s) // 1000000000 END AS principal_due_cents
         |  FROM aloans a JOIN pays p ON a.loan_id = p.loan_id
         |  UNION ALL
         |  SELECT r.loan_id, r.term_months, r.grace_period_months, r.origination_date, r.r_s, r.pay_cents,
         |         r.installment_no + 1,
         |         r.opening_cents - r.principal_due_cents,
         |         ((r.opening_cents - r.principal_due_cents) * r.r_s) // 1000000000,
         |         CASE WHEN r.installment_no + 1 = r.term_months
         |              THEN r.opening_cents - r.principal_due_cents
         |              ELSE r.pay_cents - ((r.opening_cents - r.principal_due_cents) * r.r_s) // 1000000000 END
         |  FROM rec r WHERE r.installment_no < r.term_months)
         |SELECT loan_id, installment_no,
         |       CAST(origination_date + INTERVAL (grace_period_months + installment_no) MONTH AS DATE) AS due_date,
         |       CAST(principal_due_cents + interest_due_cents AS DOUBLE) / 100.0 AS payment,
         |       CAST(principal_due_cents AS DOUBLE) / 100.0 AS principal_due,
         |       CAST(interest_due_cents AS DOUBLE) / 100.0 AS interest_due,
         |       CAST(opening_cents AS DOUBLE) / 100.0 AS opening_balance,
         |       CAST(opening_cents - principal_due_cents AS DOUBLE) / 100.0 AS closing_balance
         |FROM rec""".stripMargin,

    "synth_chronology_audit" ->
      s"""WITH $loansCte, apps AS (${appsSql.replace("\n", "\n  ")})
         |SELECT 'created_not_3_to_72h_before_application' AS check_name, count(*) AS violations
         |  FROM apps WHERE created_hours_before < 3 OR created_hours_before > 72
         |UNION ALL SELECT 'origination_after_maturity', count(*) FROM synth_loans
         |  WHERE origination_date > CAST(origination_date + INTERVAL (term_months) MONTH AS DATE)
         |UNION ALL SELECT 'nonpositive_term', count(*) FROM synth_loans WHERE term_months <= 0
         |UNION ALL SELECT 'application_date_before_epoch', count(*) FROM apps
         |  WHERE application_date < DATE '2015-01-01'""".stripMargin
  )

  // the parquet round-trip must be LOSSLESS, so its oracle is the very
  // same synth_npl_monthly twin — any write/read drift hash-fails here
  val oracles: Map[String, String] =
    baseOracles + ("synth_npl_monthly_roundtrip" -> baseOracles("synth_npl_monthly"))
}
