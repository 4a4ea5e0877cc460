package graft.credit

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.analog.Analog
import graft.operators.Snapshots
import graft.synth.Synth

/** The reference's dbt project (PAPER.md §1.1) spelled once: 4 `stg_*`,
  * 3 `int_*` and 7 mart models, lazily composed DataFrames like dbt
  * views, so Catalyst inlines the whole tree per mart. A source supplies
  * the staging and `int_loan_daily`; `tiebreakers` make the window
  * orders total when `int_loan_daily` repeats a loan-day. */
sealed abstract class Pipeline(tiebreakers: Column*) {
  def stgLoanContract: DataFrame
  def stgPayments: DataFrame
  def stgArrearsDaily: DataFrame
  def stgWriteoff: DataFrame
  def intLoanDaily: DataFrame

  lazy val intMonthEnd: DataFrame =
    Snapshots.monthEnd(intLoanDaily, col("loan_id"), col("as_of_date"), tiebreakers: _*)
  lazy val intTransitions: DataFrame = Marts.bucketTransitions(intLoanDaily, tiebreakers: _*)

  def dpdDaily: DataFrame = Marts.dpdDaily(stgArrearsDaily, stgLoanContract)
  def nplMonthly: DataFrame = Marts.nplMonthly(dpdDaily)
  def rollRateMonthly: DataFrame = Marts.rollRateMonthly(intTransitions)
  def cureRateMonthly: DataFrame = Marts.cureRateMonthly(intTransitions)
  def vintageMob: DataFrame = Marts.vintageMob(intMonthEnd, stgLoanContract)
  def writeoffRecoveryMonthly: DataFrame = Marts.writeoffRecoveryMonthly(stgWriteoff)
  def collectionsMonthly: DataFrame = Marts.collectionsMonthly(stgPayments, stgLoanContract)
}

object Pipeline {
  /** Integer cents to exact money. */
  private[graft] def cents(c: String): Column =
    (col(c).cast(DecimalType(20, 2)) / lit(100)).cast(Analog.Money)

  /** The generator's world; `int_loan_daily` is the worst DPD per loan-day. */
  def synth(spark: SparkSession, cfg: Synth.Config = Synth.Config()): Pipeline = new Pipeline {
    private lazy val loans = Synth.loans(spark, cfg)
    private lazy val repayments = Synth.payments(Synth.scheduleLinear(loans))
    lazy val stgLoanContract: DataFrame = loans.select(col("loan_id"), col("borrower_id"),
      col("product_type"), col("currency"), col("origination_date"), col("term_months"),
      cents("principal_cents").as("exposure"))
    lazy val stgPayments: DataFrame = repayments
      .join(loans.select(col("loan_id"), col("currency")), Seq("loan_id"), "inner")
      .select(col("loan_id"), col("installment_no"), col("payment_date"), col("currency"),
        cents("amount_cents").as("amount_received"))
    // no past-due amount in the synth fact: NULL keeps fct_dpd_daily's columns
    lazy val stgArrearsDaily: DataFrame = Synth.dpdSnapshots(repayments, cfg.snapshotCapDays)
      .select(col("loan_id"), col("installment_no"), col("as_of_date"), col("days_past_due"),
        col("dpd_bucket"), col("nonperforming_flag").as("npl_flag"),
        lit(null).cast(Analog.Money).as("past_due_amount_total"))
    lazy val stgWriteoff: DataFrame = Synth.writeOffAndRecovery(Synth.collectionsCases(loans))
      .select(col("loan_id"), col("writeoff_date"), col("recovery_date"),
        cents("wo_principal_cents").as("writeoff_amount_principal"),
        cents("wo_interest_cents").as("writeoff_amount_interest"),
        cents("wo_fees_cents").as("writeoff_amount_fees"),
        cents("recovery_amount_cents").as("recovery_amount"))
    lazy val intLoanDaily: DataFrame = Synth.arrearsDaily(
      stgArrearsDaily.select(col("loan_id"), col("as_of_date"), col("days_past_due")))
    // the generated arrears are an explode of an explode of a `range`,
    // whose size estimate stays at loan-table scale, so unhinted the
    // join broadcasts the snapshots (millions of rows at 100x), not the
    // one-row-per-loan contract
    override def dpdDaily: DataFrame = Marts.dpdDaily(stgArrearsDaily, broadcast(stgLoanContract))
  }

  /** The testdata tier through [[Analog]]; its arrears repeat loan-days,
    * so `ts, event_id` break the window ties. */
  def analog(td: Tables): Pipeline = new Pipeline(col("ts"), col("event_id")) {
    lazy val stgLoanContract: DataFrame = Analog.loans(td)
    lazy val stgPayments: DataFrame = Analog.payments(td)
    lazy val stgArrearsDaily: DataFrame = Analog.arrears(td)
    lazy val stgWriteoff: DataFrame = Analog.writeoffs(td)
    lazy val intLoanDaily: DataFrame = stgArrearsDaily
  }
}
