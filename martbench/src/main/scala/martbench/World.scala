package martbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.credit.Marts
import graft.dq.Checks
import graft.functions.CreditFunctions
import graft.operators.Snapshots
import graft.sources.Load
import graft.synth.Synth

/** One nightly build of the credit mart, composed from the program's
  * public functions the way the reference runs `dbt run` then `dbt test`:
  *
  *  - synth:  synthesize the OLTP world and write the source tables the
  *            marts read (the snapshot fact through `Load.writePartitioned`);
  *  - stage:  read the sources back and write the 4 `stg_*` tables;
  *  - window: the loan-day worst DPD (`Synth.arrearsDaily`), the month-end
  *            snapshot and the month-over-month lag (`Snapshots`, `Marts`);
  *  - marts:  write the 7 fact marts;
  *  - dq:     the dbt test suite (`Checks.suite`), mart key uniqueness and
  *            the payment waterfall conservation check.
  *
  * Every step ends in parquet writes or a collect, so every row and
  * column is built. Each mart is composed exactly like its registered
  * `synth_*` twin, so at the default `Synth.Config` the two must agree. */
final class World(spark: SparkSession, root: String, trace: Trace) {
  import World._

  private def path(layer: String, table: String) = s"$root/$layer/$table"
  private def read(layer: String, table: String): DataFrame = spark.read.parquet(path(layer, table))
  private def write(df: DataFrame, layer: String, table: String): Unit =
    df.write.mode("overwrite").parquet(path(layer, table))

  def mart(name: String): DataFrame = read("mart", name)
  def stg(name: String): DataFrame = read("stg", name)

  /** Runs all five steps; returns the dq violations by check name. */
  def build(cfg: Synth.Config): Map[String, Long] = {
    load(cfg)
    trace.span("dq")(dq())
  }

  /** The build without its dq step: the sources, staging and marts. */
  def load(cfg: Synth.Config): Unit = {
    trace.span("synth")(synth(cfg))
    trace.span("stage")(stage())
    trace.span("window")(window())
    trace.span("marts")(marts())
  }

  def synth(cfg: Synth.Config): Unit = {
    val loans = Synth.loans(spark, cfg)
    val payments = Synth.payments(Synth.scheduleLinear(loans))
    write(loans, "src", "loan_contract")
    write(payments, "src", "repayment_payment")
    Load.writePartitioned(
      Synth.dpdSnapshots(payments, cfg.snapshotCapDays).withColumn("snap_year", year(col("as_of_date"))),
      path("src", "arrears_dpd_status"), Seq("snap_year"), Seq("loan_id", "as_of_date"))
    write(Synth.paymentAllocations(Synth.waterfall(payments)), "src", "payment_allocation")
    write(Synth.writeOffAndRecovery(Synth.collectionsCases(loans)), "src", "write_off_and_recovery")
  }

  def stage(): Unit = {
    val loans = read("src", "loan_contract")
    write(loans.select(col("loan_id"), col("borrower_id"), col("product_type"), col("currency"),
      col("origination_date"), col("term_months"), cents("principal_cents").as("exposure")),
      "stg", "stg_loan_contract")
    write(read("src", "repayment_payment")
      .join(loans.select(col("loan_id"), col("currency")), Seq("loan_id"), "inner")
      .select(col("loan_id"), col("installment_no"), col("payment_date"), col("currency"),
        cents("amount_cents").as("amount_received")),
      "stg", "stg_payments")
    // the synth snapshot fact carries no past-due amount; the column is
    // kept (NULL) so fct_dpd_daily has the reference's column set
    write(read("src", "arrears_dpd_status")
      .select(col("loan_id"), col("installment_no"), col("as_of_date"), col("days_past_due"),
        CreditFunctions.dpdBucket(col("days_past_due")).as("dpd_bucket"),
        col("nonperforming_flag").as("npl_flag"),
        lit(null).cast(Money).as("past_due_amount_total")),
      "stg", "stg_arrears_daily")
    write(read("src", "write_off_and_recovery")
      .select(col("loan_id"), col("writeoff_date"), col("recovery_date"),
        cents("wo_principal_cents").as("writeoff_amount_principal"),
        cents("wo_interest_cents").as("writeoff_amount_interest"),
        cents("wo_fees_cents").as("writeoff_amount_fees"),
        cents("recovery_amount_cents").as("recovery_amount")),
      "stg", "stg_writeoff")
  }

  def window(): Unit = {
    write(loanDaily(stg("stg_arrears_daily")), "int", "int_loan_daily")
    val daily = read("int", "int_loan_daily")
    write(Snapshots.monthEnd(daily, col("loan_id"), col("as_of_date")), "int", "int_month_end")
    write(Marts.bucketTransitions(daily), "int", "int_transitions")
  }

  def marts(): Unit = {
    val loans = stg("stg_loan_contract")
    def one(name: String)(df: => DataFrame): Unit = trace.span(s"marts.$name")(write(df, "mart", name))
    one("dpd_daily")(Marts.dpdDaily(stg("stg_arrears_daily"), loans))
    one("npl_monthly")(Marts.nplMonthly(mart("dpd_daily")))
    one("roll_rate_monthly")(Marts.rollRateMonthly(read("int", "int_transitions")))
    one("cure_rate_monthly")(Marts.cureRateMonthly(read("int", "int_transitions")))
    one("vintage_mob")(Marts.vintageMob(read("int", "int_month_end"),
      loans.select(col("loan_id"), col("origination_date"))))
    one("writeoff_recovery_monthly")(Marts.writeoffRecoveryMonthly(stg("stg_writeoff")))
    one("collections_monthly")(Marts.collectionsMonthly(stg("stg_payments"),
      loans.select(col("loan_id"), col("product_type"))))
  }

  def dq(): Map[String, Long] = {
    val loans = stg("stg_loan_contract")
    val payments = stg("stg_payments")
    val suite = Checks.suite(stg("stg_arrears_daily"), loans, payments)
    val keys = MartKeys.toSeq.map { case (m, k) =>
      Checks.counted(s"${m}_unique", Checks.uniqueViolations(mart(m), k)) }
    // the waterfall allocations of each payment sum exactly to it
    val allocated = read("src", "payment_allocation")
      .groupBy(col("payment_id"))
      .agg(sum(col("amount_allocated").cast(Money)).as("allocated"))
    val waterfall = Checks.counted("waterfall_allocations_sum_to_payment",
      payments.select((col("loan_id") * 200 + col("installment_no")).as("payment_id"),
          col("amount_received"))
        .join(allocated, Seq("payment_id"), "left")
        .filter(!coalesce(col("allocated") === col("amount_received"), lit(false))))
    val rows = (suite +: waterfall +: keys).reduce(_.union(_)).collect()
    trace.addRows(rows.length)
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Digests of the 7 marts as written. */
  def martDigests(): Map[String, Digest] =
    MartNames.map(m => m -> Digest.drain(mart(m), s"digest $m")).toMap

  /** Rows of the snapshot fact this world was built from. */
  def snapshotRows(): Long = read("src", "arrears_dpd_status").count()
}

object World {
  val Money: DecimalType = DecimalType(18, 2)

  val MartNames: Seq[String] = Seq("dpd_daily", "npl_monthly", "roll_rate_monthly",
    "cure_rate_monthly", "vintage_mob", "writeoff_recovery_monthly", "collections_monthly")

  /** The grain of each monthly mart, tested unique after every build. */
  val MartKeys: Map[String, Seq[String]] = Map(
    "npl_monthly" -> Seq("month", "product_type", "currency"),
    "roll_rate_monthly" -> Seq("month", "prev_bucket", "curr_bucket"),
    "cure_rate_monthly" -> Seq("month"),
    "vintage_mob" -> Seq("cohort_q", "mob"),
    "collections_monthly" -> Seq("month", "product_type", "currency"))

  /** Each mart's registered twin in `SparkEntry.queries` (dpd_daily has none). */
  val Twins: Map[String, String] = Map(
    "npl_monthly" -> "synth_npl_monthly",
    "roll_rate_monthly" -> "synth_roll_rate_monthly",
    "cure_rate_monthly" -> "synth_cure_rate_monthly",
    "vintage_mob" -> "synth_vintage_mob",
    "writeoff_recovery_monthly" -> "synth_writeoff_recovery_monthly",
    "collections_monthly" -> "synth_collections_monthly")

  /** Integer cents to exact money, as the registered twins convert them. */
  def cents(c: String) = (col(c).cast(DecimalType(20, 2)) / lit(100)).cast(Money)

  def loanDaily(arrears: DataFrame): DataFrame =
    Synth.arrearsDaily(arrears.select(col("loan_id"), col("as_of_date"), col("days_past_due")))

  /** Reference volumes scaled by `scale`, with the behaviour rates and
    * start date drawn from `seed` within narrow fixed ranges. */
  def config(scale: Double, seed: Long): Synth.Config = {
    val r = new scala.util.Random(seed)
    def in(lo: Double, hi: Double) = lo + (hi - lo) * r.nextDouble()
    def n(reference: Int) = math.max(1, math.round(reference * scale).toInt)
    Synth.Config(
      nBorrowers = n(2000), nApplications = n(3000), nLoans = n(1500),
      startDate = java.time.LocalDate.of(2013, 1, 1).plusMonths(r.nextInt(48)).toString,
      pLate = in(0.175, 0.185), pPartial = in(0.09, 0.11), pDefault = in(0.025, 0.035),
      pVariableRate = in(0.30, 0.40))
  }
}
