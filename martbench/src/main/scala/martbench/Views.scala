package martbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.credit.Marts
import graft.functions.CreditFunctions
import graft.operators.Snapshots

/** The marts as dbt views (the reference's default materialization):
  * every query recomputes its mart from the staged tables of `world`.
  * A query is one view plus an optional slice; its expected answer is
  * the same slice of the mart `world` materialized. */
final class Views(world: World) {
  import Views._

  private def loans = world.stg("stg_loan_contract")
  private def arrears = world.stg("stg_arrears_daily")
  private def transitions = Marts.bucketTransitions(World.loanDaily(arrears))

  def view(mart: String): DataFrame = mart match {
    case "dpd_daily" => Marts.dpdDaily(arrears, loans)
    case "npl_monthly" => Marts.nplMonthly(view("dpd_daily"))
    case "roll_rate_monthly" => Marts.rollRateMonthly(transitions)
    case "cure_rate_monthly" => Marts.cureRateMonthly(transitions)
    case "vintage_mob" => Marts.vintageMob(
      Snapshots.monthEnd(World.loanDaily(arrears), col("loan_id"), col("as_of_date")),
      loans.select(col("loan_id"), col("origination_date")))
    case "writeoff_recovery_monthly" => Marts.writeoffRecoveryMonthly(world.stg("stg_writeoff"))
    case "collections_monthly" => Marts.collectionsMonthly(world.stg("stg_payments"),
      loans.select(col("loan_id"), col("product_type")))
  }

  /** The query's answer, computed through the view. The 90+ query bands
    * the DPD again inside the view, as the reference's staging model
    * does, so its filter lands on a CASE and exercises the program's
    * `SimplifyLiteralCaseFilter` rule. */
  def answer(q: Query): DataFrame = q.template match {
    case "dpd_daily_90plus" =>
      Marts.dpdDaily(arrears.withColumn("dpd_bucket", CreditFunctions.dpdBucket(col("days_past_due"))), loans)
        .filter(col("dpd_bucket") === "90+")
    case _ => q.slice.fold(view(q.mart))(view(q.mart).filter(_))
  }

  def expected(q: Query): DataFrame = {
    val m = world.mart(q.mart)
    q.template match {
      case "dpd_daily_90plus" => m.filter(col("dpd_bucket") === "90+")
      case _ => q.slice.fold(m)(m.filter(_))
    }
  }
}

object Views {
  /** `key` names the query's answer (template and slice parameter). */
  final case class Query(template: String, mart: String, key: String, slice: Option[Column])

  /** Values the slices draw from, read once from the materialized marts. */
  final case class Domain(months: IndexedSeq[java.sql.Date], products: IndexedSeq[String],
      cohorts: IndexedSeq[java.sql.Date])

  def domain(world: World): Domain = {
    def dates(m: String, c: String) =
      world.mart(m).select(col(c)).distinct().collect().map(_.getDate(0)).sortBy(_.getTime).toIndexedSeq
    Domain(dates("npl_monthly", "month"),
      world.stg("stg_loan_contract").select(col("product_type")).distinct().collect()
        .map(_.getString(0)).sorted.toIndexedSeq,
      dates("vintage_mob", "cohort_q"))
  }

  /** One pass: every template once, in an order and with slice values
    * drawn from `rng`. Each pass has the same mix of work, so a seed
    * changes which slices are asked and in what order, not how much. */
  def pass(d: Domain, rng: scala.util.Random): Seq[Query] = {
    def pick[T](xs: IndexedSeq[T]) = xs(rng.nextInt(xs.size))
    def month(c: String) = { val m = pick(d.months); (m.toString, monthFilter(c, m)) }
    val (dm, dmf) = month("as_of_date")
    val p = pick(d.products)
    val (pm, pmf) = month("as_of_date")
    val (rm, rmf) = month("month")
    val cm = pick(d.months)
    val cq = pick(d.cohorts)
    val np = pick(d.products)
    val cp = pick(d.products)
    rng.shuffle(Seq(
      Query("dpd_daily", "dpd_daily", "dpd_daily", None),
      Query("dpd_daily_month", "dpd_daily", s"dpd_daily@$dm", Some(dmf)),
      Query("dpd_daily_product_month", "dpd_daily", s"dpd_daily@$p/$pm",
        Some(col("product_type") === p && pmf)),
      Query("dpd_daily_90plus", "dpd_daily", "dpd_daily@90+", None),
      Query("npl_monthly", "npl_monthly", "npl_monthly", None),
      Query("npl_monthly_product", "npl_monthly", s"npl_monthly@$np", Some(col("product_type") === np)),
      Query("roll_rate_monthly", "roll_rate_monthly", "roll_rate_monthly", None),
      Query("roll_rate_month", "roll_rate_monthly", s"roll_rate_monthly@$rm", Some(rmf)),
      Query("cure_rate_monthly", "cure_rate_monthly", "cure_rate_monthly", None),
      Query("cure_rate_from_month", "cure_rate_monthly", s"cure_rate_monthly>=$cm",
        Some(col("month") >= lit(cm))),
      Query("vintage_mob", "vintage_mob", "vintage_mob", None),
      Query("vintage_cohort", "vintage_mob", s"vintage_mob@$cq", Some(col("cohort_q") === lit(cq))),
      Query("writeoff_recovery_monthly", "writeoff_recovery_monthly", "writeoff_recovery_monthly", None),
      Query("collections_monthly", "collections_monthly", "collections_monthly", None),
      Query("collections_product", "collections_monthly", s"collections_monthly@$cp",
        Some(col("product_type") === cp))))
  }

  private def monthFilter(c: String, m: java.sql.Date): Column =
    CreditFunctions.monthOf(col(c)) === lit(m)
}
