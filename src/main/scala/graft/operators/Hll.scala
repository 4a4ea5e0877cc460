package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** HyperLogLog distinct-count sketch (Flajolet et al. 2007) as plain
  * declarative aggregations — the industry-standard member completing
  * the sketch family (KMV order statistics, Count-Min, Bloom): m = 256
  * registers, each holding the max leading-zero rank of the hashes
  * routed to it; the whole sketch is ONE `groupBy(bucket).max(rho)`.
  *
  * Exactly oracle-replayable, unlike textbook HLL:
  *  - the hash is two salted draws of the repo's quadratic-mix LCG
  *    (31 bits each: one for the register route, one for the rank
  *    word), exact BIGINT on both engines;
  *  - rho derives from `length(bin(w))` — both engines print minimal
  *    binary strings, so the leading-zero count needs no log2;
  *  - the harmonic sum Σ 2^(−M_j) is kept as the exact INTEGER
  *    Σ 2^(32−M_j) over a 2³² common denominator (≤ 2⁴⁰ for 256
  *    registers — exact int64), so the raw estimate is a few correctly
  *    rounded IEEE ops on exact ints: `α·m²·2³² / S`.
  *  - no small-range linear-counting correction (it needs ln, the
  *    banned non-correctly-rounded call); the output carries the RAW
  *    estimate beside the exact count so accuracy is measured, not
  *    asserted.
  *
  * Register states are mergeable by per-bucket MAX — idempotent and
  * associative, so unlike the count-sum ingest states this one needs NO
  * doc-disjoint-delta precondition: overlapping deltas, replays, and
  * retries all merge to the same sketch (max absorbs duplicates).
  *
  * Scale: the state is ≤ m rows regardless of input size; adds are one
  * narrow projection + a 256-group aggregation; the estimate is one
  * bounded aggregate over ≤ 256 rows. */
object Hll {

  val M = 256              // registers (p = 8)
  val MaxRho = 32          // w < 2^31 -> rho in [1, 32]; w = 0 -> 32
  private val Pow2_32 = 4294967296L

  /** One 31-bit draw of the repo's quadratic-mix LCG (the
    * [[graft.synth.Synth.Rng]] recurrence — chosen over an affine hash
    * because HLL needs avalanche: an affine `(a·id + b) mod p` maps
    * consecutive ids to an arithmetic progression whose stride can
    * share a factor with m, silently halving the usable registers;
    * the h1·h2 quadratic term breaks the progression). Exact int64 at
    * every step. The FIRST reduction is `pmod`, not `%`: Scala/SQL `%`
    * is sign-preserving, so a negative id would produce negative mix
    * values, buckets outside [0, m), and a silently garbage estimate —
    * pmod pins the domain to [0, 2³¹) for any int64 id (identical to
    * `%` for nonnegative ids), and every later step stays nonnegative
    * by construction. The oracle spells the same
    * `((x % m) + m) % m` normalization. */
  private def mix(id: Column, salt: Long): Column = {
    val m31 = 2147483648L
    val h1 = (pmod(id, lit(m31)) * 1103515245L + salt) % m31
    val h2 = (h1 * 1103515245L + 12345L) % m31
    (h1 * h2 + 12345L) % m31
  }

  /** ONE delta's register state `(bucket, rho_max)` — at most [[M]]
    * rows whatever the delta size. Two independent salted draws: one
    * routes to a register, the other supplies the 31-bit word whose
    * leading-zero rank the register keeps. */
  def hllAdd(df: DataFrame, idCol: String): DataFrame = {
    val w = mix(col(idCol), 202L)
    val rho = when(w === 0L, lit(MaxRho))
      .otherwise(lit(MaxRho) - length(bin(w)))
    // route by the HIGH 8 bits: a power-of-two-modulus LCG's LOW bits
    // are structured (the quadratic map mod 2^8 covers only half the
    // residues — measured: 128/256 buckets with `% 256`), its high
    // bits are the well-mixed ones
    df.select(shiftright(mix(col(idCol), 101L), 23).as("bucket"),
        rho.cast(LongType).as("rho"))
      .groupBy(col("bucket")).agg(max(col("rho")).as("rho_max"))
  }

  /** Exact merge of any number of register states: per-bucket MAX —
    * idempotent, so it tolerates overlapping deltas and replays. */
  def mergeHll(states: DataFrame*): DataFrame =
    States.merge(states, Seq("bucket"), "rho_max" -> States.Max)

  /** The raw HLL estimate off a register state: `α·m²·2³² / S` with
    * S = Σ 2^(32−M_j) (absent buckets contribute 2³²). One row:
    * `(m, used_registers, raw_estimate)`. */
  def hllEstimateFromCounts(state: DataFrame): DataFrame =
    state.agg(
        count(lit(1)).as("used"),
        // the Scala shiftleft binding takes a literal shift; the SQL
        // form accepts a column expression
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($MaxRho - rho_max AS INT))"))
          .as("s_present"))
      .select(
        lit(M).cast(IntegerType).as("m"),
        coalesce(col("used"), lit(0L)).as("used_registers"),
        (lit(0.7213 / (1.0 + 1.079 / 256.0)) * lit(65536.0) * lit(4294967296.0) /
          (coalesce(col("s_present"), lit(0L)) +
            (lit(M.toLong) - coalesce(col("used"), lit(0L))) * lit(Pow2_32))
            .cast(DoubleType))
          .as("raw_estimate"))

  /** GROUPED sketch state: one ≤[[M]]-row register set PER KEY —
    * `(key, bucket, rho_max)`. The grouped form is what a monitoring
    * or profiling pass actually runs (distinct users per event type,
    * per source, per day) and it shares every property of the global
    * sketch: bounded per-key state, idempotent max-merge, one
    * aggregation. A hot key is ≤ 256 rows like any other key — the
    * sketch IS the skew mitigation. */
  def hllAddBy(df: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val w = mix(col(idCol), 202L)
    val rho = when(w === 0L, lit(MaxRho))
      .otherwise(lit(MaxRho) - length(bin(w)))
    df.select(col(keyCol).as("key"),
        shiftright(mix(col(idCol), 101L), 23).as("bucket"),
        rho.cast(LongType).as("rho"))
      .groupBy(col("key"), col("bucket")).agg(max(col("rho")).as("rho_max"))
  }

  /** Exact merge of any number of grouped states: per-(key, bucket)
    * MAX — idempotent like [[mergeHll]]. */
  def mergeHllBy(states: DataFrame*): DataFrame =
    States.merge(states, Seq("key", "bucket"), "rho_max" -> States.Max)

  /** Per-key raw estimates off a grouped register state — one bounded
    * aggregation over ≤ keys·[[M]] rows. */
  def hllEstimateByFromCounts(state: DataFrame): DataFrame =
    state.groupBy(col("key"))
      .agg(
        count(lit(1)).as("used"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($MaxRho - rho_max AS INT))"))
          .as("s_present"))
      .select(
        col("key"),
        lit(M).cast(IntegerType).as("m"),
        col("used").as("used_registers"),
        (lit(0.7213 / (1.0 + 1.079 / 256.0)) * lit(65536.0) * lit(4294967296.0) /
          (col("s_present") + (lit(M.toLong) - col("used")) * lit(Pow2_32))
            .cast(DoubleType))
          .as("raw_estimate"))

  /** Grouped estimate + exact audit: the registered query's shape. */
  def hllDistinctBy(df: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val est = hllEstimateByFromCounts(hllAddBy(df, keyCol, idCol))
    val exact = df.groupBy(col(keyCol).as("key"))
      .agg(countDistinct(col(idCol)).as("exact_distinct"))
    est.join(exact, Seq("key"))
      .select(col("key"), col("m"), col("used_registers"),
        col("raw_estimate"), col("exact_distinct"))
  }

  /** Direct estimate + exact-count audit over a column: the registered
    * query's shape — sketch accuracy measured against the truth. */
  def hllDistinct(df: DataFrame, idCol: String): DataFrame = {
    val est = hllEstimateFromCounts(hllAdd(df, idCol))
    val exact = df.agg(countDistinct(col(idCol)).as("exact_distinct"))
    est.crossJoin(exact) // both single-row bounded aggregates
      .select(col("m"), col("used_registers"), col("raw_estimate"),
        col("exact_distinct"))
  }
}
