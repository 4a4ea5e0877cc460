package graft.dq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.KmvDistinct

/** One-pass table profiling — the "look before you pipeline" summary a
  * warehouse runs ahead of every backfill (dbt's `analyze` habit, the
  * reference's pre-load sanity checks): per column, the row count, null
  * count, a distinct-cardinality estimate, and min/max.
  *
  * The 100 TB discipline is in the aggregate choice: ALL metrics for ALL
  * columns compute in ONE partial+final aggregation pass — counts and
  * min/max are trivially partial-aggregable, and the distinct estimate is
  * the [[KmvDistinct]] sketch (bounded ≤k-longs state) instead of
  * `countDistinct`, because N exact distincts in one agg make Catalyst
  * Expand every input row N ways (an N× scan blow-up), and a per-column
  * pass is N scans. One narrow scan, one single-partition exchange of a
  * few hundred bytes, deterministic output — so the whole profile, the
  * estimates included, hash-checks against a SQL oracle.
  *
  * Strings hash into KMV space through [[graft.ext.MinHash.stringHash]]
  * (the engine-agnostic char sum the near-dup family already proves);
  * numerics through [[KmvDistinct.hashColumn]] (an empty string hashes
  * to the 0-slot rather than NULL, so '' still counts as a distinct
  * value — only true NULLs are excluded). Min/max aggregate on the
  * NATIVE column type and cast to string AFTERWARDS, so numerics report
  * their true extremes (a pre-cast min would rank "1000" < "9") while
  * every column lands in one uniform (col_name, n_rows, n_nulls,
  * distinct_est, min_str, max_str) schema.
  */
object Profile {

  /** Fixed-grid histogram request for one profiled column: `nBuckets`
    * equal-width buckets starting at `lo`; out-of-range values clamp
    * into the edge buckets, so every non-null value is counted exactly
    * once and the counts sum to n_nonnull. Bounded state (`nBuckets`
    * conditional counters folded into the profile's single aggregation
    * pass — same partial-aggregable discipline as
    * [[graft.operators.Quantiles]]' bucket counts, here with the grid
    * fixed up front so no second keyed pass is needed), deterministic,
    * replayable in ANSI SQL.
    *
    * Temporal columns histogram on the SAME grid machinery over their
    * epoch integer — days since 1970-01-01 for dates, micros for
    * timestamps (the KMV hash's exact convention) — so `lo`/`width` for
    * a date column are expressed in days, and the SQL twin re-derives
    * the value as `d - DATE '1970-01-01'` / `epoch_us(ts)`. */
  final case class HistSpec(col: String, lo: Double, width: Double, nBuckets: Int) {
    require(width > 0, s"hist width must be positive, got $width")
    require(nBuckets > 0 && nBuckets <= 64, s"hist nBuckets must be in [1,64], got $nBuckets")
    /** Clamped bucket index of `c` on this grid (shared with the SQL twin). */
    def bucketOf(c: Column): Column =
      least(greatest(floor((c.cast("double") - lit(lo)) / lit(width)).cast("long"),
        lit(0L)), lit(nBuckets - 1L))
  }

  /** Profile `numericCols` ++ `stringCols` ++ `dateCols` ++
    * `timestampCols` of `df` in one aggregation pass; one output row per
    * column, input order preserved.
    *
    * Temporal columns keep the native-typed min/max discipline: the
    * aggregate runs on the DATE/TIMESTAMP value (never a pre-cast
    * string) and only the RESULT is rendered — dates via the unambiguous
    * `cast(string)` (ISO yyyy-MM-dd on every engine), timestamps via an
    * explicit second-precision `date_format` pattern, because engines
    * disagree on how to print fractional seconds (trailing-zero
    * trimming) and the profile must hash-check. Distinct estimates hash
    * the epoch integer (days for dates, micros for timestamps) through
    * the same affine KMV map as numerics — both re-derivable in SQL
    * (`d - DATE '1970-01-01'`, `epoch_us(ts)`).
    *
    * `hist` adds a per-column fixed-grid histogram — `hist_cnts`, the
    * comma-joined bucket counts (NULL for columns without a spec) —
    * computed in the SAME pass as conditional counters, so "profile +
    * histogram" is still one scan and one tiny exchange. */
  def profile(df: DataFrame, numericCols: Seq[String], stringCols: Seq[String],
      dateCols: Seq[String] = Nil, timestampCols: Seq[String] = Nil,
      k: Int = 64, hist: Seq[HistSpec] = Nil): DataFrame = {
    val all = numericCols ++ stringCols ++ dateCols ++ timestampCols
    require(all.nonEmpty, "no columns to profile")
    // names are interpolated into the stack() expression string — reject
    // anything that isn't a plain identifier rather than mis-parse it
    all.foreach(c =>
      require(c.matches("[A-Za-z_][A-Za-z0-9_]*"), s"unsupported column name '$c'"))
    require(all.distinct.size == all.size, s"duplicate profiled column in $all")
    hist.foreach(h => require(all.contains(h.col),
      s"hist column '${h.col}' is not among the profiled columns"))
    require(hist.map(_.col).distinct.size == hist.size,
      s"duplicate hist column in ${hist.map(_.col)}")
    val epochDay = to_date(lit("1970-01-01"))
    val hashed: Seq[(String, Column)] =
      numericCols.map(c => c -> KmvDistinct.hashColumn(col(c))) ++
        stringCols.map { c =>
          // stringHash('') is NULL (empty char array) — coalesce it to the
          // 0-slot so '' counts as a value; true NULLs stay NULL (skipped)
          c -> when(col(c).isNull, lit(null).cast("long"))
            .otherwise(KmvDistinct.hashColumn(
              coalesce(graft.ext.MinHash.stringHash(col(c)), lit(0L))))
        } ++
        // epoch integers: engine-agnostic, exactly re-derivable in SQL
        dateCols.map(c => c -> KmvDistinct.hashColumn(
          datediff(col(c), epochDay).cast("long"))) ++
        // cast("timestamp") first: parquet TIMESTAMPs with
        // isAdjustedToUTC=false read as TIMESTAMP_NTZ, which unix_micros
        // rejects; the session TZ is pinned UTC (LocalSession), so the
        // NTZ wall time maps to the same micros an engine reading the
        // naive value as UTC computes
        timestampCols.map(c => c ->
          KmvDistinct.hashColumn(unix_micros(col(c).cast("timestamp"))))
    val renderMinMax: String => (Column => Column) = c =>
      if (timestampCols.contains(c)) v => date_format(v, "yyyy-MM-dd HH:mm:ss")
      else v => v.cast("string")
    val histFor: Map[String, HistSpec] = hist.map(h => h.col -> h).toMap
    // temporal columns feed the grid their epoch integer (the hist spec's
    // lo/width are then in days/micros); numerics and strings pass through
    val histValue: String => Column = c =>
      if (dateCols.contains(c)) datediff(col(c), epochDay).cast("double")
      else if (timestampCols.contains(c)) unix_micros(col(c).cast("timestamp")).cast("double")
      else col(c)
    val aggExprs: Seq[Column] =
      count(lit(1L)).as("n_rows") +: (hashed.flatMap { case (name, h) => Seq(
        count(col(name)).as(s"nn_$name"),
        KmvDistinct.kmv(h, k).as(s"kmv_$name"),
        renderMinMax(name)(min(col(name))).as(s"mn_$name"),
        renderMinMax(name)(max(col(name))).as(s"mx_$name"))
      } ++ hist.flatMap { h =>
        (0 until h.nBuckets).map(i =>
          sum(when(col(h.col).isNotNull && h.bucketOf(histValue(h.col)) === i, 1L)
            .otherwise(0L)).as(s"hb_${h.col}_$i"))
      })
    val one = df.agg(aggExprs.head, aggExprs.tail: _*)
    val histCol: String => String = name => histFor.get(name) match {
      case Some(h) =>
        (0 until h.nBuckets).map(i => s"cast(hb_${name}_$i as string)")
          .mkString("concat_ws(',', ", ", ", ")")
      case None => "cast(null as string)"
    }
    val stackArgs = hashed.map { case (name, _) =>
      s"'$name', nn_$name, kmv_$name, mn_$name, mx_$name, ${histCol(name)}" }.mkString(", ")
    val base = one.selectExpr("n_rows",
        s"stack(${hashed.size}, $stackArgs) AS (col_name, n_nonnull, distinct_est, min_str, max_str, hist_cnts)")
      .select(col("col_name"), col("n_rows"),
        (col("n_rows") - col("n_nonnull")).as("n_nulls"),
        col("distinct_est"), col("min_str"), col("max_str"), col("hist_cnts"))
    // histogram-free profiles keep the original six-column schema
    if (hist.isEmpty) base.drop("hist_cnts") else base
  }

  /** Most-frequent values per column — the profiler's companion report
    * (top-k values with counts, the "what's actually in this column"
    * view). NOT one `groupBy` per column (N scans): ONE narrow per-row
    * explode into (col_name, value) pairs, ONE keyed count whose
    * partial aggregation collapses the stream to the distinct-value
    * cardinality before the exchange, then `row_number() <= k` per
    * column, which Spark plans as `WindowGroupLimit` and so prunes each
    * partition to k values per column before the window's exchange.
    * NULLs are excluded ([[profile]] already counts them); ties break by
    * value, so the report is deterministic and oracle-checkable. */
  def topValues(df: DataFrame, cols: Seq[String], k: Int = 5): DataFrame = {
    require(cols.nonEmpty, "no columns to report")
    import org.apache.spark.sql.expressions.Window
    val pairs = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(c).cast("string").as("value"))): _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.value").as("value"))
      .filter(col("value").isNotNull)
    val counted = pairs.groupBy(col("col_name"), col("value"))
      .agg(count(lit(1L)).as("cnt"))
    counted
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("col_name")).orderBy(col("cnt").desc, col("value").asc)))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  // -------------------------------------------------------------------
  // Daily distinct-cardinality monitoring — the table a production
  // pipeline actually materializes (distinct users per type per day),
  // built on the grouped-HLL add/merge contract so the day's state is
  // maintained incrementally and replays/overlaps are harmless
  // (per-(key, bucket) MAX is idempotent).
  // -------------------------------------------------------------------

  /** The composite (key, day) grouping key: `key|day_bucket`, where
    * day_bucket is exact-integer days since epoch off the nanos ts
    * (`ts div 1000` → micros — the cross-engine meeting point — then
    * div 86.4e9). The '|' separator is safe for the profile's key
    * columns by contract (enum-like type columns, never free text). */
  private def typeDayKey(keyCol: String, tsCol: String): Column =
    concat(col(keyCol), lit("|"),
      expr(s"($tsCol div 1000) div 86400000000").cast("string"))

  /** ONE delta's (type, day)-grouped HLL register state — ≤ 256 rows
    * per (type, day) no matter how hot the day is (the sketch IS the
    * skew mitigation). [[graft.operators.Hll.mergeHllBy]] merges any
    * number of deltas exactly. */
  def hllDailyAdd(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String): DataFrame =
    graft.operators.Hll.hllAddBy(
      events.withColumn("type_day", typeDayKey(keyCol, tsCol)),
      "type_day", idCol)

  /** The read side off any merged daily state: per-(type, day) raw HLL
    * estimates with the EXACT distinct count riding beside (the raw
    * estimate is biased below ~2.5m ≈ 640 distincts — small daily
    * slices sit in that regime, and the table says so instead of
    * hiding it). */
  def hllDailyFromCounts(state: DataFrame, events: DataFrame,
      keyCol: String, tsCol: String, idCol: String): DataFrame = {
    val exact = events
      .groupBy(typeDayKey(keyCol, tsCol).as("key"))
      .agg(countDistinct(col(idCol)).as("exact_distinct"))
    graft.operators.Hll.hllEstimateByFromCounts(state)
      .join(exact, Seq("key"))
      .select(
        split(col("key"), "\\|").getItem(0).as(keyCol),
        split(col("key"), "\\|").getItem(1).cast("long").as("day_bucket"),
        col("m"), col("used_registers"), col("raw_estimate"),
        col("exact_distinct"))
  }

  /** Single-pass daily profile (state built and read in one shot) —
    * bit-identical to any merged-ingest read by the add/merge
    * contract, which is exactly what the stream twin asserts. */
  def hllDailyDistinct(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String): DataFrame =
    hllDailyFromCounts(hllDailyAdd(events, keyCol, tsCol, idCol),
      events, keyCol, tsCol, idCol)
}
