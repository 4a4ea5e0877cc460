package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.KMeansCells
import org.apache.spark.sql.types._

import graft.operators.States

/** Trained coarse quantization: seeded Lloyd's k-means over the int8
  * quantized embedding grid, plus the two pipeline consumers — cluster
  * labels and SemDeDup-style within-cluster near-duplicate pairs.
  *
  * [[Sim.ivfTopK]]'s scaladoc promises "a production variant would train
  * them (k-means)"; this is that variant (and [[Sim.ivfTopKTrained]] is
  * the search path that consumes it). The exact-arithmetic design is
  * what makes a DuckDB oracle replay every iteration bit-for-bit:
  *
  *  - Vectors are quantized onto ONE global grid `q_i = floor(x_i/S +
  *    0.5)` with `S = global_maxabs / 127` (a single order-independent
  *    max, so the grid itself is engine-agnostic), giving integer
  *    components in [-127, 127].
  *  - A centroid is never a float vector: it is the exact pair
  *    `(n, s)` — member count and per-dimension int64 SUM. Both survive
  *    any aggregation order unchanged, which is the whole trick: float
  *    means accumulate in partition order and can never hash-match a
  *    single-threaded oracle.
  *  - Assignment scores drop the constant |q|² from the L2 distance to
  *    the mean s/n:  `score_c = dot(q,s_c)·(-2)/n_c + |s_c|²/n_c²` —
  *    two IEEE divisions over exact int64 terms, then one add. Exact
  *    while `|s|² = Σ s_i² < 2^53`, i.e. cluster sizes up to ~9·10⁴ at
  *    d=64 — far above anything a TRAINING SAMPLE should contain: at
  *    100 TB you train the quantizer on a bounded (stratified) sample
  *    and assign the full corpus in one narrow pass, exactly the FAISS
  *    regime. Ties take the lowest cell id (ascending-cell strict-<
  *    scan in [[org.apache.spark.sql.graft.KMeansArgmin]], the loop
  *    form of the oracle's `row_number() OVER (ORDER BY score, cell)`).
  *  - Seeds are a deterministic MAXIMIN (k-means++-style farthest-point)
  *    selection over the bounded lowest-`vec_id` pool, as singleton
  *    clusters `(1, q_seed)` — exact integer distances with a total
  *    tie order, so the greedy is SQL-expressible as k chained CTEs
  *    (see [[maximinSeeds]]); a cell that loses all members keeps its
  *    previous `(n, s)` for the next assignment round (standard
  *    empty-cluster retention).
  *
  * Scale shape (100 TB): one narrow projection quantizes; each Lloyd
  * round is ONE narrow assignment pass (the k×d centroid table is
  * driver-held reference-object state, k·d·8 bytes — the same
  * bounded-collect contract as [[Sim.bruteTopK]]'s broadcast index)
  * plus ONE k-row groupBy shuffle. No joins, no cartesians; `iters`
  * shuffles total. Assignment is a native Catalyst expression
  * ([[org.apache.spark.sql.graft.KMeansArgmin]] — a k×d loop over one
  * codegen reference object), NOT a k·d literal expression tree, so k
  * can reach the 10³–10⁴ a real IVF coarse quantizer needs without
  * hitting codegen method limits.
  *
  * Reference behavior anchor: the embedding/“documents” side of the LLM
  * layer (SURVEY.md §2 extensions); no counterpart exists in
  * `/root/reference` (dbt credit marts), so semantics follow the public
  * IVF/SemDeDup literature (PAPERS.md).
  */
object Cluster {

  /** Exact centroid state: member count + per-dim int64 component sums. */
  final case class Centroid(cell: Int, n: Long, s: Array[Long])

  private def el(q: Column, i: Int): Column = element_at(q, i)

  /** The global quantization grid: `(scale, d)`, or None when the table
    * is empty or all-zero (no grid exists — callers return an empty
    * result instead of planning against one). The max is a single scalar
    * collect (order-independent, so deterministic). Ragged input fails
    * FAST here: a short row's missing components would read as NULL and
    * silently mis-cluster downstream, so uniform width is a contract. */
  private[ext] def grid(embeddings: DataFrame): Option[(Double, Int)] = {
    val row = embeddings
      .agg(max(array_max(transform(col("embedding"), x => abs(x.cast(DoubleType))))),
        max(size(col("embedding"))), min(size(col("embedding"))))
      .first()
    if (row.isNullAt(0) || row.getDouble(0) <= 0.0) None
    else {
      require(row.getInt(1) == row.getInt(2),
        s"ragged embedding column: dims range [${row.getInt(2)}, ${row.getInt(1)}]")
      Some((row.getDouble(0) / 127.0, row.getInt(1)))
    }
  }

  /** Quantization projection for a given grid scale. The scale rides as
    * a `lit` DOUBLE through the Column API (never interpolated into SQL
    * text, where Double.toString round-tripping through the literal
    * parser could drift the value), so the oracle's
    * `floor(x / scale + 0.5)` sees the identical IEEE divisor. */
  private[ext] def qCol(scale: Double): Column =
    transform(col("embedding"),
      x => floor(x.cast(DoubleType) / lit(scale) + lit(0.5)).cast(LongType))

  /** Global quantized frame `(vec_id, q)`, or None on empty/all-zero. */
  private def quantized(embeddings: DataFrame): Option[(DataFrame, Int)] =
    grid(embeddings).map { case (scale, d) =>
      (embeddings.select(col("vec_id"), qCol(scale).as("q")), d)
    }

  /** The |s|² < 2⁵³ exactness precondition, enforced LOUDLY: above it
    * the int64→double cast in the assignment score silently rounds and
    * the bit-replay contract vs the oracle quietly dies (at d=64 the
    * bound allows ~9·10⁴ members per cell). The guard sits on the ONE
    * path every scorer shares ([[nsqOverN2]] → [[exprState]]), so full
    * training, sampled training, trained-IVF search and contamination
    * probing all fail fast instead of drifting. overflow in the exact
    * sum itself (addExact/multiplyExact) is a fortiori past the bound. */
  private def exactNsq(c: Centroid): Long = {
    val nsq =
      try c.s.foldLeft(0L)((a, x) => Math.addExact(a, Math.multiplyExact(x, x)))
      catch { case _: ArithmeticException => Long.MaxValue }
    require(nsq < (1L << 53),
      s"cell ${c.cell} (n=${c.n}): |s|^2 >= 2^53 — centroid state has outgrown " +
        "the exact-double scoring bound; train the quantizer on a bounded " +
        "sample (kmeansCentroidsSampled) and assign the full corpus instead")
    nsq
  }

  /** `|s|²/n²` — computed driver-side from exact int64 state; the oracle
    * performs the identical division on the identical integers. */
  private def nsqOverN2(c: Centroid): Double =
    exactNsq(c).toDouble / (c.n * c.n).toDouble

  /** Expression-state view of a centroid set (cell, n as double,
    * |s|²/n², component sums) for [[KMeansCells]]. */
  private[ext] def exprState(cens: Seq[Centroid]): Seq[(Int, Double, Double, Seq[Long])] =
    cens.map(c => (c.cell, c.n.toDouble, nsqOverN2(c), c.s.toIndexedSeq))

  /** Argmin assignment column against `cens` — one native-codegen k×d
    * loop ([[org.apache.spark.sql.graft.KMeansArgmin]]). */
  private def assignCol(q: Column, cens: Seq[Centroid]): Column =
    KMeansCells.argmin(q, exprState(cens))

  /** One Lloyd update: k-row groupBy (count + d int64 sums), collected —
    * the bounded driver-side centroid state. Cells with no members keep
    * their previous state. */
  private def update(assigned: DataFrame, prev: Seq[Centroid], d: Int): Seq[Centroid] = {
    val aggs = (count(lit(1)).as("n") +:
      (1 to d).map(i => sum(el(col("q"), i)).as(s"s$i"))).toList
    val got = assigned.groupBy(col("cell")).agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => Centroid(r.getInt(0), r.getLong(1),
        Array.tabulate(d)(i => r.getLong(2 + i))))
      .map(c => c.cell -> c).toMap
    prev.map(c => got.getOrElse(c.cell, c))
  }

  /** Seed-pool width for the maximin (k-means++-style) seeding: the
    * greedy farthest-point pass runs over a `max(k, SeedPool)`-row
    * RESIDUE-CLASS pool — ids with `(vec_id - min_id) % stride == 0`
    * where `stride = ceil(n / poolN)` — NOT the whole corpus and NOT
    * the poolN lowest ids (which can all be one source at real scale).
    * The ceil-stride spreads the pool across the whole id range (the
    * `kmeansCentroidsSampled` sampling discipline applied to seeding),
    * anchoring at the minimum id so the pool is never empty and seed 0
    * stays the lowest vec_id. Because membership tests id VALUES, a
    * sparse or hashed id space can collapse the class to fewer than k
    * members — lloydAssign then falls back to the lowest-id pool
    * (strictly better than a degenerate under-k seed set; the oracle's
    * `poolr`-count branch replays the same test). Bounded and
    * SQL-replayable (the oracle's `ps`/`poolr`/`pool` CTEs), so
    * seeding cost is O(pool·k·d) driver arithmetic at any corpus size:
    * the FAISS train-on-sample discipline applied to seeding itself.
    * Referenced by ExtRegistry.maximinSeedCtes — widening or narrowing
    * this value re-pins every kmeans-family oracle on both sides at
    * once. */
  private[graft] val SeedPool = 256

  /** Deterministic maximin (farthest-point) seeding over a collected
    * pool of `(vec_id, q)` rows — the k-means++ idea with the random
    * choice replaced by the exact greedy: seed 0 is the lowest vec_id;
    * each next seed maximizes the minimum exact-int64 squared distance
    * to the already-chosen set, ties to the lowest vec_id. Replayable
    * as k chained CTEs (integer distances, total order), unlike
    * D²-sampling. First-k-by-vec_id seeding strands clusters when
    * adjacent ids come from one source (duplicate seeds → empty cells);
    * maximin spreads seeds across the occupied space, which lifts every
    * consumer (trained IVF, SemDeDup, contamination, residual PQ) —
    * ClusterSpec gates strictly-better within-cluster SSE on a blob
    * fixture. */
  private[ext] def maximinSeeds(pool: IndexedSeq[(Long, Array[Long])], k: Int): Seq[Centroid] = {
    if (pool.isEmpty) return Nil
    def dist2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val diff = a(i) - b(i); s += diff * diff; i += 1 }
      s
    }
    val sorted = pool.sortBy(_._1)
    val chosen = scala.collection.mutable.ArrayBuffer(sorted.head)
    // (vec_id, q, min distance² to the chosen set so far)
    var rest = sorted.tail.map { case (id, q) => (id, q, dist2(q, sorted.head._2)) }
    while (chosen.size < k && rest.nonEmpty) {
      val pick = rest.minBy { case (id, _, md) => (-md, id) }
      chosen += ((pick._1, pick._2))
      rest = rest.filter(_._1 != pick._1)
        .map { case (id, q, md) => (id, q, math.min(md, dist2(q, pick._2))) }
    }
    chosen.toSeq.zipWithIndex.map { case ((_, q), i) => Centroid(i, 1L, q) }
  }

  /** The Lloyd core over an already-quantized `(vec_id, q)` frame of
    * width `d`: maximin seeds from the bounded residue-class pool
    * ([[maximinSeeds]], [[SeedPool]]), then `iters` assignment rounds
    * with re-training (and empty-cell retention) between them.
    * Checkpoints the q-frame once: it feeds every round plus the
    * caller's aggregation, and a lineage re-read would re-quantize per
    * use (see MinHash.nearDupPairs for the cache-vs-checkpoint note). */
  private def lloydAssign(qf0: DataFrame, k: Int, iters: Int, d: Int,
      maximin: Boolean = true, materialize: Boolean = true): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // materialize = false lets a caller that ALREADY checkpointed the
    // q-frame (to share it across several trainers — see
    // Sim.ivfPqAdcPairs) skip a second full block copy here
    val qf = if (materialize) qf0.localCheckpoint(false) else qf0
    val poolN = if (maximin) math.max(k, SeedPool) else k
    def collectPool(df: DataFrame): IndexedSeq[(Long, Array[Long])] =
      df.orderBy(col("vec_id")).limit(poolN).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toIndexedSeq
    val pool =
      if (maximin) {
        // corpus-spread pool: ceil-stride residue class anchored at the
        // minimum id (exact integer arithmetic, replayed by the
        // oracle's ps CTE); the count/min pass is over the checkpointed
        // q-frame, so it costs one bounded agg, not a re-quantization
        val fr = qf.agg(count(lit(1)), min(col("vec_id"))).head()
        if (fr.getLong(0) == 0L) IndexedSeq.empty[(Long, Array[Long])]
        else {
          val stride = math.max(1L, (fr.getLong(0) + poolN - 1) / poolN)
          val res = qf.filter((col("vec_id") - lit(fr.getLong(1))) % lit(stride) === lit(0L))
          // membership tests id VALUES, so a sparse/hashed id space can
          // collapse the residue class to far fewer members than poolN
          // (only the minimum id is guaranteed) — below k members the
          // maximin pass cannot even produce k seeds, so fall back to
          // the lowest-id pool. The k-member probe rides the pool
          // collect itself: poolN ≥ k, so a short residue-class collect
          // IS the collapse proof — one bounded driver action here
          // instead of a separate limit(k).count() round-trip
          val p = collectPool(res)
          if (p.size < k) collectPool(qf) else p
        }
      } else collectPool(qf)
    val seeds =
      if (maximin) maximinSeeds(pool, k)
      else pool.take(k).zipWithIndex.map { case ((_, q), i) => Centroid(i, 1L, q) }.toSeq
    var cens = seeds
    var assigned = qf.withColumn("cell", assignCol(col("q"), cens))
    (2 to iters).foreach { _ =>
      cens = update(assigned, cens, d)
      assigned = qf.withColumn("cell", assignCol(col("q"), cens))
    }
    assigned
  }

  /** Quantized frame with its final cluster label after `iters`
    * assignment rounds, or None on an empty/all-zero table. */
  private def assignedFrame(embeddings: DataFrame, k: Int,
      iters: Int): Option[(DataFrame, Int)] =
    quantized(embeddings).map { case (qf0, d) =>
      (lloydAssign(qf0, k, iters, d), d)
    }

  /** Cluster labels: `(vec_id, cell)` after `iters` Lloyd rounds. */
  def kmeansAssign(embeddings: DataFrame, k: Int = 8, iters: Int = 2): DataFrame =
    assignedFrame(embeddings, k, iters) match {
      case Some((assigned, _)) => assigned.select(col("vec_id"), col("cell"))
      case None =>
        val spark = embeddings.sparkSession
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("vec_id", LongType), StructField("cell", IntegerType))))
    }

  /** The pre-maximin seeding (first k vectors by vec_id), kept ONLY as
    * the ClusterSpec baseline that the SSE-improvement gate measures
    * against — not reachable from any registered query. */
  private[graft] def kmeansAssignFirstKSeeds(embeddings: DataFrame, k: Int,
      iters: Int): DataFrame =
    quantized(embeddings) match {
      case Some((qf0, d)) =>
        lloydAssign(qf0, k, iters, d, maximin = false).select(col("vec_id"), col("cell"))
      case None =>
        val spark = embeddings.sparkSession
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("vec_id", LongType), StructField("cell", IntegerType))))
    }

  /** ONE keyed aggregation from an assigned `(vec_id, q, cell)` frame to
    * the occupancy long form `(cell, dim, s, n, mean)` — the shape every
    * trained-state producer emits and [[centroidState]] reads back. */
  private def occupancyLongForm(assigned: DataFrame, d: Int): DataFrame = {
    val aggs = (count(lit(1)).as("n") +:
      (1 to d).map(i => sum(el(col("q"), i)).as(s"s$i"))).toList
    assigned.groupBy(col("cell")).agg(aggs.head, aggs.tail: _*)
      .select(col("cell"), col("n"),
        posexplode(array((1 to d).map(i => col(s"s$i")): _*)).as(Seq("pos", "s")))
      .select(col("cell"), (col("pos") + 1).cast(IntegerType).as("dim"),
        col("s"), col("n"),
        (col("s").cast(DoubleType) / col("n").cast(DoubleType)).as("mean"))
  }

  private def emptyLongForm(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("cell", IntegerType), StructField("dim", IntegerType),
        StructField("s", LongType), StructField("n", LongType),
        StructField("mean", DoubleType))))
  }

  /** Trained-centroid table in long form: one row per NON-EMPTY final
    * cell and dimension — exact component sum `s`, member count `n`, and
    * the IEEE mean `s/n`. (Empty-cell retention only matters BETWEEN
    * rounds; a cell nothing chose has no trained mean to report.) */
  def kmeansCentroids(embeddings: DataFrame, k: Int = 8, iters: Int = 2): DataFrame =
    assignedFrame(embeddings, k, iters) match {
      case Some((assigned, d)) => occupancyLongForm(assigned, d)
      case None                => emptyLongForm(embeddings)
    }

  /** The 100 TB training regime the object doc promises, as a concrete
    * entry point: Lloyd trains on the DETERMINISTIC residue class
    * `vec_id % sampleMod = 0` (grid scale ALSO sample-derived — the
    * trained centroids live on the SAMPLE's grid, the
    * [[Sim.ivfTopKTrained]] `gridScale` contract), then the FULL corpus
    * is assigned in ONE narrow pass against the trained state and
    * aggregated to the usual long form `(cell, dim, s, n, mean)` — now
    * describing the full-corpus occupancy of the sample-trained cells.
    *
    * Scale shape: training cost shrinks by ~sampleMod× (every Lloyd
    * pass scans n/sampleMod rows; the k-row shuffle state is unchanged)
    * while the full-corpus pass is the identical narrow
    * assignment+groupBy any full training's LAST round performs — the
    * FAISS train-on-sample/assign-everything split. The residue class
    * (not Spark's `sample()`) keeps the sample engine-agnostic, so a
    * SQL twin replays training bit-for-bit (the contamination oracle
    * already replays exactly this `WHERE` restriction).
    *
    * Full-corpus q components may exceed the sample's [-127,127] range
    * (the grid is sample-derived); sums stay exact int64 and the 2⁵³
    * scoring bound is guarded in [[exactNsq]]. Width is cross-checked:
    * a full corpus wider/narrower than the sample fails fast. */
  def kmeansCentroidsSampled(embeddings: DataFrame, k: Int = 8, iters: Int = 2,
      sampleMod: Int = 10): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be positive, got $sampleMod")
    val sample = embeddings.filter(col("vec_id") % sampleMod === 0)
    grid(sample) match {
      case Some((scale, d)) =>
        grid(embeddings).foreach { case (_, dFull) =>
          require(dFull == d,
            s"full-corpus width $dFull != training-sample width $d") }
        val assignedSample =
          lloydAssign(sample.select(col("vec_id"), qCol(scale).as("q")), k, iters, d)
        val state = centroidStateOf(assignedSample, d)
        val full = embeddings.select(col("vec_id"), qCol(scale).as("q"))
          .withColumn("cell", assignCol(col("q"), state))
        occupancyLongForm(full, d)
      case None => emptyLongForm(embeddings)
    }
  }

  /** Grid scale of the `vec_id % sampleMod = 0` training sample — what a
    * downstream [[Sim.ivfTopKTrained]] search over the FULL corpus must
    * pass as `gridScale` so probes quantize onto the trained grid. */
  def sampledGridScale(embeddings: DataFrame, sampleMod: Int): Option[Double] =
    grid(embeddings.filter(col("vec_id") % sampleMod === 0)).map(_._1)

  /** Incremental index maintenance — FAISS `add()` as a first-class
    * operator: encode a DELTA frame against a SHIPPED quantizer (the
    * [[centroidState]] long-form table + the trainer's `gridScale`)
    * WITHOUT retraining, emitting the delta's occupancy of the trained
    * cells in the usual long form. This is the streaming-ingest story
    * for the vector stack: the quantizer trains once (on a bounded
    * sample — [[kmeansCentroidsSampled]]'s regime), and every new batch
    * of vectors is ONE stateless-narrow quantize+argmin pass plus ONE
    * k-row aggregation against that fixed state.
    *
    * Because assignment is per-vector against FIXED state, occupancies
    * COMPOSE exactly: `mergeOccupancy(indexAdd(A), indexAdd(B)) ≡
    * indexAdd(A ∪ B)` bit-for-bit (exact int64 sums + counts; the IEEE
    * mean re-derives from the merged integers) — the add+search ≡
    * full-re-encode contract, driver-hash-checked as `index_add` and
    * ExtSpec-asserted, including on a MemoryStream delta. */
  def indexAdd(delta: DataFrame, centroids: DataFrame, gridScale: Double): DataFrame = {
    require(gridScale > 0, s"gridScale must be positive, got $gridScale")
    val state = centroidState(centroids)
    if (state.isEmpty) return emptyLongForm(delta)
    val d = state.head.s.length
    val encoded = delta.select(col("vec_id"), qCol(gridScale).as("q"))
      .withColumn("cell", assignCol(col("q"), state))
    occupancyLongForm(encoded, d)
  }

  /** Exact merge of any number of occupancy long-form frames over the
    * SAME quantizer: per (cell, dim) the int64 component sums and member
    * counts add, and the mean re-derives from the merged integers — so
    * merged delta encodes are bit-identical to one encode of the union
    * (the [[indexAdd]] composition contract). A cell occupied by some
    * states passes through; a cell occupied by none stays absent (the
    * non-empty-cells-only convention of every producer). */
  def mergeOccupancy(states: DataFrame*): DataFrame =
    States.merge(states, Seq("cell", "dim"), "s" -> States.Sum, "n" -> States.Sum)
      .select(col("cell"), col("dim"), col("s"), col("n"),
        (col("s").cast(DoubleType) / col("n").cast(DoubleType)).as("mean"))

  /** Rebuild exact centroid state from a [[kmeansCentroids]]-shaped long
    * frame — the bounded k·d-row collect a trained-IVF search performs
    * ([[Sim.ivfTopKTrained]]'s "broadcast the k-row table" contract).
    *
    * Fails FAST on a malformed frame (the same discipline as the ragged-
    * embedding guard in [[grid]]): every cell must carry a contiguous
    * 1..d dim set with ONE member count, and d must be uniform across
    * cells — a filtered or truncated centroid table would otherwise
    * zero-fill missing dims and route every search silently wrong. */
  def centroidState(centroids: DataFrame): Seq[Centroid] = {
    val state = centroids.select(col("cell"), col("dim"), col("s"), col("n"))
      .collect()
      .groupBy(_.getInt(0)).toSeq
      .map { case (cell, rows) =>
        val dims = rows.map(_.getInt(1)).sorted
        require(dims.sameElements(1 to dims.length),
          s"centroid cell $cell has non-contiguous dims ${dims.mkString(",")} — " +
            "expected exactly 1..d (filtered or truncated centroid frame?)")
        require(rows.map(_.getLong(3)).distinct.length == 1,
          s"centroid cell $cell carries conflicting member counts " +
            s"${rows.map(_.getLong(3)).distinct.sorted.mkString(",")}")
        val d = dims.length
        val s = new Array[Long](d)
        rows.foreach(r => s(r.getInt(1) - 1) = r.getLong(2))
        Centroid(cell, rows.head.getLong(3), s)
      }
      .sortBy(_.cell)
    require(state.map(_.s.length).distinct.length <= 1,
      s"centroid cells disagree on width d: ${state.map(c => s"${c.cell}:${c.s.length}").mkString(",")}")
    state
  }

  /** Product-quantization codes — the vector-compression companion to
    * the coarse quantizer, completing the FAISS-style stack (IVF routes,
    * PQ compresses): the d-dim grid splits into `m` contiguous
    * subspaces of d/m dims, an independent exact-Lloyd codebook trains
    * per subspace on the SAME global int8 grid, and each vector's code
    * is its per-subspace argmin cell — m small integers (m·log₂k bits)
    * in place of d floats, the 100 TB embedding-storage move.
    *
    * Long-form output `(vec_id, subspace, cell)`: deterministic,
    * hash-checkable, and the natural layout for an asymmetric-distance
    * scorer (per-subspace lookup tables against the codebook).
    *
    * Exactness is inherited wholesale: each subspace runs the identical
    * seeded Lloyd recursion ([[lloydAssign]]) over its q-slice, so a
    * SQL twin replays every subspace bit-for-bit; `pqCodes(m = 1)`
    * IS [[kmeansAssign]] (asserted in ClusterSpec). Scale shape: ONE
    * quantization pass (checkpointed), then per subspace the usual
    * iters narrow passes + iters k-row shuffles — m·iters tiny jobs,
    * still zero joins; codes union narrowly. */
  def pqCodes(embeddings: DataFrame, m: Int = 4, k: Int = 8, iters: Int = 2): DataFrame =
    pqAssignedFrames(embeddings, m, k, iters) match {
      case Some((subs, _)) =>
        subs.zipWithIndex.map { case (assigned, s) =>
          assigned.select(col("vec_id"), lit(s).cast(IntegerType).as("subspace"), col("cell"))
        }.reduce(_.unionByName(_))
      case None =>
        val spark = embeddings.sparkSession
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("vec_id", LongType),
            StructField("subspace", IntegerType), StructField("cell", IntegerType))))
    }

  /** Per-subspace assigned q-slice frames (each `(vec_id, q, cell)` of
    * width d/m), or None on an empty/all-zero table.
    *
    * All m subspaces train FUSED: one projection assigns every
    * subspace's argmin (m independent [[KMeansArgmin]] columns over the
    * q-slices), and each Lloyd update is ONE exploded `(subspace, cell)`
    * aggregation re-training every codebook — iters total shuffles for
    * the whole PQ training instead of m·iters, which is what keeps
    * production m (8–16 subspaces) from multiplying job count. The
    * per-subspace sums are the identical exact int64 state the
    * sequential form produces (and the oracle replays per subspace). */
  private def pqAssignedFrames(embeddings: DataFrame, m: Int, k: Int,
      iters: Int): Option[(Seq[DataFrame], Int)] = {
    requirePqParams(m, k, iters) // fail loudly even on an empty/all-zero corpus
    quantized(embeddings).map { case (qf0, d) =>
      pqAssignedFromQ(qf0, d, m, k, iters)
    }
  }

  /** Parameter validation shared by every PQ entry point, run BEFORE the
    * corpus is touched: invalid arguments must throw on an empty or
    * all-zero table too, not silently return an empty result (the
    * fail-fast ordering the r10 refactor regressed). */
  private def requirePqParams(m: Int, k: Int, iters: Int): Unit = {
    require(m >= 1, s"m must be positive, got $m")
    require(k >= 2, s"k must be >= 2, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
  }

  /** The fused per-subspace Lloyd core over an ALREADY-PREPARED integer
    * frame `(vec_id, q)` of width `d` — shared by the raw-grid path
    * ([[pqAssignedFrames]]) and the residual path ([[residualPqState]]),
    * which feed it q-grid and residual-grid integers respectively. */
  private def pqAssignedFromQ(qf0: DataFrame, d: Int, m: Int, k: Int,
      iters: Int, materialize: Boolean = true): (Seq[DataFrame], Int) = {
    require(m >= 1, s"m must be positive, got $m")
    require(k >= 2, s"k must be >= 2, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    locally {
      require(d % m == 0, s"embedding width $d is not divisible into $m subspaces")
      val dsub = d / m
      // materialize = false: caller already checkpointed (see lloydAssign)
      val qf = if (materialize) qf0.localCheckpoint(false) else qf0
      // ONE seeds collect: the k lowest-vec_id vectors, sliced per
      // subspace driver-side
      val seedRows = qf.orderBy(col("vec_id")).limit(k).collect()
      var states: IndexedSeq[Seq[Centroid]] = (0 until m).map { s =>
        seedRows.zipWithIndex.map { case (r, i) =>
          Centroid(i, 1L,
            r.getSeq[Long](1).slice(s * dsub, (s + 1) * dsub).toArray)
        }.toSeq
      }.toIndexedSeq
      def assignAll(): DataFrame = qf.select(col("vec_id") +: col("q") +:
        (0 until m).map(s =>
          KMeansCells.argmin(slice(col("q"), s * dsub + 1, dsub),
            exprState(states(s))).as(s"c$s")): _*)
      var assigned = assignAll()
      (2 to iters).foreach { _ =>
        val exploded = assigned.select(explode(array((0 until m).map(s =>
            struct(lit(s).as("sub"), col(s"c$s").as("cell"),
              slice(col("q"), s * dsub + 1, dsub).as("qs"))): _*)).as("e"))
          .select(col("e.sub").as("sub"), col("e.cell").as("cell"),
            col("e.qs").as("qs"))
        val aggs = (count(lit(1)).as("n") +:
          (1 to dsub).map(i => sum(el(col("qs"), i)).as(s"s$i"))).toList
        val got = exploded.groupBy(col("sub"), col("cell"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
          .map(r => (r.getInt(0), Centroid(r.getInt(1), r.getLong(2),
            Array.tabulate(dsub)(i => r.getLong(3 + i)))))
          .groupBy(_._1)
          .map { case (s, rows) => s -> rows.map(t => t._2.cell -> t._2).toMap }
        states = (0 until m).map(s =>
          states(s).map(c => got.getOrElse(s, Map.empty[Int, Centroid])
            .getOrElse(c.cell, c))).toIndexedSeq
        assigned = assignAll()
      }
      val fused = assigned.localCheckpoint(false)
      val subs = (0 until m).map(s => fused.select(col("vec_id"),
        slice(col("q"), s * dsub + 1, dsub).as("q"), col(s"c$s").as("cell")))
      (subs, dsub)
    }
  }

  /** OPQ-lite: a variance-balancing DIMENSION PERMUTATION applied to
    * the embedding before PQ — the cheap, SQL-replayable core of OPQ
    * (Ge et al., "Optimized Product Quantization": learn a rotation so
    * every subspace carries comparable variance; the permutation is
    * the rotation restricted to coordinate swaps). Contiguous slicing
    * can strand all the discriminative variance in one subspace, which
    * then burns its kSub cells on structure the other m−1 subspaces
    * never see; sorting dimensions by variance and dealing them
    * ROUND-ROBIN across subspaces (rank rn → subspace rn % m, slot
    * rn / m) gives every subspace one dimension from each variance
    * tier at identical bits.
    *
    * Determinism/replay contract: per-dimension variance is ranked by
    * the exact int64 metric `n·Σq² − (Σq)²` over the global int8 grid
    * (floats would rank differently across engines; the metric is
    * n²·Var, monotone in variance), ties to the lower dimension — the
    * oracle's `ods`/`opm` CTEs replay the ranking and the permuted
    * frame exactly. Overflow past int64 fails LOUDLY (bound ~2.4·10⁷
    * rows at |q| ≤ 127 — past it, derive the permutation on a bounded
    * residue-class sample, the [[kmeansCentroidsSampled]] discipline).
    *
    * Scale shape: ONE 2d+1-column aggregation collects a single row of
    * bounded stats; the permuted projection is stateless-narrow. Dot
    * products and norms are permutation-invariant, so a permuted
    * search's neighbor ids compare directly against the unpermuted
    * brute-force truth. Empty/all-zero corpora pass through
    * unchanged. */
  def opqPermute(embeddings: DataFrame, m: Int): DataFrame =
    opqPermuteWithGrid(embeddings, m, grid(embeddings))

  /** [[opqPermute]] with the grid supplied by a caller that already
    * derived it (the grid is permutation-invariant, so the OPQ searcher
    * shares ONE derivation between the permutation stats and its own
    * trainers instead of scanning the corpus for it twice more). */
  private[ext] def opqPermuteWithGrid(embeddings: DataFrame, m: Int,
      gridOpt: Option[(Double, Int)]): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    gridOpt match {
      case None => embeddings
      case Some((scale, d)) =>
        require(d % m == 0, s"embedding width $d is not divisible into $m subspaces")
        val dsub = d / m
        val qf = embeddings.select(col("vec_id"), qCol(scale).as("q"))
        val aggs = (count(lit(1)).as("n") +:
          (1 to d).flatMap(i => Seq(
            sum(el(col("q"), i)).as(s"sx$i"),
            sum(el(col("q"), i) * el(col("q"), i)).as(s"sxx$i")))).toList
        val row = qf.agg(aggs.head, aggs.tail: _*).head()
        val n = row.getLong(0)
        val vm = Array.tabulate(d) { j =>
          val sx = row.getLong(1 + 2 * j); val sxx = row.getLong(2 + 2 * j)
          try Math.subtractExact(Math.multiplyExact(n, sxx), Math.multiplyExact(sx, sx))
          catch {
            case _: ArithmeticException => throw new IllegalArgumentException(
              s"dim ${j + 1} (n=$n): n*Σq² overflows int64 — derive the " +
                "permutation on a bounded residue-class sample instead")
          }
        }
        val sorted = (1 to d).sortWith((a, b) =>
          vm(a - 1) > vm(b - 1) || (vm(a - 1) == vm(b - 1) && a < b))
        // src(pos) = the original 1-based dimension landing at pos
        val src = Array.ofDim[Int](d + 1)
        sorted.zipWithIndex.foreach { case (dim, rn) =>
          src((rn % m) * dsub + rn / m + 1) = dim
        }
        embeddings.select(col("vec_id"),
          array((1 to d).map(p => col("embedding")(src(p) - 1)): _*).as("embedding"))
    }
  }

  /** Trained PQ codebook in long form: one row per subspace, NON-EMPTY
    * final cell and dimension — exact component sum `s`, member count
    * `n`, IEEE mean `s/n` (the [[kmeansCentroids]] contract per
    * subspace). This is the table an asymmetric-distance scorer
    * ([[Sim.ivfPqTopK]]) collects: m·k·(d/m) bounded rows. */
  def pqCodebook(embeddings: DataFrame, m: Int = 4, k: Int = 8, iters: Int = 2): DataFrame =
    pqAssignedFrames(embeddings, m, k, iters) match {
      case Some((subs, dsub)) =>
        // every subspace's final state in ONE keyed aggregation (the
        // same fusion as training's update step)
        val exploded = subs.zipWithIndex.map { case (df, s) =>
          df.select(lit(s).cast(IntegerType).as("subspace"), col("cell"),
            col("q").as("qs"))
        }.reduce(_.unionByName(_))
        val aggs = (count(lit(1)).as("n") +:
          (1 to dsub).map(i => sum(el(col("qs"), i)).as(s"s$i"))).toList
        exploded.groupBy(col("subspace"), col("cell")).agg(aggs.head, aggs.tail: _*)
          .select(col("subspace"), col("cell"), col("n"),
            posexplode(array((1 to dsub).map(i => col(s"s$i")): _*)).as(Seq("pos", "s")))
          .select(col("subspace"), col("cell"),
            (col("pos") + 1).cast(IntegerType).as("dim"),
            col("s"), col("n"),
            (col("s").cast(DoubleType) / col("n").cast(DoubleType)).as("mean"))
      case None =>
        val spark = embeddings.sparkSession
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("subspace", IntegerType), StructField("cell", IntegerType),
            StructField("dim", IntegerType), StructField("s", LongType),
            StructField("n", LongType), StructField("mean", DoubleType))))
    }

  // ---- residual product quantization (FAISS IVFPQ proper) ------------

  /** Bundled residual-PQ training state — everything an asymmetric-
    * distance searcher needs, all bounded driver memory: the coarse
    * quantizer's final non-empty cells, the residual grid scale, and the
    * per-subspace codebooks TRAINED ON RESIDUALS (vector − its coarse
    * centroid), re-quantized onto their own int8 grid.
    *
    * `cmFlat` is the coarse mean table flattened row-major
    * (`cmFlat(cell·d + j−1) = s_j/n`, zero-filled for absent cells — an
    * argmin can never emit one), the exact layout both the trainer's and
    * the searcher's residual expressions look up, so the two sides
    * compute residuals from the SAME IEEE doubles. */
  private[graft] final case class ResidualPqState(scale: Double, d: Int, dsub: Int,
      coarse: Seq[Centroid], cmFlat: IndexedSeq[Double], rscale: Double,
      subs: Seq[Seq[Centroid]])

  /** Final non-empty exact state of an assigned frame — the `g2`
    * aggregation of the oracle twins, collected (bounded k rows). */
  private def finalStateOf(assigned: DataFrame, d: Int): Seq[Centroid] = {
    val aggs = (count(lit(1)).as("n") +:
      (1 to d).map(i => sum(el(col("q"), i)).as(s"s$i"))).toList
    assigned.groupBy(col("cell")).agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => Centroid(r.getInt(0), r.getLong(1),
        Array.tabulate(d)(i => r.getLong(2 + i))))
      .sortBy(_.cell).toIndexedSeq
  }

  /** Collected per-subspace final codebook states (the `s{s}_g2`
    * aggregations) in ONE fused keyed aggregation — m·k bounded rows. */
  private def pqSubStates(subs: Seq[DataFrame], dsub: Int): Seq[Seq[Centroid]] = {
    val exploded = subs.zipWithIndex.map { case (df, s) =>
      df.select(lit(s).cast(IntegerType).as("subspace"), col("cell"), col("q").as("qs"))
    }.reduce(_.unionByName(_))
    val aggs = (count(lit(1)).as("n") +:
      (1 to dsub).map(i => sum(el(col("qs"), i)).as(s"s$i"))).toList
    val got = exploded.groupBy(col("subspace"), col("cell")).agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => (r.getInt(0), Centroid(r.getInt(1), r.getLong(2),
        Array.tabulate(dsub)(i => r.getLong(3 + i)))))
      .groupBy(_._1)
    subs.indices.map(s =>
      got.getOrElse(s, Array.empty[(Int, Centroid)]).map(_._2).sortBy(_.cell).toSeq)
  }

  /** Row-major flattened IEEE mean table of a centroid state
    * (`(maxCell+1)·d` doubles, zero-filled gaps). */
  private def flatMeans(state: Seq[Centroid], d: Int): IndexedSeq[Double] = {
    val byCell = state.map(c => c.cell -> c).toMap
    val maxCell = state.map(_.cell).max
    (0 to maxCell).flatMap(c => byCell.get(c) match {
      case Some(cen) => cen.s.toIndexedSeq.map(x => x.toDouble / cen.n.toDouble)
      case None => IndexedSeq.fill(d)(0.0)
    })
  }

  /** Residual-PQ training — FAISS IVFPQ proper, where the codebook
    * quantizes the RESIDUAL `x − centroid(cell(x))` rather than the raw
    * vector, which is what makes small codebooks accurate at high
    * coarseK (the residual's spread is a cell's diameter, not the whole
    * corpus's):
    *
    *  1. coarse Lloyd as usual ([[lloydAssign]]); every vector keeps its
    *     final argmin cell.
    *  2. residual per vector: `r_j = q_j − s_j(cell)/n(cell)` — the
    *     int64 grid component minus the coarse IEEE mean, element-wise
    *     deterministic doubles (no accumulation, so partition-order
    *     safe).
    *  3. the residuals are re-quantized onto THEIR OWN int8 grid
    *     (`rscale = max|r| / 127`, one order-independent max) — back to
    *     exact integers, so the per-subspace Lloyd training that follows
    *     ([[pqAssignedFromQ]]) keeps the bit-replayable exact-int64-sum
    *     contract; an all-zero residual corpus (every vector IS its
    *     centroid) degrades to all-zero codes rather than 0/0.
    *
    * A SQL twin replays the whole chain: same assignment, same IEEE
    * mean/subtraction, same max-derived grid, same seeded Lloyd on the
    * residual integers. Scale shape: coarse training as
    * [[kmeansCentroids]], plus ONE narrow residual projection and the
    * fused PQ training's iters shuffles — no joins anywhere. */
  private[graft] def residualPqState(embeddings: DataFrame, m: Int, kSub: Int,
      iters: Int, coarseK: Int): Option[ResidualPqState] = {
    requirePqParams(m, kSub, iters) // before the corpus is touched (fail-fast)
    require(coarseK >= 2, s"coarseK must be >= 2, got $coarseK")
    grid(embeddings).map { case (scale, d) =>
      require(d % m == 0, s"embedding width $d is not divisible into $m subspaces")
      val qf = embeddings.select(col("vec_id"), qCol(scale).as("q"))
      val assigned = lloydAssign(qf, coarseK, iters, d).localCheckpoint(false)
      val coarse = finalStateOf(assigned, d)
      coarse.foreach(exactNsq) // same 2⁵³ scoring bound as every consumer
      val cm = flatMeans(coarse, d)
      // Residuals are computed against the SHIPPED quantizer: one more
      // narrow argmin pass re-assigns every vector against the FINAL
      // trained table (the FAISS add() path). The last training
      // assignment is NOT equivalent — it scored against the previous
      // round's centroids, while search routing scores against the
      // final table, and the two argmins disagree for boundary vectors;
      // encoding must use the search's cell or ADC reconstructs against
      // the wrong coarse mean.
      val encoded = assigned.drop("cell")
        .withColumn("cell", assignCol(col("q"), coarse))
      val rCol = array((1 to d).map(j => el(col("q"), j).cast(DoubleType) -
        element_at(typedlit(cm), col("cell") * d + j)): _*)
      val withR = encoded.withColumn("r", rCol)
      val rmax = withR.agg(max(array_max(transform(col("r"), x => abs(x))))).first()
      val rscale = if (rmax.isNullAt(0)) 0.0 else rmax.getDouble(0) / 127.0
      val rqCol =
        if (rscale == 0.0) array((1 to d).map(_ => lit(0L)): _*)
        else transform(col("r"), x => floor(x / lit(rscale) + lit(0.5)).cast(LongType))
      val (subFrames, dsub) =
        pqAssignedFromQ(withR.select(col("vec_id"), rqCol.as("q")), d, m, kSub, iters)
      ResidualPqState(scale, d, dsub, coarse, cm, rscale, pqSubStates(subFrames, dsub))
    }
  }

  /** Trained RESIDUAL codebook in the [[pqCodebook]] long form
    * `(subspace, cell, dim, s, n, mean)` — sums/counts are over the
    * residual-grid integers. The rows come from the bounded collected
    * training state (m·k·(d/m) values, the same driver-memory contract
    * as [[centroidState]]), exposed as a frame for the oracle gate. */
  def pqCodebookResidual(embeddings: DataFrame, m: Int = 4, kSub: Int = 8,
      iters: Int = 2, coarseK: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    residualPqState(embeddings, m, kSub, iters, coarseK) match {
      case Some(st) =>
        import spark.implicits._
        st.subs.zipWithIndex.flatMap { case (cells, s) =>
          cells.flatMap(c => (1 to st.dsub).map(i =>
            (s, c.cell, i, c.s(i - 1), c.n, c.s(i - 1).toDouble / c.n.toDouble)))
        }.toDF("subspace", "cell", "dim", "s", "n", "mean")
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("subspace", IntegerType), StructField("cell", IntegerType),
            StructField("dim", IntegerType), StructField("s", LongType),
            StructField("n", LongType), StructField("mean", DoubleType))))
    }
  }

  /** The complete 100 TB FAISS TRAINING regime for the residual stack:
    * BOTH quantizers (coarse cells and residual codebooks) train on the
    * deterministic residue class `vec_id % sampleMod = 0`, and the FULL
    * corpus is then encoded in narrow passes against the trained state —
    * the [[kmeansCentroidsSampled]] split applied to the whole IVFPQ
    * pipeline:
    *
    *  1. grid scale, coarse Lloyd and the residual grid
    *     (`rscale = max|r_sample|/127`) all derive from the SAMPLE (the
    *     trained state must not depend on corpus bytes it never saw);
    *  2. the full corpus quantizes on the sample grid, coarse-encodes
    *     against the trained cells (the a3 shipped-quantizer pass),
    *     computes residuals against those cells' means;
    *  3. per-subspace Lloyd trains on the SAMPLE residuals only;
    *  4. the full corpus PQ-encodes against the trained codebooks, and
    *     the output is the FULL-CORPUS OCCUPANCY of the sample-trained
    *     codebooks in [[pqCodebook]] long form — training cost shrinks
    *     ~sampleMod×, the encode is the narrow argmin+groupBy any full
    *     training's last round performs.
    *
    * Full-corpus residual components may exceed the sample's [-127,127]
    * range (the grids are sample-derived — same documented caveat as
    * [[kmeansCentroidsSampled]]); sums stay exact int64 and the whole
    * chain replays in SQL (the oracle restricts the training CTEs with
    * the same `WHERE` residue). */
  def pqCodebookResidualSampled(embeddings: DataFrame, m: Int = 4, kSub: Int = 8,
      iters: Int = 2, coarseK: Int = 8, sampleMod: Int = 10): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be positive, got $sampleMod")
    requirePqParams(m, kSub, iters) // before the corpus is touched (fail-fast)
    require(coarseK >= 2, s"coarseK must be >= 2, got $coarseK")
    val spark = embeddings.sparkSession
    def emptyOut = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("subspace", IntegerType), StructField("cell", IntegerType),
        StructField("dim", IntegerType), StructField("s", LongType),
        StructField("n", LongType), StructField("mean", DoubleType))))
    val sample = embeddings.filter(col("vec_id") % sampleMod === 0)
    grid(sample) match {
      case Some((scale, d)) =>
        require(d % m == 0, s"embedding width $d is not divisible into $m subspaces")
        grid(embeddings).foreach { case (_, dFull) =>
          require(dFull == d,
            s"full-corpus width $dFull != training-sample width $d") }
        val dsub = d / m
        // 1. sample-trained coarse quantizer
        val assignedS = lloydAssign(
          sample.select(col("vec_id"), qCol(scale).as("q")), coarseK, iters, d)
        val coarse = finalStateOf(assignedS, d)
        coarse.foreach(exactNsq)
        val cm = flatMeans(coarse, d)
        // 2. full corpus on the sample grid, coarse-encoded (a3 pass)
        val encodedF = embeddings.select(col("vec_id"), qCol(scale).as("q"))
          .withColumn("cell", assignCol(col("q"), coarse))
        val rCol = array((1 to d).map(j => el(col("q"), j).cast(DoubleType) -
          element_at(typedlit(cm), col("cell") * d + j)): _*)
        val withR = encodedF.withColumn("r", rCol).localCheckpoint(false)
        // residual grid from the TRAINING SAMPLE's residuals only
        val rmax = withR.filter(col("vec_id") % sampleMod === 0)
          .agg(max(array_max(transform(col("r"), x => abs(x))))).first()
        val rscale = if (rmax.isNullAt(0)) 0.0 else rmax.getDouble(0) / 127.0
        val rqCol =
          if (rscale == 0.0) transform(col("r"), _ => lit(0L))
          else transform(col("r"), x => floor(x / lit(rscale) + lit(0.5)).cast(LongType))
        val rqF = withR.select(col("vec_id"), rqCol.as("q")).localCheckpoint(false)
        // 3. codebooks train on the SAMPLE residuals
        val (subFrames, _) = pqAssignedFromQ(
          rqF.filter(col("vec_id") % sampleMod === 0), d, m, kSub, iters)
        val states = pqSubStates(subFrames, dsub)
        if (states.exists(_.isEmpty)) return emptyOut
        // 4. full-corpus PQ encode + occupancy in ONE exploded keyed agg
        val exploded = rqF.select(explode(array((0 until m).map { s =>
            val sl = slice(col("q"), s * dsub + 1, dsub)
            struct(lit(s).as("sub"),
              KMeansCells.argmin(sl, exprStateOf(states(s))).as("cell"),
              sl.as("qs"))
          }: _*)).as("e"))
          .select(col("e.sub").as("subspace"), col("e.cell").as("cell"),
            col("e.qs").as("qs"))
        val aggs = (count(lit(1)).as("n") +:
          (1 to dsub).map(i => sum(el(col("qs"), i)).as(s"s$i"))).toList
        exploded.groupBy(col("subspace"), col("cell")).agg(aggs.head, aggs.tail: _*)
          .select(col("subspace"), col("cell"), col("n"),
            posexplode(array((1 to dsub).map(i => col(s"s$i")): _*)).as(Seq("pos", "s")))
          .select(col("subspace"), col("cell"),
            (col("pos") + 1).cast(IntegerType).as("dim"),
            col("s"), col("n"),
            (col("s").cast(DoubleType) / col("n").cast(DoubleType)).as("mean"))
      case None => emptyOut
    }
  }

  /** Expression-state tuples from exact centroids — same fail-loud 2⁵³
    * guard as [[exprState]]: a residual-codebook cell whose |s|² exceeds
    * the bound would silently round in the int64→double cast and break
    * oracle bit-parity without an error (r10 ADVICE), so every scorer
    * path shares the guard. */
  private[ext] def exprStateOf(cens: Seq[Centroid]): Seq[(Int, Double, Double, Seq[Long])] =
    cens.map(c => (c.cell, c.n.toDouble, nsqOverN2(c), c.s.toIndexedSeq))

  /** Semantic (embedding-space) contamination audit, cluster-routed —
    * the trained-quantizer edition of [[Corpus.bloomContamination]]'s
    * stream-static discipline: which PROBE vectors are near-duplicates
    * of a held-out EVAL set?
    *
    * Train-side (static, plan-build time): k-means trains on the EVAL
    * embeddings — grid scale, centroid state and the eval index are all
    * bounded driver/broadcast state, the same contract as the Bloom
    * filter's bit array. Each eval vector is INDEXED in its final
    * argmin cell.
    *
    * Probe-side (batch OR STREAMING — every step is stateless-narrow):
    * each probe vector quantizes onto the EVAL grid, probes its
    * `nProbe` nearest trained cells
    * ([[org.apache.spark.sql.graft.KMeansProbe]]), and stream-static
    * equi-joins on the cell against the indexed eval side (a broadcast
    * of the bounded eval set — no streaming state, no watermark,
    * append-safe). Full-precision cosine over the ORIGINAL floats
    * gates the verdict; rows are `(vec_id, eval_id, cosine)` matches.
    * The cluster routing replaces the n·|eval| all-pairs check with
    * n·(|eval|/k)·nProbe expected comparisons — the IVF recall/cost
    * lever applied to decontamination. */
  def semanticContamination(probe: DataFrame, eval: DataFrame, k: Int = 8,
      iters: Int = 2, threshold: Double = 0.30, nProbe: Int = 2): DataFrame = {
    import org.apache.spark.sql.graft.DotProduct.dot
    val trained = for {
      (scale, _) <- grid(eval)
      (assigned, d) <- assignedFrame(eval, k, iters)
    } yield (scale, assigned, d)
    trained match {
      case Some((scale, assigned, d)) =>
        val state = centroidStateOf(assigned, d)
        require(nProbe >= 1, s"nProbe must be positive, got $nProbe")
        // clamp, don't throw: a degenerate corpus collapsing into fewer
        // non-empty cells than nProbe degrades gracefully here exactly as
        // the oracle's `rk <= nProbe` ranking does (probing every cell)
        val np = math.min(nProbe, state.size)
        val evalIdx = eval
          .join(assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
          .select(col("vec_id").as("eval_id"), col("cell"),
            col("embedding").as("emb_e"),
            dot(col("embedding"), col("embedding")).as("nsq_e"))
          .filter(col("nsq_e") > 0)
        val probed = probe.select(col("vec_id"), col("embedding"),
            dot(col("embedding"), col("embedding")).as("nsq"),
            org.apache.spark.sql.graft.KMeansCells.probe(
              qCol(scale), exprState(state), np).as("cells"))
          .filter(col("nsq") > 0)
          .select(col("vec_id"), col("embedding"), col("nsq"),
            explode(col("cells")).as("cell"))
        probed.join(broadcast(evalIdx), Seq("cell"))
          .withColumn("cosine",
            dot(col("embedding"), col("emb_e")) / (sqrt(col("nsq")) * sqrt(col("nsq_e"))))
          .filter(col("cosine") >= threshold)
          .select(col("vec_id"), col("eval_id"), col("cosine"))
      case None =>
        val spark = probe.sparkSession
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("vec_id", LongType), StructField("eval_id", LongType),
            StructField("cosine", DoubleType))))
    }
  }

  /** Coarse-quantizer training off an ALREADY-MATERIALIZED shared
    * q-frame — [[kmeansCentroids]]+[[centroidState]] without the
    * long-form frame round-trip, the second grid scan or a second
    * quantize/checkpoint of the corpus: the one grid scan and the one
    * q-frame checkpoint are paid by the CALLER and shared with every
    * other trainer on the same frame (a searcher that also trains a PQ
    * codebook was quantizing and checkpointing the corpus twice and
    * scanning for the grid three times). Bit-identical state: the same
    * [[lloydAssign]] recursion and the same final k-row aggregation,
    * collected directly. */
  private[ext] def coarseStateFromQ(qf: DataFrame, d: Int, k: Int,
      iters: Int): Seq[Centroid] =
    centroidStateOf(lloydAssign(qf, k, iters, d, materialize = false), d)

  /** Per-subspace PQ codebook states off the same shared q-frame —
    * [[pqCodebook]] + the searcher's collect/rebuild without the long
    * form or a second checkpoint (the [[coarseStateFromQ]] contract). */
  private[ext] def pqSubStatesFromQ(qf: DataFrame, d: Int, m: Int, k: Int,
      iters: Int): Seq[Seq[Centroid]] = {
    val (subs, dsub) = pqAssignedFromQ(qf, d, m, k, iters, materialize = false)
    pqSubStates(subs, dsub)
  }

  /** Final NON-EMPTY centroid state of an assigned frame (the g2 the
    * oracles spell): k-row groupBy, bounded collect. */
  private def centroidStateOf(assigned: DataFrame, d: Int): Seq[Centroid] = {
    val aggs = (count(lit(1)).as("n") +:
      (1 to d).map(i => sum(el(col("q"), i)).as(s"s$i"))).toList
    assigned.groupBy(col("cell")).agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => Centroid(r.getInt(0), r.getLong(1),
        Array.tabulate(d)(i => r.getLong(2 + i))))
      .toSeq.sortBy(_.cell)
  }

  /** SemDeDup: near-duplicate candidate pairs WITHIN a trained cluster —
    * unordered `(keep_id, dup_id)` with the full-precision cosine over
    * the ORIGINAL float embeddings (the quantized grid only routes; it
    * never scores). The cluster is the blocking key, so pair cost is
    * sum-of-cluster², bounded by choosing k ∝ corpus/target-cluster-size
    * — the published SemDeDup recipe — never n².
    *
    * `maxCluster` makes the bound HARD, mirroring [[Sim.lshTopKTables]]'s
    * `maxBucket`: a degenerate clustering (an adversarial or collapsed
    * corpus landing whole in one cell) would otherwise go quadratic no
    * matter how k was chosen. A cell of size s > maxCluster is sub-split
    * into `ceil(s / maxCluster)` chunks by an affine hash of vec_id, so
    * total pairs are O(n · maxCluster) by construction; small cells get
    * chunks = 1 and are untouched (anything % 1 = 0 — no branch). Only
    * pairs INSIDE an oversized cell can be lost, and those cells are
    * exactly the near-degenerate ones where any maxCluster-size
    * deterministic sample still surfaces the high-cosine duplicates.
    * Set maxCluster ≥ n to disable. Cosine is the same left-assoc double
    * chain as [[Sim]] (oracle-exact). */
  def semanticDedup(embeddings: DataFrame, k: Int = 8, iters: Int = 2,
      threshold: Double = 0.30, maxCluster: Int = 1024): DataFrame = {
    require(maxCluster >= 1, s"maxCluster must be positive, got $maxCluster")
    assignedFrame(embeddings, k, iters) match {
      case Some((assigned, d)) =>
        import org.apache.spark.sql.graft.DotProduct.dot
        val e = embeddings
          .join(assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
          .select(col("vec_id"), col("cell"), col("embedding"),
            dot(col("embedding"), col("embedding")).as("nsq"))
          .filter(col("nsq") > 0)
          // window count on the blocking key, then the affine sub-split —
          // the same 1000003-space mix as lshTopKTables' subkey (vec_id
          // reduced mod P first so the product stays overflow-safe in
          // both engines at any id scale)
          .withColumn("cnt",
            count(lit(1)).over(Window.partitionBy(col("cell"))))
          .withColumn("subkey",
            expr("((vec_id % 1000003) * 2654435761 + 97) % 1000003" +
              s" % ((cnt + ${maxCluster - 1}) div $maxCluster)"))
        val a = e.select(col("vec_id").as("keep_id"), col("cell"), col("subkey"),
          col("embedding").as("emb_a"), col("nsq").as("nsq_a"))
        val b = e.select(col("vec_id").as("dup_id"), col("cell"), col("subkey"),
          col("embedding").as("emb_b"), col("nsq").as("nsq_b"))
        a.join(b, Seq("cell", "subkey"))
          .filter(col("keep_id") < col("dup_id"))
          .withColumn("cosine",
            dot(col("emb_a"), col("emb_b")) / (sqrt(col("nsq_a")) * sqrt(col("nsq_b"))))
          .filter(col("cosine") >= threshold)
          .select(col("keep_id"), col("dup_id"), col("cosine"))
      case None =>
        val spark = embeddings.sparkSession
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("keep_id", LongType), StructField("dup_id", LongType),
            StructField("cosine", DoubleType))))
    }
  }
}
