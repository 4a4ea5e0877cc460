package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.States

/** Similarity search over embedding columns (`ArrayType(FloatType)`).
  *
  * Numeric-determinism contract (oracle hash-parity): every float is cast
  * to double BEFORE arithmetic (exact), products of two floats are exact
  * in double, and dot/norm sums are LEFT-ASSOCIATED `+` chains over
  * `element_at` — the same expression a DuckDB oracle writes as
  * `e[1]*e[1] + e[2]*e[2] + ...`, so results are bit-identical. No
  * `pow`/`exp`/`ln` (only IEEE correctly-rounded `+ * / sqrt`).
  *
  * The chain form (vs an `aggregate` fold over `zip_with`) is also the
  * FAST form: it is one flat codegen-friendly expression with no
  * per-row array allocation — the fold variant evaluates interpreted
  * and allocates two arrays per pair, ~10× slower on an n² cross join.
  *
  * Scale posture (100 TB):
  *  - `bruteTopK` is the O(n²) correctness baseline: a cross join where
  *    Catalyst broadcasts the smaller side. Use only when one side fits
  *    in memory.
  *  - `lshTopK` is the scale path: deterministic random-hyperplane
  *    signatures bucket the vectors; candidate pairs come from an
  *    equi-join on the bucket key (a plain shuffle join), so pair count
  *    drops from n² to sum-of-bucket². Recall < 1 by construction; the
  *    bit-width trades recall vs cost.
  */
object Sim {

  import graft.operators.Partitioning.spread
  import org.apache.spark.sql.graft.DotProduct.dot

  /** Embedding width, from the first row (0 for an empty table — callers
    * return an empty result instead of planning against no schema). */
  private def dim(embeddings: DataFrame): Int =
    embeddings.select(size(col("embedding"))).take(1).headOption.map(_.getInt(0)).getOrElse(0)

  private def el(c: Column, i: Int): Column = element_at(c, i).cast(DoubleType)

  private def topK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    pairs
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("vec_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Per-probe candidate pruning to the best `r` rows under `order`
    * (a TOTAL order at every call site — ids are unique per pair), used
    * by the refine stages. Emits narrow `(vec_id, neighbor_id)` only. */
  private def topKPrune(pairs: DataFrame, order: Seq[Column], r: Int): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(order: _*)
    pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= r)
      .select(col("vec_id"), col("neighbor_id"))
  }

  final case class Neighbor(vec_id: Long, neighbor_id: Long, cosine: Double, rank: Int)

  /** SQL DESC ordering with NaN FIRST (both Spark and DuckDB sort NaN
    * above every number), then neighbor id ascending. */
  private def beats(cos: Double, id: Long, thanCos: Double, thanId: Long): Boolean = {
    val c = java.lang.Double.compare(cos, thanCos) // NaN > all, matches SQL
    c > 0 || (c == 0 && id < thanId)
  }

  /** Brute-force cosine top-k per vector: a broadcast-index compute
    * kernel (`mapPartitions`), the one operator here where a typed kernel
    * beats any relational form — the n²·d inner loop is pure FLOPs, and
    * both the 64-term expression chain and the `aggregate` fold evaluate
    * via interpreted codegen (the fused method exceeds HotSpot's JIT
    * limit), 10-30× slower than this loop. Determinism is preserved: the
    * dot/norm loops add LEFT-TO-RIGHT in double exactly like the
    * oracle's `e[1]*e[1] + e[2]*e[2] + ...` chain, and selection order is
    * (cosine desc, neighbor_id asc) — bit-identical results.
    *
    * Scale: the index side is collected and broadcast (dim-table scale —
    * same contract as any broadcast join); the probe side streams
    * partition-parallel. For two large sides, use [[lshTopK]]. */
  def bruteTopK(embeddings: DataFrame, k: Int): DataFrame =
    bruteTopK(embeddings, embeddings, k)

  /** Two-frame form: `probes0` scored against a separately-supplied
    * `corpus` index. This signature exists so a sampled audit can
    * restrict the probe side RELATIONALLY: Catalyst cannot push a filter
    * below `DeserializeToObject`/`MapPartitions`, so filtering the
    * OUTPUT of the one-frame form still runs the n·|index| kernel over
    * every probe and discards most of the work. Passing the pre-filtered
    * probe frame here puts the filter below the typed boundary, and the
    * kernel's cost scales with the sample. Per-probe computation is
    * independent and self-pairs are excluded by `vec_id`, so
    * `bruteTopK(f(E), E, k) ≡ f(bruteTopK(E, E, k))` row-for-row for any
    * probe restriction `f` — the sampled audit keeps its exact hash. */
  def bruteTopK(probes0: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val spark = probes0.sparkSession
    import spark.implicits._
    val index: Array[(Long, Array[Double])] = corpus
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().map { case (id, a) => (id, a.map(_.toDouble)) }.sortBy(_._1)
    val bc = spark.sparkContext.broadcast(index)
    val probes = spread(probes0.select(col("vec_id"), col("embedding")), col("vec_id"))
      .as[(Long, Array[Float])]
    probes.mapPartitions { it =>
      val idx = bc.value
      val norms = idx.map { case (_, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        math.sqrt(s)
      }
      it.flatMap { case (qid, qf) =>
        val q = qf.map(_.toDouble)
        var nq = 0.0; var i = 0
        while (i < q.length) { nq += q(i) * q(i); i += 1 }
        val qn = math.sqrt(nq)
        // cosine is undefined for zero-norm vectors: engines disagree on
        // 0/0 (Spark NaN vs SQL NULL), so they are excluded by contract
        if (qn == 0.0) Iterator.empty
        else {
          // insertion-maintained top-k under (cosine desc, neighbor asc)
          val topIds = new Array[Long](k); val topCos = new Array[Double](k)
          var filled = 0
          var j = 0
          while (j < idx.length) {
            val (nid, nv) = idx(j)
            if (nid != qid && norms(j) != 0.0) {
              var dot = 0.0; var m = 0
              while (m < q.length) { dot += q(m) * nv(m); m += 1 }
              val cos = dot / (qn * norms(j))
              var pos = filled
              while (pos > 0 && beats(cos, nid, topCos(pos - 1), topIds(pos - 1))) pos -= 1
              if (pos < k) {
                val upTo = math.min(filled, k - 1)
                var sh = upTo
                while (sh > pos) { topCos(sh) = topCos(sh - 1); topIds(sh) = topIds(sh - 1); sh -= 1 }
                topCos(pos) = cos; topIds(pos) = nid
                if (filled < k) filled += 1
              }
            }
            j += 1
          }
          (0 until filled).iterator.map(r => Neighbor(qid, topIds(r), topCos(r), r + 1))
        }
      }
    }.toDF()
  }

  /** Deterministic pseudo-random hyperplane component for (plane j, dim
    * i, 0-based): an engine-agnostic arithmetic hash mapped to
    * [-0.5, 0.5). Computed at plan-build time; the oracle re-derives the
    * same integer and performs the same `int -> double / 1000 - 0.5`
    * IEEE ops. */
  def hyperplaneInt(j: Int, i: Int): Long =
    (i.toLong * 2654435761L + j.toLong * 40503L + 97L) % 1000L

  /** Hyperplane weight = hyperplaneInt/1000 - 0.5, the same IEEE ops the
    * oracle's `k::DOUBLE / 1000.0 - 0.5` performs at query time. Planes
    * are globally indexed from `planeOffset`, so LSH table `t` draws its
    * independent hyperplane set at offset `t * nBits` from the same
    * deterministic stream. */
  def hyperplaneWeightsAt(d: Int, nBits: Int, planeOffset: Int): Array[Array[Double]] =
    Array.tabulate(nBits, d)((j, i) => hyperplaneInt(planeOffset + j, i).toDouble / 1000.0 - 0.5)

  def hyperplaneWeights(d: Int, nBits: Int): Array[Array[Double]] =
    hyperplaneWeightsAt(d, nBits, 0)

  /** Sign-bit LSH bucket key from `nBits` deterministic hyperplanes
    * (native codegen expression — see [[org.apache.spark.sql.graft.LshBuckets]]). */
  def lshBucket(emb: Column, d: Int, nBits: Int): Column =
    org.apache.spark.sql.graft.LshBuckets.buckets(emb, hyperplaneWeights(d, nBits))

  /** Bucket key for LSH table `table` (hyperplanes table*nBits ..). */
  def lshBucketAt(emb: Column, d: Int, nBits: Int, table: Int): Column =
    org.apache.spark.sql.graft.LshBuckets.buckets(emb, hyperplaneWeightsAt(d, nBits, table * nBits))

  /** LSH-bucketed approximate cosine top-k: candidates are pairs sharing
    * a bucket; the join is a shuffle on the bucket key instead of n².
    * Per-vector top-k of whatever candidates survive (recall < 1). */
  def lshTopK(embeddings: DataFrame, k: Int, nBits: Int): DataFrame = {
    val d = dim(embeddings)
    // repartition FIRST: the nsq + nBits·d hyperplane projections are the
    // expensive part and must run after the exchange (a single-file scan
    // is one partition), not in the serial scan stage
    val e = spread(embeddings, col("vec_id")).select(col("vec_id"), col("embedding"),
      dot(col("embedding"), col("embedding")).as("nsq"),
      lshBucket(col("embedding"), d, nBits).as("bucket"))
      .filter(col("nsq") > 0) // zero-norm vectors have no cosine (see bruteTopK)
    // the bucket equi-join then shuffles/broadcasts by AQE's choice — no
    // forced hint, this is the scale path
    val left  = e.select(col("bucket"), col("vec_id"), col("embedding").as("emb_a"), col("nsq").as("nsq_a"))
    val right = e.select(col("bucket"), col("vec_id").as("neighbor_id"), col("embedding").as("emb_b"), col("nsq").as("nsq_b"))
    val pairs = left.join(right, Seq("bucket"), "inner")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dot(col("emb_a"), col("emb_b")) / (sqrt(col("nsq_a")) * sqrt(col("nsq_b"))))
    topK(pairs, k)
  }

  /** Multi-table OR-amplified sign-LSH ANN — the tunable 100 TB answer.
    *
    * A single bucket table forces a recall/cost tradeoff through one
    * knob: few bits → huge buckets (sum-of-bucket² candidate pairs
    * explodes at 10⁹ vectors), many bits → vanishing recall (true
    * neighbors rarely agree on every sign). OR-amplification breaks the
    * tradeoff: `nBits` bounds the EXPECTED bucket size (n/2^nBits), and
    * `nTables` independent hyperplane sets recover recall — a pair is a
    * candidate when it shares ANY table's bucket, so miss probability
    * decays exponentially in nTables while candidate cost grows only
    * linearly.
    *
    * Expectation is not a bound: correlated embeddings concentrate —
    * near-parallel clusters land whole in one bucket per table no matter
    * how many sign bits you add (every hyperplane sees the cluster on
    * one side), and an uncapped s-vector bucket costs s² pairs, the
    * exact explosion the operator exists to prevent. `maxBucket` makes
    * the bound HARD: a bucket of size s > maxBucket is sub-split into
    * `ceil(s / maxBucket)` chunks by `vec_id % chunks`, so per-vector
    * candidates per table are ≤ ~maxBucket and total pairs are
    * O(n · nTables · maxBucket) — linear in n, by construction. Small
    * buckets get chunks = 1 and are untouched (no branch needed).
    *
    * Recall accounting for the sub-split: only pairs INSIDE an oversized
    * bucket can be lost, and an oversized sign-bucket is a tight
    * near-parallel cluster — any ~maxBucket-size deterministic sample of
    * it still supplies high-cosine neighbors, so top-k quality degrades
    * far more gently than raw recall (other tables' buckets recover
    * cross-chunk pairs independently). Set maxBucket ≥ n to disable.
    *
    * Shape: one narrow projection computes all table buckets per vector
    * (single pass, native codegen), `posexplode` emits (table, bucket)
    * rows CARRYING the embedding, one window count over (tbl, bucket)
    * derives the sub-split key with no second scan, and ONE equi-join on
    * (tbl, bucket, subkey) — Spark reuses the window's hash partitioning,
    * (tbl, bucket) ⊆ the join keys, so no extra exchange — computes the
    * cosine INLINE. Only narrow (vec_id, neighbor_id, cosine) rows flow
    * into the OR-dedup and the per-vector top-k window: the wide
    * embedding arrays are never shuffled per candidate pair (the r4
    * dedup-then-two-verify-joins shape moved every pair's two 64-float
    * arrays through three shuffles — that, not the dot products, was the
    * cost). Never n², never a driver-side structure. */
  def lshTopKTables(embeddings: DataFrame, k: Int, nBits: Int, nTables: Int,
      maxBucket: Int = 128): DataFrame = {
    require(nBits >= 1 && nBits <= 62, s"nBits must be in [1,62], got $nBits")
    require(nTables >= 1, s"nTables must be positive, got $nTables")
    require(maxBucket >= 1, s"maxBucket must be positive, got $maxBucket")
    val d = dim(embeddings)
    val e = spread(embeddings, col("vec_id")).select(col("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("nsq"),
        array((0 until nTables).map(t => lshBucketAt(col("embedding"), d, nBits, t)): _*)
          .as("buckets"))
      .filter(col("nsq") > 0) // zero-norm vectors have no cosine (see bruteTopK)
    val banded = e
      .select(col("vec_id"), col("embedding"), col("nsq"),
        posexplode(col("buckets")).as(Seq("tbl", "bucket")))
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(col("tbl"), col("bucket"))))
      // chunks = ceil(cnt / maxBucket) in exact integer math; chunks = 1
      // leaves a small bucket whole (anything % 1 = 0), so one expression
      // covers both cases. The chunk assignment hashes (vec_id, tbl) — a
      // plain `vec_id % chunks` would partition an every-table-oversized
      // cluster IDENTICALLY in all tables (same classes, no OR recovery);
      // the per-table affine mix in 1000003-space re-partitions each
      // table independently, so cross-chunk pairs keep nTables chances.
      // (vec_id reduced mod P first: the product stays ≤ 2^51, overflow-
      // safe in both engines at any id scale.)
      .withColumn("subkey",
        expr("((vec_id % 1000003) * 2654435761 + tbl * 40503 + 97) % 1000003" +
          s" % ((cnt + ${maxBucket - 1}) div $maxBucket)"))
    val keys = Seq("tbl", "bucket", "subkey")
    val pairs = banded.as("a")
      .join(banded.as("b"),
        keys.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
        (dot(col("a.embedding"), col("b.embedding")) /
          (sqrt(col("a.nsq")) * sqrt(col("b.nsq")))).as("cosine"))
      // OR across tables: a pair meeting in several tables computes the
      // SAME cosine (identical deterministic expression over identical
      // inputs), so a distinct on the narrow triple dedups exactly
      .distinct()
    topK(pairs, k)
  }

  // ----------------------------------------------------------------- IVF

  /** Deterministic coarse-quantizer centroid component (cell c, dim i):
    * same arithmetic-hash family as the hyperplanes, offset into its own
    * plane range so centroids and hyperplanes never collide. */
  def centroidInt(c: Int, i: Int): Long = hyperplaneInt(1000 + c, i)

  def centroid(d: Int, c: Int): Array[Float] =
    Array.tabulate(d)(i => (centroidInt(c, i).toDouble / 1000.0 - 0.5).toFloat)

  /** IVF (inverted-file) approximate cosine top-k — the cell-probing
    * alternative to sign-LSH. A coarse quantizer of `nCells` deterministic
    * centroids partitions the vectors: each vector is INDEXED in its
    * nearest cell (by the score -2·dot(v,c) + |c|², the argmin-equivalent
    * of L2 distance with the constant |v|² dropped) and PROBES its
    * `nProbe` nearest cells, so a candidate pair is (probe, indexed) in
    * the same cell — the standard recall lever without ever building n².
    *
    * At cluster scale the cell is the partition key: the index side
    * shuffles once by cell (building the inverted lists), probes shuffle
    * `nProbe`× — exactly the IVF fan-out — and AQE handles the cell-size
    * skew that real embedding clusters produce. Centroids here are
    * arithmetic-derived (oracle-reproducible); [[ivfTopKTrained]] is the
    * production variant that searches against TRAINED k-means centroids
    * ([[Cluster.kmeansCentroids]]) with the same plan shape. Ties in the
    * argmin go to the lowest cell id in both engines (strict `<`
    * comparison chain). */
  def ivfTopK(embeddings: DataFrame, k: Int, nCells: Int, nProbe: Int): DataFrame = {
    require(nCells >= 2, s"nCells must be >= 2, got $nCells")
    require(nProbe >= 1 && nProbe <= nCells, s"nProbe must be in [1,$nCells], got $nProbe")
    val d = dim(embeddings)
    import org.apache.spark.sql.graft.DotProduct.dot
    val scored = spread(embeddings, col("vec_id"))
      .select(col("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("nsq"),
        array((0 until nCells).map { c =>
          val cen = centroid(d, c)
          val nsqC = cen.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
          dot(col("embedding"), typedlit(cen)) * -2.0 + lit(nsqC)
        }: _*).as("scores"))
      .filter(col("nsq") > 0)
    // rank cells by (score, cell) via array sort on (score, idx) structs —
    // the idx tiebreaker makes the order total in both engines
    val ranked = scored.withColumn("cells",
      slice(
        transform(
          array_sort(zip_with(col("scores"), sequence(lit(0), lit(nCells - 1)),
            (s, i) => struct(s.as("s"), i.as("c")))),
          e => e.getField("c")),
        1, nProbe))
    // probe + index sides reuse the ranked frame; localCheckpoint (not
    // cache) so the blocks free on GC instead of living in the session
    // CacheManager (see MinHash.nearDupPairs)
    val e = ranked.select(col("vec_id"), col("embedding"), col("nsq"),
      element_at(col("cells"), 1).as("own_cell"), col("cells")).localCheckpoint(false)
    val probes = e.select(col("vec_id"), col("embedding").as("emb_a"),
      col("nsq").as("nsq_a"), explode(col("cells")).as("cell"))
    val indexed = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("emb_b"), col("nsq").as("nsq_b"), col("own_cell").as("cell"))
    // no pair dedup needed: the indexed side carries exactly ONE cell per
    // vector (its argmin) and a probe's cell list is distinct, so a
    // (probe, indexed) pair can meet in at most one cell — a distinct
    // here would re-shuffle the whole candidate stream for nothing
    val pairs = probes.join(indexed, Seq("cell"), "inner")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dot(col("emb_a"), col("emb_b")) / (sqrt(col("nsq_a")) * sqrt(col("nsq_b"))))
      .select(col("vec_id"), col("neighbor_id"), col("cosine"))
    topK(pairs, k)
  }

  /** IVF search against TRAINED centroids — the production pairing of
    * [[Cluster.kmeansCentroids]] (train on a bounded sample) with the
    * [[ivfTopK]] probe shape (search the full corpus): real embedding
    * corpora cluster, and probing cells that track the ACTUAL density
    * (instead of arithmetic-derived points) is what buys IVF its recall.
    *
    * `centroids` is a [[Cluster.kmeansCentroids]]-shaped long frame
    * (cell, dim, s, n, mean); its k·d rows are collected and ride into
    * the scoring expression as one reference object — the "broadcast the
    * k-row table" contract, the same bounded driver state as training
    * itself. Each vector re-quantizes onto the SAME global grid the
    * trainer derived (one scalar max — deterministic), is INDEXED in its
    * argmin cell and PROBES its `nProbe` nearest cells by the exact
    * int64 score `dot(q,s)·(-2)/n + |s|²/n²`
    * ([[org.apache.spark.sql.graft.KMeansProbe]] — a native k×d codegen
    * loop, so trained k in the 10³–10⁴ range planes through the same
    * expression). Candidates meet in at most ONE cell (the indexed side
    * carries only its argmin), so no pair dedup is needed; the cosine is
    * scored on the ORIGINAL floats with the usual left-assoc chain.
    * Plan shape is [[ivfTopK]]'s unchanged: one narrow scoring pass,
    * explode ×nProbe, one cell equi-join, one top-k window.
    *
    * GRID CONTRACT: the centroids live on a quantization grid fixed at
    * TRAINING time. When they were trained on `embeddings` itself the
    * default (re-deriving the scale from `embeddings`) reproduces that
    * grid exactly; when they were trained on a DIFFERENT frame — a
    * bounded sample, a prior snapshot — the caller must pass the
    * trainer's `gridScale` (see [[Cluster.kmeansCentroidsSampled]]), or
    * routing silently skews against centroids on another grid. */
  def ivfTopKTrained(embeddings: DataFrame, centroids: DataFrame, k: Int,
      nProbe: Int, gridScale: Option[Double] = None): DataFrame = {
    import graft.ext.Cluster
    val state = Cluster.centroidState(centroids)
    val gridOpt = gridScale.map(sc => (sc, 0)).orElse(Cluster.grid(embeddings))
    if (state.isEmpty || gridOpt.isEmpty) {
      val spark = embeddings.sparkSession
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id", LongType),
          org.apache.spark.sql.types.StructField("neighbor_id", LongType),
          org.apache.spark.sql.types.StructField("cosine", DoubleType),
          org.apache.spark.sql.types.StructField("rank", IntegerType))))
    }
    require(nProbe >= 1, s"nProbe must be positive, got $nProbe")
    // clamp to the non-empty cell count (the oracle's `rk <= nProbe`
    // semantics) instead of throwing on a collapsed clustering
    val np = math.min(nProbe, state.size)
    val (scale, _) = gridOpt.get
    val scored = spread(embeddings, col("vec_id"))
      .select(col("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("nsq"),
        org.apache.spark.sql.graft.KMeansCells.probe(
          Cluster.qCol(scale), Cluster.exprState(state), np).as("cells"))
      .filter(col("nsq") > 0)
    // probe + index sides reuse the scored frame; localCheckpoint (not
    // cache) for the same block-lifetime reason as ivfTopK
    val e = scored.select(col("vec_id"), col("embedding"), col("nsq"),
      element_at(col("cells"), 1).as("own_cell"), col("cells")).localCheckpoint(false)
    val probes = e.select(col("vec_id"), col("embedding").as("emb_a"),
      col("nsq").as("nsq_a"), explode(col("cells")).as("cell"))
    val indexed = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("emb_b"), col("nsq").as("nsq_b"), col("own_cell").as("cell"))
    val pairs = probes.join(indexed, Seq("cell"), "inner")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dot(col("emb_a"), col("emb_b")) / (sqrt(col("nsq_a")) * sqrt(col("nsq_b"))))
      .select(col("vec_id"), col("neighbor_id"), col("cosine"))
    topK(pairs, k)
  }

  /** ONE delta's PER-VECTOR IVF index rows under a FIXED shipped
    * quantizer: `(vec_id, embedding, nsq, cell)` — each vector
    * quantizes onto the trainer's grid and is assigned its argmin cell
    * ONCE at ingest ([[Cluster.indexAdd]] keeps the occupancy
    * statistics; this keeps the searchable rows). Assignment is a pure
    * per-vector function of the fixed quantizer, so
    * `mergeIvfIndex(add(A), add(B)) ≡ add(A∪B)` exactly, idempotent
    * under overlap. Zero-norm vectors are excluded by the usual cosine
    * contract. */
  def ivfIndexAdd(delta: DataFrame, centroids: DataFrame, gridScale: Double): DataFrame = {
    import graft.ext.Cluster
    val state = Cluster.centroidState(centroids)
    val spark = delta.sparkSession
    if (state.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id", LongType),
          org.apache.spark.sql.types.StructField("embedding",
            org.apache.spark.sql.types.ArrayType(FloatType)),
          org.apache.spark.sql.types.StructField("nsq", DoubleType),
          org.apache.spark.sql.types.StructField("cell", IntegerType))))
    delta.select(col("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("nsq"),
        element_at(org.apache.spark.sql.graft.KMeansCells.probe(
          Cluster.qCol(gridScale), Cluster.exprState(state), 1), 1).as("cell"))
      .filter(col("nsq") > 0)
  }

  /** Exact merge of [[ivfIndexAdd]] states: id-keyed first-wins union
    * (duplicate rows are value-identical under one quantizer). */
  def mergeIvfIndex(states: DataFrame*): DataFrame =
    States.merge(states, Seq("vec_id"),
      Seq("embedding", "nsq", "cell").map(_ -> States.First): _*)

  /** Delta-vs-state ANN — [[graft.ext.MinHash.nearDupDeltaPairs]]'
    * incremental discipline on the vector stack: a DELTA of new
    * vectors is searched against a maintained [[ivfIndexAdd]] state
    * (plus the delta itself, so new vectors can be each other's
    * neighbors) with NO state-sized exchange — the routed delta probes
    * are the SMALL side, broadcast into the cell join, and the state
    * is scanned once in place. Emits [[ivfTopKTrained]]'s exact rows
    * restricted to delta probes: per-probe equivalence makes
    * `knnDeltaVsState(state(E∖Δ), Δ) ≡ ivfTopKTrained(E) where vec_id
    * ∈ Δ` when the quantizer and grid are the trainer's — the oracle
    * states exactly that.
    *
    * This is the query a 100 TB embedding store actually runs per
    * snapshot: yesterday's index is data-at-rest, today's delta routes
    * + broadcasts, and candidate volume is the delta's cell-join bound
    * — never a re-search of the corpus and never a shuffle keyed on
    * the state.
    *
    * PRECONDITION: `state` must not already contain the delta's
    * vec_ids — id-dedup is [[mergeIvfIndex]]'s job at state-maintenance
    * time, not a per-query cost (duplicate ids would emit duplicate
    * candidate rows). */
  def knnDeltaVsState(state: DataFrame, delta: DataFrame, centroids: DataFrame,
      gridScale: Double, k: Int, nProbe: Int): DataFrame = {
    import graft.ext.Cluster
    val cState = Cluster.centroidState(centroids)
    val spark = delta.sparkSession
    if (cState.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id", LongType),
          org.apache.spark.sql.types.StructField("neighbor_id", LongType),
          org.apache.spark.sql.types.StructField("cosine", DoubleType),
          org.apache.spark.sql.types.StructField("rank", IntegerType))))
    require(nProbe >= 1, s"nProbe must be positive, got $nProbe")
    val np = math.min(nProbe, cState.size)
    val deltaIdx = ivfIndexAdd(delta, centroids, gridScale).localCheckpoint(false)
    val all = state.select(col("vec_id"), col("embedding"), col("nsq"), col("cell"))
      .unionByName(deltaIdx)
    val probes = deltaIdx
      .select(col("vec_id"), col("embedding").as("emb_a"), col("nsq").as("nsq_a"),
        explode(org.apache.spark.sql.graft.KMeansCells.probe(
          Cluster.qCol(gridScale), Cluster.exprState(cState), np)).as("cell"))
    // the state∪delta side probed IN PLACE; the routed delta broadcasts
    // (aliases, not frame-column refs: `all` shares deltaIdx's lineage
    // with `probes`, so unaliased attributes would be ambiguous)
    val pairs = all.as("s")
      .join(broadcast(probes.as("p")),
        col("s.cell") === col("p.cell") && col("s.vec_id") =!= col("p.vec_id"))
      .select(col("p.vec_id").as("vec_id"),
        col("s.vec_id").as("neighbor_id"),
        (dot(col("p.emb_a"), col("s.embedding")) /
          (sqrt(col("p.nsq_a")) * sqrt(col("s.nsq")))).as("cosine"))
    topK(pairs, k)
  }

  /** Delta-vs-state SemDeDup — [[knnDeltaVsState]]'s incremental
    * discipline on the SEMANTIC-dedup family: near-duplicate pairs at
    * cosine ≥ `threshold` between a DELTA of new vectors and a
    * maintained [[ivfIndexAdd]] state (plus the delta itself), blocked
    * by the FIXED quantizer's argmin cell on BOTH sides —
    * [[graft.ext.Cluster.semanticDedup]]'s cluster blocking with
    * training amortized into state maintenance instead of re-run per
    * snapshot (the hard cell-size bound is likewise maintenance
    * policy: a production index bounds cell population by the
    * quantizer's k, re-training when cells outgrow it). The delta's
    * index rows broadcast into the cell join and the state scans once
    * in place — no state-keyed exchange.
    *
    * Emits canonical `(keep_id, dup_id, cosine)` with keep_id <
    * dup_id: delta-delta pairs meet twice under the `=!=` join, but
    * the cosine chain is exactly symmetric (per-term products and the
    * norm product commute in IEEE; the dot accumulates in ascending
    * index order on both), so the doubled rows are bit-identical and
    * one `distinct` collapses them.
    *
    * PRECONDITION (as [[knnDeltaVsState]]): `state` must not already
    * contain the delta's vec_ids. */
  def semDedupDeltaPairs(state: DataFrame, delta: DataFrame, centroids: DataFrame,
      gridScale: Double, threshold: Double): DataFrame = {
    import graft.ext.Cluster
    val cState = Cluster.centroidState(centroids)
    val spark = delta.sparkSession
    if (cState.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("keep_id", LongType),
          org.apache.spark.sql.types.StructField("dup_id", LongType),
          org.apache.spark.sql.types.StructField("cosine", DoubleType))))
    val deltaIdx = ivfIndexAdd(delta, centroids, gridScale).localCheckpoint(false)
    val all = state.select(col("vec_id"), col("embedding"), col("nsq"), col("cell"))
      .unionByName(deltaIdx)
    all.as("s")
      .join(broadcast(deltaIdx.as("p")),
        col("s.cell") === col("p.cell") && col("s.vec_id") =!= col("p.vec_id"))
      .select(
        least(col("s.vec_id"), col("p.vec_id")).as("keep_id"),
        greatest(col("s.vec_id"), col("p.vec_id")).as("dup_id"),
        (dot(col("p.embedding"), col("s.embedding")) /
          (sqrt(col("p.nsq")) * sqrt(col("s.nsq")))).as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
  }

  /** IVF tuning curve — the production `nProbe` knob as a measured
    * (nprobe, candidate_pairs, truth_pairs, hit_pairs, recall) table: a
    * recall-targeted deployment reads the row meeting its budget instead
    * of guessing the probe width. Closes the tuning loop the same way
    * `ann_recall` closed the variant comparison — recall per operating
    * point is a hash-checked number, not a doc claim.
    *
    * ONE training pass and ONE candidate generation serve every curve
    * point: the probe list is built once at `max(nProbes)` width with
    * its PROBE RANK kept (position in the nearest-cell list), so the
    * nProbe=p operating point is the `rank ≤ p` prefix — each row is a
    * filter + window + aggregate over the same checkpointed pair frame,
    * never a re-search. Truth is [[bruteTopK]] (the same baseline every
    * recall query uses), checkpointed once.
    *
    * Scale: candidate volume is the cell-join bound ivfTopKTrained
    * carries (never n²); the curve adds |nProbes| bounded aggregates
    * over one materialized pair set — at 100 TB you run it on a sampled
    * probe slice (`probeMod = Some((mod, res))`: probe AND truth sides
    * restricted to the deterministic residue class `vec_id % mod =
    * res`, the FULL corpus still indexed — so the sampled recall
    * estimates the full curve at 1/mod of the probe cost; the truth
    * side's sample is applied BELOW the brute kernel's typed boundary
    * via the two-frame [[bruteTopK]], so the dominant n·|index| scan
    * genuinely shrinks; registered and measured as
    * `ivf_nprobe_curve_sampled`), and the
    * candidate_pairs column IS the cost axis the tuner trades against
    * recall. */
  def ivfNprobeCurve(embeddings: DataFrame, k: Int, coarseK: Int, iters: Int,
      nProbes: Seq[Int], probeMod: Option[(Long, Long)] = None): DataFrame = {
    probeMod.foreach { case (m, r) =>
      require(m >= 1L && r >= 0L && r < m,
        s"probe sample must be a residue class: 0 <= res < mod, got ($m, $r)") }
    import graft.ext.Cluster
    require(nProbes.nonEmpty && nProbes.forall(_ >= 1),
      s"nProbes must be non-empty positive, got $nProbes")
    require(nProbes.distinct.size == nProbes.size,
      s"duplicate operating points would emit duplicate curve rows: $nProbes")
    val spark = embeddings.sparkSession
    def emptyOut = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("nprobe", IntegerType),
        org.apache.spark.sql.types.StructField("candidate_pairs", LongType),
        org.apache.spark.sql.types.StructField("truth_pairs", LongType),
        org.apache.spark.sql.types.StructField("hit_pairs", LongType),
        org.apache.spark.sql.types.StructField("recall", DoubleType))))
    // one grid scan, one quantize+checkpoint (the ivfPqAdcPairs shared-
    // q-frame discipline); state bit-identical to the long-form path
    val gridOpt = Cluster.grid(embeddings)
    if (gridOpt.isEmpty) return emptyOut
    val sampled: DataFrame => DataFrame = df =>
      probeMod.fold(df) { case (m, r) => df.filter(col("vec_id") % m === r) }
    // coarse training and the brute truth are independent until the
    // curve's final join — overlap their driver-blocking chains (guide
    // §2.6; same states/rows as the sequential spelling).
    //
    // probe side pre-filtered BELOW bruteTopK's typed boundary: the brute
    // kernel scans only the sampled residue class (1/mod of the probes),
    // not all probes with 1-1/mod of the output discarded — identical
    // rows either way (see the two-frame bruteTopK contract), but only
    // this form realizes the 1/mod cost the sampled audit exists for
    val (state, truthAndCnt) = graft.operators.DriverPar.par2(
      Cluster.coarseStateFromQ(
        embeddings.select(col("vec_id"), Cluster.qCol(gridOpt.get._1).as("q"))
          .localCheckpoint(false), gridOpt.get._2, coarseK, iters), {
        val t = bruteTopK(sampled(embeddings), embeddings, k)
          .select(col("vec_id"), col("neighbor_id"))
          .localCheckpoint(false)
        (t, t.count())
      })
    if (state.isEmpty) return emptyOut
    val (truth, truthCnt) = truthAndCnt
    if (truthCnt == 0L) return emptyOut // empty-corpus short-circuit, as ann_recall
    val (scale, _) = gridOpt.get
    val maxNp = math.min(nProbes.max, state.size) // clamp, as in ivfTopKTrained
    val scored = spread(embeddings, col("vec_id"))
      .select(col("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("nsq"),
        org.apache.spark.sql.graft.KMeansCells.probe(
          Cluster.qCol(scale), Cluster.exprState(state), maxNp).as("cells"))
      .filter(col("nsq") > 0)
      .localCheckpoint(false)
    val probes = sampled(scored)
      .select(col("vec_id"), col("embedding").as("emb_a"),
        col("nsq").as("nsq_a"), posexplode(col("cells")).as(Seq("pos", "cell")))
      .select(col("vec_id"), col("emb_a"), col("nsq_a"),
        (col("pos") + 1).as("pr"), col("cell"))
    val indexed = scored.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("emb_b"), col("nsq").as("nsq_b"),
      element_at(col("cells"), 1).as("cell"))
    val pairs = probes.join(indexed, Seq("cell"), "inner")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dot(col("emb_a"), col("emb_b")) / (sqrt(col("nsq_a")) * sqrt(col("nsq_b"))))
      .select(col("vec_id"), col("neighbor_id"), col("pr"), col("cosine"))
      .join(truth.withColumn("is_truth", lit(1)), Seq("vec_id", "neighbor_id"), "left")
      .localCheckpoint(false)
    // ONE windowed pass per curve point: hit counting and candidate
    // counting share a single scan+exchange of the checkpointed pair
    // frame. The r20 snapshot split this into a per-probe top-k agg
    // cross-joined with a separate count agg — two scans per point,
    // 8 jobs where there were 4 — and the driver measured 0.59×
    // (PERF_r20 ivf_nprobe_curve 2.04→3.45 s). Reverted per VERDICT
    // r20 "Next round" #1a.
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    nProbes.map { np =>
      pairs.filter(col("pr") <= np)
        .withColumn("rank", row_number().over(w))
        .agg(count(lit(1)).as("candidate_pairs"),
          coalesce(sum(when(col("rank") <= k && col("is_truth").isNotNull, 1L)), lit(0L))
            .as("hit_pairs"))
        .select(lit(np).as("nprobe"), col("candidate_pairs"),
          lit(truthCnt).as("truth_pairs"), col("hit_pairs"),
          (col("hit_pairs").cast(DoubleType) / lit(truthCnt.toDouble)).as("recall"))
    }.reduce(_.unionByName(_))
  }

  /** IVF-PQ search — the full FAISS architecture end-to-end: the
    * trained coarse quantizer ROUTES (index in argmin cell, probe the
    * `nProbe` nearest cells) and the PQ codebook COMPRESSES (each
    * candidate is scored against its m-int code via asymmetric
    * distance, never its d floats).
    *
    * Why this matters at 100 TB: in [[ivfTopKTrained]] every candidate
    * pair moves the 64-float embedding through the cell join; here the
    * indexed side carries m ints + one precomputed norm — the candidate
    * traffic shrinks ~d·4/(m·4) ≈ d/m× while the join/topK plan shape
    * is IDENTICAL. Training state (coarse centroids, PQ codebook) is
    * bounded driver/reference-object memory, the same contract as
    * [[bruteTopK]]'s index.
    *
    * Scoring: `adc_cos(q, y) = dot(q, recon(y)) / (|q| · |recon(y)|)`
    * with `recon(y)` the concatenation of y's per-subspace codebook
    * means — [[org.apache.spark.sql.graft.PqAdcDot]] computes the dot
    * by table lookup in one m×(d/m) codegen loop, and `|recon|²` is a
    * per-subspace literal-table lookup summed in subspace order. Every
    * IEEE step replays in SQL (the oracle spells the continued chain),
    * so even the APPROXIMATE ranking is hash-checked. Cosine is
    * approximate by construction (quantization error); k and the
    * codebook size trade recall vs compression. */
  private def emptyNeighbors(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id", LongType),
        org.apache.spark.sql.types.StructField("neighbor_id", LongType),
        org.apache.spark.sql.types.StructField("cosine", DoubleType),
        org.apache.spark.sql.types.StructField("rank", IntegerType))))
  }

  def ivfPqTopK(embeddings: DataFrame, m: Int = 4, kSub: Int = 8,
      coarseK: Int = 8, nProbe: Int = 2, k: Int = 5): DataFrame =
    ivfPqTopKWithGrid(embeddings, m, kSub, coarseK, nProbe, k, None)

  private def ivfPqTopKWithGrid(embeddings: DataFrame, m: Int, kSub: Int,
      coarseK: Int, nProbe: Int, k: Int,
      gridIn: Option[(Double, Int)]): DataFrame =
    ivfPqAdcPairs(embeddings, m, kSub, coarseK, nProbe, gridIn)
      .map(pairs => topK(pairs, k))
      .getOrElse(emptyNeighbors(embeddings))

  /** The ADC-scored candidate stream `(vec_id, neighbor_id, cosine)` of
    * [[ivfPqTopK]] — trained coarse routing, compressed candidates, the
    * asymmetric-distance cosine — WITHOUT the final top-k, so the refine
    * stage ([[ivfPqRefinedTopK]]) can re-rank a wider prefix of it.
    * None when the corpus is empty/all-zero (no training state). */
  private def ivfPqAdcPairs(embeddings: DataFrame, m: Int, kSub: Int,
      coarseK: Int, nProbe: Int,
      gridIn: Option[(Double, Int)] = None): Option[DataFrame] = {
    import graft.ext.Cluster
    import org.apache.spark.sql.graft.{KMeansCells, PqAdcDot}
    // gridIn lets the OPQ caller skip a redundant corpus scan: the grid
    // (max |component|, width) is PERMUTATION-INVARIANT, so the value
    // derived once on the unpermuted frame is bit-identical to what a
    // re-derivation over the permuted projection would collect
    val gridOpt = gridIn.orElse(Cluster.grid(embeddings))
    if (gridOpt.isEmpty) return None
    val (scale, d) = gridOpt.get
    require(d % m == 0, s"embedding width $d is not divisible into $m subspaces")
    // ONE grid scan and ONE quantize+checkpoint shared by BOTH trainers
    // (coarse Lloyd + per-subspace PQ Lloyd): the previous shape paid
    // the grid scan three times and quantized/checkpointed the corpus
    // once per trainer — identical training state either way (same
    // scale, same q integers, same seeded recursions)
    val qf = embeddings.select(col("vec_id"), Cluster.qCol(scale).as("q"))
      .localCheckpoint(false)
    // the two trainers are INDEPENDENT given the shared checkpointed
    // q-frame, and each is a chain of small driver-blocking collects —
    // overlap them (guide §2.6) so one chain's tasks and planning fill
    // the other's driver round-trips. States are bit-identical to the
    // sequential spelling (same recursions, same collects). coarse is
    // empty only for an empty q-frame (grid() already returned None on
    // empty/all-zero), where the PQ trainer degrades to empty states
    // the same way — the guard below is unchanged.
    val (coarse, subCens) = graft.operators.DriverPar.par2(
      Cluster.coarseStateFromQ(qf, d, coarseK, 2),
      Cluster.pqSubStatesFromQ(qf, d, m, kSub, 2))
    if (coarse.isEmpty || subCens.isEmpty || subCens.exists(_.isEmpty)) return None
    require(nProbe >= 1, s"nProbe must be positive, got $nProbe")
    val np = math.min(nProbe, coarse.size) // clamp, as in ivfTopKTrained
    val dsub = d / m
    // per-subspace encoder state (cell, n, |s|²/n², sums) + mean/|mean|²
    // tables, all from the bounded collected training state.
    // via Cluster.exprStateOf so the |s|² < 2⁵³ fail-loud guard covers
    // this scorer path too (r10 ADVICE: every table build shares it)
    val subStates: Seq[Seq[(Int, Double, Double, Seq[Long])]] =
      subCens.map(Cluster.exprStateOf)
    val maxCell = subStates.map(_.map(_._1).max).max
    // means indexed by raw cell id; cells the encoder cannot emit are
    // zero-filled (never looked up)
    val means: Seq[Seq[Seq[Double]]] = (0 until m).map { s =>
      val byCell = subStates(s).map(st => st._1 -> st).toMap
      (0 to maxCell).map(c => byCell.get(c) match {
        case Some((_, n, _, sums)) => sums.map(x => x.toDouble / n)
        case None => IndexedSeq.fill(dsub)(0.0)
      })
    }
    val msq: Seq[Seq[Double]] =
      means.map(_.map(_.foldLeft(0.0)((a, x) => a + x * x)))
    val qc = Cluster.qCol(scale)
    val reconNsq = (0 until m).map(s =>
        element_at(typedlit(msq(s)), element_at(col("codes"), s + 1) + 1))
      .reduceLeft(_ + _)
    val base = spread(embeddings, col("vec_id")).select(
        col("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("nsq"),
        KMeansCells.probe(qc, Cluster.exprState(coarse), np).as("cells"),
        array((0 until m).map(s =>
          KMeansCells.argmin(slice(qc, s * dsub + 1, dsub), subStates(s))): _*)
          .as("codes"))
      .withColumn("rnsq", reconNsq)
      .localCheckpoint(false)
    val probes = base.filter(col("nsq") > 0)
      .select(col("vec_id"), col("embedding").as("emb_a"), col("nsq").as("nsq_a"),
        explode(col("cells")).as("cell"))
    // the indexed side ships m ints + one norm per vector — never floats
    val indexed = base.filter(col("rnsq") > 0)
      .select(col("vec_id").as("neighbor_id"), col("codes").as("codes_b"),
        element_at(col("cells"), 1).as("cell"), col("rnsq"))
    Some(probes.join(indexed, Seq("cell"), "inner")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        PqAdcDot.adcDot(col("emb_a"), col("codes_b"), means) /
          (sqrt(col("nsq_a")) * sqrt(col("rnsq"))))
      .select(col("vec_id"), col("neighbor_id"), col("cosine")))
  }

  /** IVF-PQ search WITH a re-ranking refine stage — FAISS's IndexRefine,
    * the standard recall recovery for PQ's quantization error: the ADC
    * ranking selects the top-`refineR` candidates per QUERY VECTOR,
    * pooled across all its probed cells (the window partitions by
    * vec_id alone; R ≈ 5–10×k), and ONLY those R rows are re-scored
    * with the exact full-precision cosine over the original floats
    * before the final top-k. ADC's error rarely pushes a true neighbor
    * below rank R even when it reorders the top k, so recall recovers
    * toward the routing ceiling while the exact scoring cost stays R
    * rows per query vector instead of every candidate.
    *
    * Scale shape: the candidate stream and its top-R window are
    * [[ivfPqTopK]]'s unchanged (compressed m-int payload, narrow window
    * rows); the refine stage then moves only NARROW `(vec_id,
    * neighbor_id)` pairs — ≤ R per query vector — into two equi-joins
    * against the embeddings table that fetch the 2·R·d full-precision
    * floats per query vector the exact re-score needs. Candidate
    * compression is preserved end-to-end: full vectors are fetched for
    * the R survivors only, never shipped per candidate (the
    * `refine_traffic_bounded` gate in ScaleProof's `ivfpq_traffic`
    * measurement holds this bound). */
  def ivfPqRefinedTopK(embeddings: DataFrame, m: Int = 4, kSub: Int = 8,
      coarseK: Int = 8, nProbe: Int = 2, k: Int = 5, refineR: Int = 25): DataFrame = {
    require(refineR >= k, s"refineR must be >= k ($k), got $refineR")
    ivfPqAdcPairs(embeddings, m, kSub, coarseK, nProbe) match {
      case None => emptyNeighbors(embeddings)
      case Some(adc) =>
        // refineR-per-probe pruning (heap vs window: the topK A/B switch)
        val cand = topKPrune(adc.select(col("vec_id"), col("neighbor_id"), col("cosine")),
          Seq(col("cosine").desc, col("neighbor_id")), refineR)
        exactRescoreTopK(embeddings, cand, k)
    }
  }

  /** The IndexRefine re-scoring stage shared by every pre-filter +
    * exact-refine search ([[ivfPqRefinedTopK]], [[jlRefinedTopK]]):
    * ONLY narrow `(vec_id, neighbor_id)` candidate pairs join back to
    * the embeddings table for the exact full-precision cosine, then the
    * final top-k — full vectors move for the survivors, never per
    * candidate. */
  private def exactRescoreTopK(embeddings: DataFrame, cand: DataFrame,
      k: Int): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("nsq"))
      .filter(col("nsq") > 0)
    val exact = cand
      .join(e.select(col("vec_id"), col("embedding").as("emb_a"),
        col("nsq").as("nsq_a")), Seq("vec_id"))
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("emb_b"), col("nsq").as("nsq_b")), Seq("neighbor_id"))
      .withColumn("cosine",
        dot(col("emb_a"), col("emb_b")) / (sqrt(col("nsq_a")) * sqrt(col("nsq_b"))))
      .select(col("vec_id"), col("neighbor_id"), col("cosine"))
    topK(exact, k)
  }

  /** Deterministic ±1 entry of the JL sign-projection matrix — an
    * affine parity in 1000003-space (the repo's hash family), baked as
    * literals into both the Column expression and the oracle SQL, so
    * the "random" matrix is the same matrix everywhere by
    * construction. */
  private[graft] def jlSign(i: Int, k: Int): Long =
    if ((((i.toLong * 67L + k.toLong) * 2654435761L + 12345L) % 1000003L) % 2 == 0L)
      1L
    else -1L

  /** Johnson–Lindenstrauss SIGN projection — the dimension-REDUCTION
    * axis of the ANN taxonomy (routing = IVF, payload compression = PQ,
    * hashing = LSH; JL shrinks the vectors themselves): each output
    * component is `Σᵢ ±qᵢ` over the global int8 grid with the ±1s from
    * [[jlSign]] — a dense sign-matrix projection, the d-bit
    * generalization of [[lshBucket]]'s 1-bit hyperplanes. EXACT int64
    * arithmetic (|p| ≤ d·127 ≪ 2²⁴, so even the float cast is exact),
    * hence bit-reproducible and partition-independent where a float
    * Gaussian projection could never hash-match.
    *
    * Scale shape: one narrow quantize pass (checkpointed once — the
    * element_at-over-unmaterialized-lambda pathology strikes here too:
    * outDim·d element reads against an inline transform would
    * re-evaluate it per read) + one narrow projection; downstream
    * search cost then scales with outDim instead of d (a 64→16
    * projection cuts every brute/pair dot 4×). */
  def jlProject(embeddings: DataFrame, outDim: Int = 16): DataFrame = {
    require(outDim >= 1, s"outDim must be positive, got $outDim")
    val d = dim(embeddings)
    if (d == 0) return embeddings.select(col("vec_id"), col("embedding"))
    Cluster.sampledGridScale(embeddings, 1) match {
      case None => embeddings.select(col("vec_id"), col("embedding")).limit(0)
      case Some(scale) =>
        val qf = embeddings.select(col("vec_id"), Cluster.qCol(scale).as("q"))
          .localCheckpoint(false)
        val comps = (1 to outDim).map { kk =>
          (1 to d).map { i =>
            val e = element_at(col("q"), i)
            if (jlSign(i, kk) > 0) e else -e
          }.reduce(_ + _).cast(FloatType)
        }
        qf.select(col("vec_id"), array(comps: _*).as("embedding"))
    }
  }

  /** Brute-force top-k over the JL-projected frame — the RAW projected
    * ranking: same exact [[bruteTopK]] kernel, outDim-wide dots.
    * Vectors whose projection collapses to zero norm are excluded
    * exactly as zero-norm originals are (the kernel's qn = 0 contract).
    * On corpora whose top-k is decided by near-tie cosines (both
    * uniform noise AND tight clusters — the gap between rank 5 and
    * rank 6 is ≪ the JL distortion ~1/√outDim) this ranking is a
    * recall FLOOR, which is why the production pairing is
    * [[jlRefinedTopK]]: JL as the cheap CANDIDATE pre-filter, exact
    * scoring for the final order. */
  def jlTopK(embeddings: DataFrame, outDim: Int = 16, k: Int = 5): DataFrame =
    bruteTopK(jlProject(embeddings, outDim), k)

  /** JL pre-filter + exact refine — the production shape for the
    * dimension-reduction axis (the IndexRefine pattern applied to JL):
    * the projected ranking keeps its top-`refineR` candidates per query
    * vector at outDim-wide pair cost, then ONLY those narrow pairs
    * re-score with the exact full-width cosine. JL's distortion rarely
    * pushes a true neighbor below rank R even though it scrambles the
    * near-tie top-k order, so recall recovers while the all-pairs term
    * runs at outDim/d of brute cost. */
  def jlRefinedTopK(embeddings: DataFrame, outDim: Int = 16, k: Int = 5,
      refineR: Int = 50): DataFrame = {
    require(refineR >= k, s"refineR must be >= k ($k), got $refineR")
    val cand = bruteTopK(jlProject(embeddings, outDim), refineR)
      .select(col("vec_id"), col("neighbor_id"))
    exactRescoreTopK(embeddings, cand, k)
  }

  /** IVF-PQ search over the OPQ-lite variance-balanced dimension
    * permutation ([[graft.ext.Cluster.opqPermute]]): the embedding is
    * permuted so each subspace carries comparable variance, then the
    * UNCHANGED [[ivfPqTopK]] machinery trains, encodes and searches the
    * permuted frame at identical bits. Dot products and norms are
    * permutation-invariant, so neighbor ids compare directly against
    * the unpermuted brute truth (`ann_recall_ivfpq_opq`); plan shape
    * and candidate traffic are ivfPqTopK's — the permutation adds one
    * bounded 2d-sum stats row and a narrow projection. */
  def ivfPqOpqTopK(embeddings: DataFrame, m: Int = 4, kSub: Int = 8,
      coarseK: Int = 8, nProbe: Int = 2, k: Int = 5): DataFrame =
  {
    // ONE grid scan shared by the permutation's variance stats and the
    // downstream searcher (the shared-q-frame discipline): the grid is
    // permutation-invariant, so re-deriving it over the permuted
    // projection would collect the identical (scale, d) from one more
    // full corpus agg
    val g = Cluster.grid(embeddings)
    ivfPqTopKWithGrid(Cluster.opqPermuteWithGrid(embeddings, m, g),
      m, kSub, coarseK, nProbe, k, g)
  }

  /** IVF-SQ8 search — FAISS's `IVF,SQ8` index: trained coarse routing
    * (identical to [[ivfPqTopK]]'s), with the candidate payload
    * compressed by SCALAR quantization instead of PQ — each dimension
    * independently affine-coded into a byte on its corpus [min, max]
    * range, `code_i = floor((x_i − mn_i)/(mx_i − mn_i)·255)`,
    * reconstructed at the bucket CENTER `mn_i + (code_i + 0.5)·st_i`
    * (st = range/255). SQ8 is the no-training-payload point of the
    * quantizer family: d bytes/vector (4× compression vs float — PQ's
    * m·log₂k bits is far smaller but needs per-subspace Lloyd), zero
    * codebook training, and much lower distortion than PQ at the same
    * probe width, so it is the standard first stop when recall matters
    * more than the last 4× of memory.
    *
    * Implementation: the per-dim (min, max) pair is ONE aggregate over
    * the corpus (map-side combined, 2·d doubles of driver state — the
    * bounded-codebook contract); encode and the reconstruction-norm
    * are narrow projections with per-dim literals; the ADC scorer is
    * the unchanged [[org.apache.spark.sql.graft.PqAdcDot]] kernel with
    * d one-wide "subspaces" of 256 affine cells, so the asymmetric
    * cosine `dot(q, recon_b)/(|q|·|recon_b|)` replays in SQL exactly
    * like the PQ family's. Constant dims (mx = mn) code to 0 and
    * reconstruct at mn exactly.
    *
    * Scale shape: identical to [[ivfPqTopK]] — the indexed side ships
    * d ints + one norm per vector through the cell join, never floats;
    * candidates are bounded by the probed cells. */
  def ivfSqTopK(embeddings: DataFrame, coarseK: Int = 8, nProbe: Int = 2,
      k: Int = 5): DataFrame = {
    import graft.ext.Cluster
    import org.apache.spark.sql.graft.{KMeansCells, PqAdcDot}
    val gridOpt = Cluster.grid(embeddings)
    if (gridOpt.isEmpty) return emptyNeighbors(embeddings)
    val (scale, d) = gridOpt.get
    // one grid scan, one quantize+checkpoint (the ivfPqAdcPairs shared-
    // q-frame discipline); state bit-identical to the long-form path
    val coarse = Cluster.coarseStateFromQ(
      embeddings.select(col("vec_id"), Cluster.qCol(scale).as("q"))
        .localCheckpoint(false), d, coarseK, 2)
    if (coarse.isEmpty) return emptyNeighbors(embeddings)
    require(nProbe >= 1, s"nProbe must be positive, got $nProbe")
    val np = math.min(nProbe, coarse.size)
    // per-dim [min, max] over the corpus: one aggregate, 2·d doubles
    val mmRow = embeddings.select(
      (1 to d).flatMap(i =>
        Seq(min(el(col("embedding"), i)), max(el(col("embedding"), i)))): _*)
      .collect().head
    val mn = (0 until d).map(i => mmRow.getDouble(2 * i))
    val mx = (0 until d).map(i => mmRow.getDouble(2 * i + 1))
    val st = (0 until d).map(i => (mx(i) - mn(i)) / 255.0)
    // the SQ "codebook" as a PqAdcDot mean table: d subspaces of width
    // 1 with 256 affine reconstruction points each
    val means: Seq[Seq[Seq[Double]]] = (0 until d).map { i =>
      (0 until 256).map(c => Seq(mn(i) + (c + 0.5) * st(i)))
    }
    val msq: Seq[Seq[Double]] = means.map(_.map(v => v.head * v.head))
    val qc = Cluster.qCol(scale)
    val sqCodes = array((0 until d).map { i =>
      if (mx(i) == mn(i)) lit(0)
      else least(lit(255L), greatest(lit(0L),
        floor((el(col("embedding"), i + 1) - lit(mn(i))) /
          lit(mx(i) - mn(i)) * lit(255.0)))).cast(IntegerType)
    }: _*)
    val reconNsq = (0 until d).map(i =>
        element_at(typedlit(msq(i)), element_at(col("codes"), i + 1) + 1))
      .reduceLeft(_ + _)
    val base = spread(embeddings, col("vec_id")).select(
        col("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("nsq"),
        KMeansCells.probe(qc, Cluster.exprState(coarse), np).as("cells"),
        sqCodes.as("codes"))
      .withColumn("rnsq", reconNsq)
      .localCheckpoint(false)
    val probes = base.filter(col("nsq") > 0)
      .select(col("vec_id"), col("embedding").as("emb_a"), col("nsq").as("nsq_a"),
        explode(col("cells")).as("cell"))
    val indexed = base.filter(col("rnsq") > 0)
      .select(col("vec_id").as("neighbor_id"), col("codes").as("codes_b"),
        element_at(col("cells"), 1).as("cell"), col("rnsq"))
    topK(probes.join(indexed, Seq("cell"), "inner")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        PqAdcDot.adcDot(col("emb_a"), col("codes_b"), means) /
          (sqrt(col("nsq_a")) * sqrt(col("rnsq"))))
      .select(col("vec_id"), col("neighbor_id"), col("cosine")), k)
  }

  /** IVF-BQ search — binary (1-bit sign) quantization with a symmetric
    * Hamming pre-filter and an exact refine, the extreme-compression
    * endpoint of the quantizer family (float 32 → SQ8 8 → PQ ~1 →
    * BQ exactly 1 bit/dim): each dimension contributes its SIGN
    * (`bit = x_i > 0`), packed into ⌈d/32⌉ 32-bit words, and candidate
    * ranking is the symmetric Hamming distance
    * `Σ_j popcount(words_a[j] XOR words_b[j])` — both sides binarized,
    * the cheapest possible compare (one XOR+POPCNT per 32 dims, no
    * floats, no table lookups). Because 1-bit distortion is too coarse
    * to rank a final top-k, the Hamming ranking only SELECTS the
    * `refineR` nearest codes per query (pooled across its probed cells,
    * ties to the lower neighbor id) and the exact full-precision cosine
    * re-ranks those survivors — the mandatory-refine deployment shape
    * (binary codes prune, floats decide) every production BQ system
    * uses. Routing is the same trained coarse quantizer as
    * [[ivfTopKTrained]]/[[ivfSqTopK]]/[[ivfPqTopK]].
    *
    * Everything the ranking touches is exact integer arithmetic (sign
    * test, XOR, popcount, id tie-break), so unlike the ADC families the
    * candidate ORDER itself is engine-independent by construction; the
    * refine stage is [[ivfPqRefinedTopK]]'s exactRescore verbatim.
    *
    * Scale shape: the indexed side ships ⌈d/32⌉ longs + a cell id per
    * vector — 8 bytes per 64 dims, 32× under the float payload and 4×
    * under SQ8 — and the refine fetches full vectors for ≤ refineR
    * survivors per query only (the [[ivfPqRefinedTopK]] traffic
    * contract). Zero training state beyond the coarse centroids: sign
    * codes need no corpus statistics at all, so codes stay valid under
    * any ingest that preserves signs. */
  def ivfBqTopK(embeddings: DataFrame, coarseK: Int = 8, nProbe: Int = 2,
      k: Int = 5, refineR: Int = 25): DataFrame = {
    import graft.ext.Cluster
    import org.apache.spark.sql.graft.KMeansCells
    require(refineR >= k, s"refineR must be >= k ($k), got $refineR")
    val gridOpt = Cluster.grid(embeddings)
    if (gridOpt.isEmpty) return emptyNeighbors(embeddings)
    val (scale, d) = gridOpt.get
    // one grid scan, one quantize+checkpoint (the ivfPqAdcPairs shared-
    // q-frame discipline); state bit-identical to the long-form path
    val coarse = Cluster.coarseStateFromQ(
      embeddings.select(col("vec_id"), Cluster.qCol(scale).as("q"))
        .localCheckpoint(false), d, coarseK, 2)
    if (coarse.isEmpty) return emptyNeighbors(embeddings)
    require(nProbe >= 1, s"nProbe must be positive, got $nProbe")
    val np = math.min(nProbe, coarse.size)
    val nw = (d + 31) / 32
    // sign-bit packing: 32 dims per word (32, not 64 — DuckDB's BIGINT
    // `<<` refuses bit 63, and 32-bit words keep every literal and OR
    // fold trivially exact in both engines)
    val words = (0 until nw).map { j =>
      val lo = 32 * j + 1
      val hi = math.min(d, 32 * j + 32)
      (lo to hi).map(i =>
          when(el(col("embedding"), i) > 0, lit(1L << (i - lo))).otherwise(lit(0L)))
        .reduceLeft((a, b) => a.bitwiseOR(b)).as(s"w$j")
    }
    val qc = Cluster.qCol(scale)
    val base = spread(embeddings, col("vec_id")).select(
        Seq(col("vec_id"),
          dot(col("embedding"), col("embedding")).as("nsq"),
          KMeansCells.probe(qc, Cluster.exprState(coarse), np).as("cells")) ++ words: _*)
      .filter(col("nsq") > 0) // zero vectors neither query nor index (no cosine)
      .localCheckpoint(false) // feeds both sides of the Hamming join
    val probes = base.select(
      Seq(col("vec_id"), explode(col("cells")).as("cell")) ++
        (0 until nw).map(j => col(s"w$j").as(s"a$j")): _*)
    val indexed = base.select(
      Seq(col("vec_id").as("neighbor_id"), element_at(col("cells"), 1).as("cell")) ++
        (0 until nw).map(j => col(s"w$j").as(s"b$j")): _*)
    val ham = (0 until nw)
      .map(j => bit_count(col(s"a$j").bitwiseXOR(col(s"b$j"))))
      .reduceLeft(_ + _)
    // refineR-per-probe pruning (heap vs window: the topK A/B switch)
    val cand = topKPrune(
      probes.join(indexed, Seq("cell"))
        .filter(col("vec_id") =!= col("neighbor_id"))
        .withColumn("ham", ham)
        .select(col("vec_id"), col("neighbor_id"), col("ham")),
      Seq(col("ham"), col("neighbor_id")), refineR)
    exactRescoreTopK(embeddings, cand, k)
  }

  /** IVF-PQ search with RESIDUAL encoding — FAISS IVFPQ proper: the
    * codebook quantizes `x − centroid(cell(x))` instead of the raw
    * vector ([[graft.ext.Cluster.residualPqState]]), so the same m·log₂k
    * bits describe a cell-diameter spread instead of the whole corpus's
    * — the standard accuracy move at high coarseK.
    *
    * Scoring decomposes exactly like FAISS's precomputed-table ADC:
    * `recon(y) = cm(cell_y) + rscale·pq(codes_y)`, so
    *
    *   dot(q, recon)  = dot(q, cm(cell))  +  rscale · dot(q, pq(codes))
    *   |recon|²       = |cm|² + 2·rscale·dot(cm, pq) + rscale²·|pq|²
    *
    * The first dot is one [[org.apache.spark.sql.graft.PqAdcDot]] lookup
    * with the coarse table as a single full-width "subspace" (code =
    * cell id); the second is the usual per-subspace ADC loop; the three
    * |recon|² terms are literal-table lookups — `dot(cm, pq)` per
    * (cell, code) is FAISS's `use_precomputed_table` term, built driver-
    * side from the bounded training state (coarseK·kSub doubles per
    * subspace). Candidate traffic is IDENTICAL to [[ivfPqTopK]] (m ints
    * + one norm per indexed vector); plan shape is identical too.
    *
    * Every IEEE step replays in SQL (assignment, residual, residual
    * grid, per-subspace Lloyd, the two dot chains, the three-term norm),
    * so the approximate ranking is hash-checked end-to-end. */
  def ivfPqResidualTopK(embeddings: DataFrame, m: Int = 8, kSub: Int = 64,
      coarseK: Int = 8, nProbe: Int = 2, k: Int = 5, iters: Int = 2): DataFrame = {
    import graft.ext.Cluster
    import org.apache.spark.sql.graft.{KMeansCells, PqAdcDot}
    val stOpt = Cluster.residualPqState(embeddings, m, kSub, iters, coarseK)
    if (stOpt.isEmpty || stOpt.get.coarse.isEmpty || stOpt.get.subs.exists(_.isEmpty)) {
      val spark = embeddings.sparkSession
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id", LongType),
          org.apache.spark.sql.types.StructField("neighbor_id", LongType),
          org.apache.spark.sql.types.StructField("cosine", DoubleType),
          org.apache.spark.sql.types.StructField("rank", IntegerType))))
    }
    val st = stOpt.get
    require(nProbe >= 1, s"nProbe must be positive, got $nProbe")
    val np = math.min(nProbe, st.coarse.size) // clamp, as in ivfTopKTrained
    val d = st.d
    val dsub = st.dsub
    // driver-built scoring tables, all from the bounded training state.
    // cmMeans is indexed by raw cell id (the flatMeans layout).
    val maxCell = st.coarse.map(_.cell).max
    val cmMeans: IndexedSeq[IndexedSeq[Double]] =
      (0 to maxCell).map(c => st.cmFlat.slice(c * d, (c + 1) * d))
    val cmsq: IndexedSeq[Double] =
      cmMeans.map(_.foldLeft(0.0)((a, x) => a + x * x))
    // guarded table build (|s|² < 2⁵³ fail-loud, as every scorer path)
    val subExpr: Seq[Seq[(Int, Double, Double, Seq[Long])]] =
      st.subs.map(Cluster.exprStateOf)
    // per-subspace mean / |mean|² / cross tables indexed by raw code id
    val maxSub: Seq[Int] = st.subs.map(_.map(_.cell).max)
    val subMeans: Seq[Seq[Seq[Double]]] = st.subs.zipWithIndex.map { case (cells, s) =>
      val byCell = cells.map(c => c.cell -> c).toMap
      (0 to maxSub(s)).map(c => byCell.get(c) match {
        case Some(cen) => cen.s.toIndexedSeq.map(x => x.toDouble / cen.n.toDouble)
        case None => IndexedSeq.fill(dsub)(0.0)
      })
    }
    val msqSub: Seq[IndexedSeq[Double]] = subMeans.map(_.map(
      _.foldLeft(0.0)((a, x) => a + x * x)).toIndexedSeq)
    // FAISS's precomputed table: dot(cm slice s of cell, subspace-s mean
    // of code), flattened (cell · stride + code) — same left-to-right
    // accumulation the oracle's chain spells
    val crossFlat: Seq[IndexedSeq[Double]] = (0 until m).map { s =>
      (0 to maxCell).flatMap { cell =>
        (0 to maxSub(s)).map { code =>
          var acc = 0.0
          var i = 0
          while (i < dsub) {
            acc += cmMeans(cell)(s * dsub + i) * subMeans(s)(code)(i); i += 1
          }
          acc
        }
      }
    }
    val qc = Cluster.qCol(st.scale)
    val coarseExpr = Cluster.exprState(st.coarse)
    val base0 = spread(embeddings, col("vec_id")).select(
        col("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("nsq"),
        KMeansCells.probe(qc, coarseExpr, np).as("cells"),
        qc.as("q"))
      .withColumn("cell0", element_at(col("cells"), 1))
    // residual vs the OWN cell on the trainer's exact layout, then codes
    val rCol = array((1 to d).map(j => el(col("q"), j).cast(DoubleType) -
      element_at(typedlit(st.cmFlat), col("cell0") * d + j)): _*)
    val rqCol =
      if (st.rscale == 0.0) array((1 to d).map(_ => lit(0L)): _*)
      else transform(rCol, x => floor(x / lit(st.rscale) + lit(0.5)).cast(LongType))
    val codesCol = array((0 until m).map(s =>
      KMeansCells.argmin(slice(col("rq"), s * dsub + 1, dsub), subExpr(s))): _*)
    val crossSum = (0 until m).map(s =>
      element_at(typedlit(crossFlat(s)),
        col("cell0") * (maxSub(s) + 1) + element_at(col("codes"), s + 1) + 1))
      .reduceLeft(_ + _)
    val subsqSum = (0 until m).map(s =>
      element_at(typedlit(msqSub(s)), element_at(col("codes"), s + 1) + 1))
      .reduceLeft(_ + _)
    val rnsqCol = element_at(typedlit(cmsq), col("cell0") + 1) +
      lit(2.0 * st.rscale) * crossSum + lit(st.rscale * st.rscale) * subsqSum
    val base = base0.withColumn("rq", rqCol)
      .withColumn("codes", codesCol)
      .withColumn("rnsq", rnsqCol)
      .select(col("vec_id"), col("embedding"), col("nsq"), col("cells"),
        col("cell0"), col("codes"), col("rnsq"))
      .localCheckpoint(false)
    val probes = base.filter(col("nsq") > 0)
      .select(col("vec_id"), col("embedding").as("emb_a"), col("nsq").as("nsq_a"),
        explode(col("cells")).as("cell"))
    // indexed side: m ints + one norm, the same traffic as ivfPqTopK
    val indexed = base.filter(col("rnsq") > 0)
      .select(col("vec_id").as("neighbor_id"), col("codes").as("codes_b"),
        col("cell0").as("cell"), col("rnsq"))
    val pairs = probes.join(indexed, Seq("cell"), "inner")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        (PqAdcDot.adcDot(col("emb_a"), array(col("cell")), Seq(cmMeans)) +
          lit(st.rscale) * PqAdcDot.adcDot(col("emb_a"), col("codes_b"), subMeans)) /
          (sqrt(col("nsq_a")) * sqrt(col("rnsq"))))
      .select(col("vec_id"), col("neighbor_id"), col("cosine"))
    topK(pairs, k)
  }

  /** Brute all-pairs near-dup TRUTH: every unordered pair whose EXACT
    * cosine clears `threshold` — the audit baseline
    * [[embeddingNearDups]]' recall is measured against (the bucket
    * join can only MISS pairs, never invent them: its candidates are
    * exact-cosine verified, so hits/truth IS the recall). Same
    * broadcast-index kernel and left-to-right double discipline as
    * [[bruteTopK]] — the dot adds in index order, bit-matching the
    * oracle's expression chain; zero-norm vectors are excluded by the
    * same contract. Truth-kernel scale posture: n²·d FLOPs with the
    * index broadcast — an AUDIT tool run at fixture scale (production
    * audits sample), exactly like the ann_recall brute kernels. */
  def bruteNearDupPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val index: Array[(Long, Array[Double])] = embeddings
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().map { case (id, a) => (id, a.map(_.toDouble)) }.sortBy(_._1)
    val bc = spark.sparkContext.broadcast(index)
    val probes = spread(embeddings.select(col("vec_id"), col("embedding")), col("vec_id"))
      .as[(Long, Array[Float])]
    probes.mapPartitions { it =>
      val idx = bc.value
      val norms = idx.map { case (_, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        math.sqrt(s)
      }
      it.flatMap { case (qid, qf) =>
        val q = qf.map(_.toDouble)
        var nq = 0.0; var i = 0
        while (i < q.length) { nq += q(i) * q(i); i += 1 }
        val qn = math.sqrt(nq)
        if (qn == 0.0) Iterator.empty
        else idx.iterator.zipWithIndex.flatMap { case ((nid, nv), j) =>
          if (nid <= qid || norms(j) == 0.0) None
          else {
            var dot = 0.0; var m = 0
            while (m < q.length) { dot += q(m) * nv(m); m += 1 }
            val cos = dot / (qn * norms(j))
            if (cos >= threshold) Some((qid, nid, cos)) else None
          }
        }
      }
    }.toDF("vec_id", "neighbor_id", "cosine")
  }

  /** Embedding-cosine near-duplicate DEDUP view: unordered candidate
    * pairs from the LSH buckets whose cosine clears `threshold` — the
    * "drop one of each pair" input of an embedding-dedup pipeline.
    * Same bucket-join scale shape as [[lshTopK]] (never n²). */
  def embeddingNearDups(embeddings: DataFrame, nBits: Int, threshold: Double): DataFrame = {
    val d = dim(embeddings)
    val e = spread(embeddings, col("vec_id")).select(col("vec_id"), col("embedding"),
      dot(col("embedding"), col("embedding")).as("nsq"),
      lshBucket(col("embedding"), d, nBits).as("bucket"))
      .filter(col("nsq") > 0) // zero-norm vectors have no cosine (see bruteTopK)
    val left  = e.select(col("bucket"), col("vec_id"), col("embedding").as("emb_a"), col("nsq").as("nsq_a"))
    val right = e.select(col("bucket"), col("vec_id").as("neighbor_id"), col("embedding").as("emb_b"), col("nsq").as("nsq_b"))
    left.join(right, Seq("bucket"), "inner")
      .filter(col("vec_id") < col("neighbor_id"))
      .withColumn("cosine",
        dot(col("emb_a"), col("emb_b")) / (sqrt(col("nsq_a")) * sqrt(col("nsq_b"))))
      .filter(col("cosine") >= threshold)
      .select(col("vec_id").as("keep_id"), col("neighbor_id").as("dup_id"), col("cosine"))
  }
}
