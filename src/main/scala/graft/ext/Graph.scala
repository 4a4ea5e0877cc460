package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph centrality for corpus curation — the web-graph quality signal
  * (PageRank-family) large-scale training-data pipelines weight
  * documents by, re-expressed as keyed Spark aggregations with an
  * EXACT-INTEGER iteration so the fixpoint prefix hash-replays in SQL.
  *
  * Numeric-determinism contract: float PageRank accumulates partition-
  * order-dependent IEEE sums (never cross-engine-reproducible), so rank
  * mass here is an int64 budget of `mass` units (10¹²): every vertex
  * starts at `mass div V`, each iteration sends `r div outdeg` whole
  * units down every out-edge, and the damped update is
  * `base + (85 · Σ in) div 100` with `base = (15 · (mass div V)) div
  * 100` — floor divisions both engines define identically on
  * non-negative ints. The tiny mass shed by the floors only ever
  * SHRINKS ranks (never reorders a dominant vertex), and determinism
  * is what buys the oracle.
  *
  * Scale shape: rank state is a V-row DataFrame (never collected);
  * each iteration is one src-keyed equi-join + one dst-keyed sum + one
  * vertex-keyed left join — keyed shuffles only, no driver loops over
  * data. The edge frame (with out-degrees) is checkpointed once and
  * reused by every round. Supernode protection is the CALLER's job
  * (cap degrees before calling — see [[docCentrality]]'s df window),
  * because only the caller knows which high-degree vertices are
  * stopword-like noise versus signal.
  */
object Graph {

  private val RankSchema = StructType(Seq(
    StructField("vertex", StringType), StructField("rank_units", LongType)))

  private def emptyRanks(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.emptyRDD[Row], RankSchema)

  /** The shared per-round state: vertex frame, edge frame with riding
    * out-degrees, the distinct non-dangling (has-out-edges) vertex set,
    * vertex count, and the damped-update constants. */
  private case class PrState(v: DataFrame, eo: DataFrame, outV: DataFrame,
      nV: Long, init: Long, base: Long)

  private def prState(edges: DataFrame, mass: Long,
      redistribute: Boolean): Option[PrState] = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint(false)
    // SCALE-ADAPTIVE partition count for the round-invariant frames,
    // derived from the edge count (one cheap count over the checkpointed
    // edge frame): ~100k edge rows per partition, capped at the session
    // parallelism. All three frames use the SAME explicit N — an N-less
    // repartition(col) is coalesced per-frame by AQE on small data, and
    // hashpartitioning(vertex, n1) vs hashpartitioning(src, n2) with
    // n1 != n2 silently re-exchanges every round (r20 advisor). A
    // CONSTANT N was measured worse locally (+0.2-2 s/query: 3 joins x
    // iters x 32 near-empty tasks of fixed scheduling overhead at
    // sf0.1) and would under-partition a 100 TB graph anyway.
    val nE = e.count()
    val nPart = math.max(1L, math.min(
      graft.operators.Partitioning.numPartitions(e.sparkSession).toLong,
      nE / 100000L + 1L)).toInt
    // vertex set pre-partitioned on its key: the per-round damped
    // update joins `v` on vertex against an aggregation that is ALREADY
    // hash(vertex)-partitioned, so materializing v in that layout makes
    // every round's update join exchange-free on the v side (guide
    // §2.4: two operations keyed the same way share one exchange)
    val v = e.select(col("src").as("vertex"))
      .union(e.select(col("dst").as("vertex")))
      .distinct().repartition(nPart, col("vertex")).localCheckpoint(false)
    val nV = v.count()
    if (nV == 0) None
    else {
      val init = mass / nV
      // out-degrees ride WITH the edges so each round joins once on
      // src; pre-partitioned on src so the per-round contribution join
      // never re-exchanges the E-row side (the rank side arrives
      // hash(vertex)-partitioned from the previous round's update)
      val eo = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
        .join(e, Seq("src")).repartition(nPart, col("src")).localCheckpoint(false)
      // the non-dangling vertex set is ROUND-INVARIANT: computed and
      // materialized once here instead of a distinct over E strings
      // inside every round's dangling-mass anti-join
      val outV =
        if (redistribute)
          eo.select(col("src").as("vertex")).distinct()
            .repartition(nPart, col("vertex")).localCheckpoint(false)
        else e.limit(0).select(col("src").as("vertex"))
      Some(PrState(v, eo, outV, nV, init, (15L * init) / 100L))
    }
  }

  /** One damped round: src-keyed contribution join, dst-keyed sum,
    * vertex-keyed update. With `redistribute`, the mass parked on
    * DANGLING vertices (no out-edges) is shared back uniformly inside
    * the damped term — `share = dsum div V` whole units to every
    * vertex, a 1-row aggregate cross-joined into the update (stays in
    * the plan, never collected) — so total mass is conserved up to
    * floor shed instead of leaking through sinks. */
  private def prRound(st: PrState, r: DataFrame,
      redistribute: Boolean): DataFrame = {
    val in = st.eo.join(r, st.eo("src") === r("vertex"))
      .select(col("dst").as("vertex"),
        expr("rank_units div outdeg").as("contrib"))
      .groupBy(col("vertex")).agg(sum(col("contrib")).as("in_sum"))
    val upd = st.v.join(in, Seq("vertex"), "left")
    val next =
      if (redistribute) {
        val dsum = r.join(st.outV, Seq("vertex"), "left_anti")
          .agg(coalesce(sum(col("rank_units")), lit(0L)).as("dsum"))
        upd.crossJoin(broadcast(dsum))
          .select(col("vertex"),
            expr(s"${st.base} + (85 * (coalesce(in_sum, 0) + dsum div ${st.nV})) div 100")
              .as("rank_units"))
      } else
        upd.select(col("vertex"),
          expr(s"${st.base} + (85 * coalesce(in_sum, 0)) div 100")
            .as("rank_units"))
    next.localCheckpoint(false) // each round feeds the next + the caller
  }

  /** `iters` damped PageRank rounds over a directed `(src, dst)` edge
    * frame of STRING vertex ids; returns `(vertex, rank_units)` for
    * every vertex that appears in an edge. By default vertices with no
    * out-edges shed their mass (documented dangling-mass loss — at a
    * fixed iteration count the ranking signal survives); with
    * `redistributeDangling` their mass is returned uniformly to every
    * vertex inside the damped term. Vertices with no in-edges settle
    * at `base` (+ the share when redistributing). */
  def pageRank(edges: DataFrame, iters: Int = 3,
      mass: Long = 1000000000000L,
      redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(mass > 0, s"mass must be positive, got $mass")
    prState(edges, mass, redistributeDangling) match {
      case None => emptyRanks(edges)
      case Some(st) =>
        var r = st.v.select(col("vertex"), lit(st.init).as("rank_units"))
        (1 to iters).foreach { _ => r = prRound(st, r, redistributeDangling) }
        r
    }
  }

  /** PageRank run to CONVERGENCE instead of a fixed round count: stops
    * after the first round whose max per-vertex |Δrank| is at most
    * `(init · epsPct) div 100` units (eps as a percentage of the
    * per-vertex seed, so the stopping rule is scale-invariant across
    * corpus sizes — hub vertices start several seeds away from their
    * fixpoint, so useful thresholds sit ABOVE 100%), or after
    * `maxIters` rounds. The per-round delta check is one 1-row
    * aggregate collect — iterations are inherently sequential driver
    * barriers already, so the check adds no new scaling term. Exact
    * integer arithmetic means both engines compute bit-identical rank
    * frames, hence the identical stopping round — what makes a
    * convergence RULE (not just a fixed prefix) oracle-replayable. */
  def pageRankConverged(edges: DataFrame, maxIters: Int = 12,
      epsPct: Long = 800L, mass: Long = 1000000000000L,
      redistributeDangling: Boolean = false): DataFrame = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    require(epsPct >= 1, s"epsPct must be >= 1, got $epsPct")
    require(mass > 0, s"mass must be positive, got $mass")
    prState(edges, mass, redistributeDangling) match {
      case None => emptyRanks(edges)
      case Some(st) =>
        val eps = (st.init * epsPct) / 100L
        var r = st.v.select(col("vertex"), lit(st.init).as("rank_units"))
        var round = 0
        var converged = false
        while (round < maxIters && !converged) {
          val next = prRound(st, r, redistributeDangling)
          val delta = next.join(r.withColumnRenamed("rank_units", "prev"),
              Seq("vertex"))
            .agg(coalesce(max(abs(col("rank_units") - col("prev"))), lit(0L)))
            .head().getLong(0)
          r = next
          round += 1
          converged = delta <= eps
        }
        r
    }
  }

  /** Document centrality over the doc–shingle bipartite graph — the
    * TextRank/web-graph idea applied to corpus quality: a document is
    * central when it shares informative n-gram shingles with many
    * central documents. Edges connect `d:<doc_id>` to `t:<shingle
    * hash>` BOTH ways (undirected random walk) for per-doc-DISTINCT
    * shingle hashes ([[MinHash.shingleHashes]] — the int64 unit every
    * near-dup operator shuffles, not the n·wordlen-byte string) inside
    * the df window `minDf ≤ df ≤ maxDf`: singleton shingles carry no
    * cross-document signal, and boilerplate-grade supernodes (df >
    * maxDf) would both flood one reducer key AND launder rank mass
    * through semantically empty hubs (the ngramJaccardPairs
    * doc-frequency pruning discipline, reused for degree capping).
    * Documents with no in-window shingles are absent from the output,
    * exactly as they are absent from the pruned graph. */
  def docCentrality(documents: DataFrame, n: Int = 3, minDf: Int = 2,
      maxDf: Int = 20, iters: Int = 3): DataFrame =
    docRanks(docShingleEdges(documents, n, minDf, maxDf), df =>
      pageRank(df, iters))

  /** [[docCentrality]] under the CONVERGENCE stopping rule — identical
    * graph, [[pageRankConverged]] engine. The bipartite graph has no
    * dangling vertices (every edge ships both ways), so redistribution
    * is structurally a no-op here and stays off. */
  def docCentralityConverged(documents: DataFrame, n: Int = 3,
      minDf: Int = 2, maxDf: Int = 20, maxIters: Int = 12,
      epsPct: Long = 800L): DataFrame =
    docRanks(docShingleEdges(documents, n, minDf, maxDf), df =>
      pageRankConverged(df, maxIters, epsPct))

  private def docRanks(edges: DataFrame,
      rank: DataFrame => DataFrame): DataFrame =
    rank(edges)
      .filter(col("vertex").startsWith("d:"))
      .select(expr("CAST(substring(vertex, 3) AS BIGINT)").as("doc_id"),
        col("rank_units"))

  private def docShingleEdges(documents: DataFrame, n: Int, minDf: Int,
      maxDf: Int): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    require(maxDf >= minDf, s"maxDf ($maxDf) must be >= minDf ($minDf)")
    // checkpoint the (doc_id, hashes) frame BEFORE exploding — the
    // ngramJaccardPairs discipline: explode() is a Generate node, and
    // generating straight off the un-materialized hash expression
    // re-evaluates the token-hash lambda without CSE (the
    // O(tokens²·chars) pathology tokenHashFrame documents; measured
    // 226 s vs 1.5 s at sf0.1 before this ordering)
    val docSh = MinHash.shingleHashes(documents, n).localCheckpoint(false)
    val ex = docSh.select(col("doc_id"), explode(col("hashes")).as("s"))
    val kept = ex.join(
      ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= minDf && col("df") <= maxDf)
        .select(col("s")),
      Seq("s"))
    val docV = concat(lit("d:"), col("doc_id").cast(StringType))
    val termV = concat(lit("t:"), col("s").cast(StringType))
    // both directions from ONE pass over `kept`: a union of two selects
    // re-evaluates the explode + df-count join once PER BRANCH (Catalyst
    // does not CSE across union branches, and materializing `kept` costs
    // more than it saves — measured r20); a 2-element array explode
    // emits the same row multiset in a single evaluation
    kept.select(explode(array(
        struct(docV.as("src"), termV.as("dst")),
        struct(termV.as("src"), docV.as("dst")))).as("edge"))
      .select(col("edge.src").as("src"), col("edge.dst").as("dst"))
  }
}
