package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.States

/** MinHash+LSH and SimHash near-duplicate detection over `documents`.
  *
  * All hashing is engine-agnostic integer arithmetic (no murmur/xxhash —
  * those differ per engine and would make the oracle unreproducible):
  *
  *  - token hash  H(t) = sum_i ascii(c_i) * ((i*131 + 7) % 99991)  mod P
  *    (position-weighted char sum: an order-independent SUM any SQL
  *    engine computes identically; chars via split + empty-filter
  *    because Java regex split keeps a trailing "");
  *  - shingle hash = (H(t_i) + 131*H(t_{i+1}) + 131²*H(t_{i+2})) mod P —
  *    COMPOSED from token hashes so the char-level work is done once per
  *    token, not once per shingle (3× less, and the composition is a
  *    flat codegen-friendly expression);
  *  - minhash_k    = min over shingle hashes of (A_k*h + B_k) mod P;
  *  - LSH bands    = adjacent signature pairs packed into one int64 —
  *    candidate pairs share (band index, band value).
  *
  * Cost discipline at scale: the signature table is computed ONCE and
  * cached (it is reused by banding and both sides of the candidate
  * join — at production scale you would materialize it, which is the
  * same decision); candidates are verified CHEAPLY first (signature
  * similarity, 12 comparisons) and the exact-Jaccard set intersection
  * runs only on pairs passing that screen — the standard
  * shingle→minhash→band→bucket-join→verify dedup shape.
  */
object MinHash {

  val P = 1000003L
  val NumHashes = 12
  val BandSize = 2
  /** Candidate pairs must agree on at least this many signature
    * components before the (expensive) exact-Jaccard verify runs. */
  val MinSigMatches = 6
  def numBands: Int = NumHashes / BandSize

  /** Per-k affine constants, derived (not random) so the oracle can emit
    * the same integers. */
  def hashA(k: Int): Long = ((k + 1).toLong * 2654435761L % P) | 1L
  def hashB(k: Int): Long = (k + 1).toLong * 40503L % P

  /** Engine-agnostic token hash (see object doc). The % P folds into the
    * per-char term — mathematically identical to one final mod (mod
    * distributes over the sum) but it bounds every intermediate at
    * len·P ≈ len·10⁶, so the int64 sum cannot overflow before ~10¹²
    * chars (an unmodded term is ascii·weight ≈ 10¹¹, overflowing — Spark
    * wrapping while the oracle raises — near 10⁸ chars). */
  def stringHash(s: Column): Column = {
    val chars = filter(split(s, ""), c => c =!= "")
    val weighted = zip_with(chars, sequence(lit(1), size(chars)),
      (c, i) => (ascii(c).cast(LongType) * ((i.cast(LongType) * 131L + 7L) % 99991L)) % P)
    aggregate(weighted, lit(0L), (a, x) => a + x) % P
  }

  /** SQL twin of [[stringHash]]. */
  def stringHashSql(s: String): String =
    s"list_sum(list_transform(list_filter(string_split($s, ''), c -> c <> ''), " +
      s"(c, i) -> (ascii(c) * ((i * 131 + 7) % 99991)) % $P)) % $P"

  /** 131^d factors for the shingle composition. */
  def shingleWeight(d: Int): Long = (0 until d).foldLeft(1L)((a, _) => a * 131L)

  /** n-gram shingle hashes composed from the per-token hash array. */
  def shingleHashesFromTokens(th: Column, n: Int): Column =
    when(size(th) < n, array().cast(ArrayType(LongType)))
      .otherwise(transform(sequence(lit(1), size(th) - (n - 1)), i =>
        (0 until n).map(d => element_at(th, i + d) * lit(shingleWeight(d))).reduce(_ + _) % P))

  import graft.operators.Partitioning.spread

  /** `(doc_id, carry..., th)` — the shared first stage of every
    * text-hashing pipeline (shingles, simhash, repetition): per-token
    * hash arrays MATERIALIZED behind an exchange barrier. Expressions
    * inside array lambdas get no common-subexpression elimination, so an
    * inline `transform(...)` would be re-evaluated on every `element_at`
    * — O(tokens²·chars) per document instead of O(tokens·chars). The
    * first spread parallelizes the hashing; the second is the
    * CollapseProject barrier (without it Catalyst inlines `th` back into
    * every consumer — explicit N because AQE would coalesce a small
    * input to one task and serialize everything downstream). */
  def tokenHashFrame(documents: DataFrame, carry: Seq[String] = Nil): DataFrame =
    spread(documents, col("doc_id"))
      .select((col("doc_id") +: carry.map(col)) :+
        transform(split(col("text"), " "), t => stringHash(t)).as("th"): _*)
      .transform(df => spread(df, col("doc_id")))

  /** doc_id + distinct-shingle-hash array (docs shorter than n tokens
    * have no shingles and are dropped — nothing to near-dup on). */
  def shingleHashes(documents: DataFrame, n: Int): DataFrame =
    tokenHashFrame(documents)
      .select(col("doc_id"),
        array_distinct(shingleHashesFromTokens(col("th"), n)).as("hashes"))
  // NOTE: no `filter(size(hashes) > 0)` here — predicate pushdown would
  // inline the whole hash expression below the exchange into a
  // single-partition Filter; callers screen empty docs on the CACHED
  // frame instead (see nearDupPairs).

  /** MinHash signature columns sig0..sig{K-1}. */
  def withSignature(sh: DataFrame): DataFrame =
    (0 until NumHashes).foldLeft(sh) { (df, k) =>
      df.withColumn(s"sig$k",
        array_min(transform(col("hashes"), h => (h * hashA(k) + hashB(k)) % P)))
    }

  /** ONE delta's MinHash signature-index state: `(doc_id, hashes,
    * sig0..sig{K-1})` — the add/merge ingest contract ([[graft.ext.Text.ngramAdd]]'s
    * discipline) applied to near-dup dedup. Every state row is a PURE
    * per-document function of that document's text (shingle set +
    * 12-component signature), so deltas never interact at add time:
    * `mergeMinhash(minhashAdd(A), minhashAdd(B)) ≡ minhashAdd(A ∪ B)`
    * bit-for-bit for disjoint deltas, and value-identical rows under
    * overlap (re-ingesting a doc reproduces its row exactly). At 100 TB
    * this is the state a crawl-snapshot dedup maintains: yesterday's
    * signature index persists; today's delta runs ONE add pass over the
    * new documents only, never re-hashing the corpus. Rows whose docs
    * are shorter than n tokens carry empty `hashes` (nothing to near-dup
    * on); [[nearDupPairsFromState]] screens them after its checkpoint
    * barrier — see the pushdown note on [[shingleHashes]]. */
  def minhashAdd(delta: DataFrame, n: Int): DataFrame =
    withSignature(shingleHashes(delta, n))

  /** Exact merge of [[minhashAdd]] states: id-keyed first-wins union.
    * Disjoint deltas make this a plain union; under overlap the
    * duplicate rows are value-identical (the state is a pure function
    * of the doc), so dropping by key is deterministic — the same
    * first-wins idempotency [[graft.sources.Load.firstWins]] gives the
    * exact-dedup path. One key-hash exchange over state-sized (not
    * corpus-sized) rows. */
  def mergeMinhash(states: DataFrame*): DataFrame =
    States.merge(states, Seq("doc_id"),
      ("hashes" +: (0 until NumHashes).map(k => s"sig$k")).map(_ -> States.First): _*)

  /** Candidate pairs sharing at least one LSH band, screened by
    * signature similarity, then verified with exact Jaccard over the
    * shingle-hash sets — off a maintained [[minhashAdd]]/[[mergeMinhash]]
    * signature-index state, so an incremental deployment pays banding +
    * joins over STATE rows and never re-hashes document text. */
  def nearDupPairsFromState(state: DataFrame): DataFrame = {
    // materialized once, reused by banding + both join sides (see object
    // doc). localCheckpoint, not .cache(): the blocks are owned by the
    // RDD (the ContextCleaner frees them when the result frame is GC'd)
    // instead of the session CacheManager, so a long-lived session
    // embedding this operator doesn't accumulate storage entries that
    // only an explicit clearCache would release; it is also a harder
    // optimizer barrier than cache (the empty-shingle screen below and
    // the per-band projections can never be pushed into / inlined over
    // the hash computation). The tradeoff is FAULT TOLERANCE, not just
    // lineage: checkpoint blocks are unreplicated executor-local state,
    // so on a cluster losing an executor mid-query fails the job (cache
    // would recompute from lineage) — acceptable for these short-lived
    // intermediate frames; a deployment on preemptible nodes should
    // swap in reliable checkpointing or persist(DISK_ONLY_2) — or, in
    // the maintained-state shape, reads the state straight off parquet.
    val sig = state.localCheckpoint(false)
      .filter(size(col("hashes")) > 0)
    val bandCols = (0 until numBands).map { b =>
      struct(lit(b).as("band"), (col(s"sig${2 * b}") * P + col(s"sig${2 * b + 1}")).as("bval"))
    }
    val banded = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bval").as("bval"))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // ONE join per pair side, carrying sig + hashes together (two fewer
    // shuffles than a separate screen join + verify join); the cheap
    // signature screen still runs BEFORE the expensive set intersect —
    // same stage, short-circuiting the filter, so candidates failing the
    // screen never pay the array_intersect
    val sigCols = (0 until NumHashes).map(k => col(s"sig$k"))
    val side = sig.select(col("doc_id"), array(sigCols: _*).as("sig"), col("hashes"))
    cand
      .join(side.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"), col("hashes").as("h_a")), Seq("doc_a"))
      .join(side.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"), col("hashes").as("h_b")), Seq("doc_b"))
      .withColumn("sig_matches",
        aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) => (x === y).cast(LongType)),
          lit(0L), (a, x) => a + x))
      .filter(col("sig_matches") >= MinSigMatches)
      .select(
        col("doc_a"), col("doc_b"),
        (col("sig_matches").cast(DoubleType) / NumHashes).as("sig_similarity"),
        (size(array_intersect(col("h_a"), col("h_b"))).cast(DoubleType) /
          size(array_union(col("h_a"), col("h_b"))).cast(DoubleType)).as("jaccard"))
  }

  /** Batch composition: signatures from the corpus itself in one delta.
    * By the add/merge contract this is bit-identical to
    * [[nearDupPairsFromState]] over any merged ingest of the same corpus
    * — what the `minhash_near_dup_stream` twin asserts. */
  def nearDupPairs(documents: DataFrame, n: Int): DataFrame =
    nearDupPairsFromState(minhashAdd(documents, n))

  /** Incremental near-dup pairs TOUCHING a delta: pairs `(doc_a <
    * doc_b)` over `state ∪ delta` where at least one side is a delta
    * doc — the query a snapshot-over-snapshot dedup actually runs
    * (yesterday's index is already internally deduped; only
    * delta-vs-all and delta-vs-delta pairs are new). Produces EXACTLY
    * the full-corpus pairs restricted to delta-touching ones. Shape at
    * 100 TB: the delta's band keys are tiny next to the state's, so the
    * candidate join broadcasts the delta side and the state is probed
    * with ONE narrow scan — no state-sized shuffle anywhere (the verify
    * joins broadcast the small candidate set over the state the same
    * way). PRECONDITION: `state` must not already contain the delta's
    * doc_ids — id-dedup is [[mergeMinhash]]'s job at state-maintenance
    * time, once per snapshot, NOT a per-delta-query cost; a plain union
    * here keeps this query free of any state-keyed exchange (duplicate
    * ids would fan the verify joins out into duplicate pair rows). */
  def nearDupDeltaPairs(state: DataFrame, delta: DataFrame, n: Int): DataFrame = {
    val deltaState = minhashAdd(delta, n).localCheckpoint(false)
      .filter(size(col("hashes")) > 0)
    val stateCols = Seq(col("doc_id"), col("hashes")) ++
      (0 until NumHashes).map(k => col(s"sig$k"))
    // localCheckpoint: `all` feeds banding + both verify sides — same
    // reuse-and-barrier rationale as [[nearDupPairsFromState]] (a
    // deployment reading the state off parquet gets the reuse for free)
    val all = state.select(stateCols: _*).unionByName(deltaState.select(stateCols: _*))
      .localCheckpoint(false)
      .filter(size(col("hashes")) > 0)
    val bandCols = (0 until numBands).map { b =>
      struct(lit(b).as("band"), (col(s"sig${2 * b}") * P + col(s"sig${2 * b + 1}")).as("bval"))
    }
    def banded(df: DataFrame) =
      df.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band").as("band"), col("bk.bval").as("bval"))
    // delta side banded SMALL and broadcast; the state∪delta side is
    // probed in place. `=!=` (not `<`) so delta docs pair in BOTH
    // directions against older and newer ids; least/greatest restores
    // the canonical orientation before the distinct.
    val cand = banded(all).as("a")
      .join(broadcast(banded(deltaState)).as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval")
          && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    val sigCols = (0 until NumHashes).map(k => col(s"sig$k"))
    val side = all.select(col("doc_id"), array(sigCols: _*).as("sig"), col("hashes"))
    cand
      .join(side.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"), col("hashes").as("h_a")), Seq("doc_a"))
      .join(side.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"), col("hashes").as("h_b")), Seq("doc_b"))
      .withColumn("sig_matches",
        aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) => (x === y).cast(LongType)),
          lit(0L), (a, x) => a + x))
      .filter(col("sig_matches") >= MinSigMatches)
      .select(
        col("doc_a"), col("doc_b"),
        (col("sig_matches").cast(DoubleType) / NumHashes).as("sig_similarity"),
        (size(array_intersect(col("h_a"), col("h_b"))).cast(DoubleType) /
          size(array_union(col("h_a"), col("h_b"))).cast(DoubleType)).as("jaccard"))
  }

  // ------------------------------------------------------------- SimHash

  /** 56 bits: wide enough that unrelated docs sit near Hamming 28 (so a
    * ≤3 threshold has a deep noise margin — a 20-bit sketch flagged ~30%
    * of random pairs), and the top byte stays clear of the int64 sign. */
  val SimBits = 56
  /** Band layout for [[simHashNearDups]]: 7 bands × 8 bits. Two sketches
    * within Hamming distance 3 differ in at most 3 bands, so they agree
    * on at least one — banding over 7 bands has PERFECT recall at the
    * distance-3 threshold (pigeonhole), unlike probabilistic MinHash
    * banding. */
  val SimBandBits = 8
  def simBands: Int = SimBits / SimBandBits
  /** Per-bit affine rehash constants (offset past the minhash family). */
  def simA(j: Int): Long = hashA(32 + j)
  def simB(j: Int): Long = hashB(32 + j)
  val SimHalf: Long = (P - 1) / 2

  /** SimHash sketch: bit j is set when the sum over token hashes of the
    * CENTERED per-bit rehash `((h·A_j + B_j) mod P) − (P−1)/2` is
    * non-negative. The rehash matters: token hashes live below P ≈ 2^20,
    * so sketching their RAW bits caps the sketch at 20 informative bits
    * and correlates them across common tokens — the affine remix gives
    * each of the 56 bits an independent ±uniform vote per token.
    *
    * The 56 per-bit folds run as ONE native codegen expression
    * ([[org.apache.spark.sql.graft.SimHashSketch]], a fused token-outer
    * loop) — the Column-HOF form is 56 interpreted `aggregate` lambdas
    * each re-walking the token array; integer math makes the fusion
    * bit-exact. */
  def simHash(documents: DataFrame): DataFrame = {
    val as = (0 until SimBits).map(simA).toArray
    val bs = (0 until SimBits).map(simB).toArray
    tokenHashFrame(documents)
      // NULL text -> NULL th: the fold form and the SQL twin both yield
      // sketch 0 there (every per-bit CASE falls to ELSE 0), while a bare
      // UnaryExpression null-propagates — coalesce restores parity
      .select(col("doc_id"),
        coalesce(
          org.apache.spark.sql.graft.SimHashSketch.sketch(col("th"), as, bs, P, SimHalf),
          lit(0L)).as("simhash"))
  }

  /** ONE delta's SimHash sketch state `(doc_id, simhash)` — the same
    * add/merge discipline as [[minhashAdd]] applied to the SimHash
    * family: the sketch is a pure per-document function, so
    * `mergeSimhash(simhashAdd(A), simhashAdd(B)) ≡ simhashAdd(A ∪ B)`
    * for disjoint deltas and is idempotent under overlap. 9 bytes of
    * state per document — the cheapest signature index to maintain
    * across crawl snapshots. */
  def simhashAdd(delta: DataFrame): DataFrame = simHash(delta)

  /** Exact merge of [[simhashAdd]] states: id-keyed first-wins union
    * (duplicate rows are value-identical; see [[mergeMinhash]]). */
  def mergeSimhash(states: DataFrame*): DataFrame =
    States.merge(states, Seq("doc_id"), "simhash" -> States.First)

  /** SimHash near-dup pairs off a maintained [[simhashAdd]] state: band
    * the sketch (see [[SimBandBits]] — the banding is pigeonhole-exact
    * for the Hamming threshold, not probabilistic), equi-join on
    * (band, value), verify with `bit_count(xor)`. Same never-n² shape
    * as the MinHash pipeline but the verify is a single integer
    * instruction per pair — the cheapest of the near-dup families at
    * 100 TB. */
  def simHashNearDupsFromState(state: DataFrame, maxHamming: Int = 3): DataFrame = {
    // pigeonhole bound: <= maxHamming differing bits must leave at least
    // one UNTOUCHED band, which requires maxHamming < simBands — beyond
    // that the banding would silently miss qualifying pairs
    require(maxHamming >= 0 && maxHamming < simBands,
      s"maxHamming must be in [0, ${simBands - 1}] for exact recall with $simBands bands, got $maxHamming")
    val sh = state.localCheckpoint(false)
    val mask = (1L << SimBandBits) - 1
    val bandCols = (0 until simBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * SimBandBits).bitwiseAND(lit(mask)).as("bval"))
    }
    // the banded rows CARRY the 8-byte sketch, so the verify
    // (bit_count(xor) + threshold) runs INLINE in the band self-join and
    // the pair dedup collapses to one distinct over narrow verified
    // triples — no re-fetch joins (the shuffle-width lesson from
    // Sim.lshTopKTables: moving payloads through candidate re-fetch
    // joins costs more than carrying a small payload into the join).
    // hamming is deterministic per pair, so distinct on the triple
    // dedups exactly like distinct on the pair; filtering BEFORE the
    // distinct also shrinks that exchange to qualifying pairs only.
    val banded = sh.select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"), col("bk.bval").as("bval"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Batch composition: sketches from the corpus itself in one delta —
    * bit-identical to [[simHashNearDupsFromState]] over any merged
    * ingest of the same corpus (the `simhash_near_dup_stream` twin's
    * assertion). */
  def simHashNearDups(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    simHashNearDupsFromState(simhashAdd(documents), maxHamming)

  /** Incremental SimHash near-dup of ONE delta against state ∪ delta —
    * [[nearDupDeltaPairs]]' snapshot-over-snapshot shape on the SimHash
    * family (the last signature family without the delta-probe form):
    * the delta's band keys broadcast into the band join, the maintained
    * [[simhashAdd]] state scans once in place — no state-keyed
    * exchange. `=!=` (not `<`) so delta docs pair in BOTH directions;
    * least/greatest restores the canonical orientation and `hamming` is
    * deterministic per pair, so the distinct collapses the doubled
    * delta-delta rows. By the pigeonhole bound the result is EXACTLY
    * the full-corpus Hamming ≤ `maxHamming` pairs restricted to
    * delta-touching ones. */
  def simHashNearDupDeltaPairs(state: DataFrame, delta: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < simBands,
      s"maxHamming must be in [0, ${simBands - 1}] for exact recall with $simBands bands, got $maxHamming")
    val deltaSk = simhashAdd(delta).select(col("doc_id"), col("simhash"))
      .localCheckpoint(false)
    val all = state.select(col("doc_id"), col("simhash")).unionByName(deltaSk)
    val mask = (1L << SimBandBits) - 1
    val bandCols = (0 until simBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * SimBandBits).bitwiseAND(lit(mask)).as("bval"))
    }
    def banded(df: DataFrame) =
      df.select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("bk"))
        .select(col("doc_id"), col("simhash"),
          col("bk.band").as("band"), col("bk.bval").as("bval"))
    banded(all).as("a")
      .join(broadcast(banded(deltaSk)).as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval")
          && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
