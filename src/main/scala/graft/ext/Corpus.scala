package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.operators.States

/** Corpus-assembly operators for a training-data pipeline: deterministic
  * splits and the composed "clean corpus" materialization. */
object Corpus {

  /** Deterministic train/test assignment from the id alone: an affine
    * hash in 1000003-space, bucketed mod 100, `< trainPct` → 'train'.
    * Partition-layout-independent and stable across runs/engines (the
    * property a reproducible training pipeline needs — `rand(seed)`
    * changes with the partitioning, a modulo on raw ids inherits any id
    * striping). The id is reduced mod the prime first so the multiply
    * never overflows int64 at any id scale; the final bucket is
    * sign-normalized ((x % 100 + 100) % 100) so NEGATIVE ids still land
    * in [0, 100) — Scala/SQL `%` keep the dividend's sign, which would
    * otherwise make every negative id 'train' at any trainPct. */
  def splitBucket(id: Column): Column =
    ((id % 1000003L) * 2654435761L % 1000003L % 100L + 100L) % 100L

  def hashSplit(df: DataFrame, idCol: String, trainPct: Int): DataFrame = {
    require(trainPct >= 0 && trainPct <= 100, s"trainPct must be in [0,100], got $trainPct")
    df.withColumn("split",
      when(splitBucket(col(idCol)) < trainPct, "train").otherwise("test"))
  }

  /** Three-way train/validation/test assignment from the same bucket
    * hash: [0, trainPct) → train, [trainPct, trainPct+valPct) → val,
    * rest → test. Sharing [[splitBucket]] with the two-way split keeps
    * the assignments NESTED — a doc that is 'train' at 80/10 is still
    * 'train' at any larger trainPct, so growing the training share never
    * leaks validation docs into it retroactively. */
  def hashSplit3(df: DataFrame, idCol: String, trainPct: Int, valPct: Int): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"need trainPct + valPct <= 100, got $trainPct + $valPct")
    val b = splitBucket(col(idCol))
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val").otherwise("test"))
  }

  /** Benchmark-contamination audit: for every training document, how many
    * distinct n-gram shingles it shares with ANY document of a held-out
    * eval set, and with how many eval documents. The production
    * decontamination shape: both sides reduce to shingle HASHES, the
    * candidate generation is one equi-join on the hash — and the eval
    * side (a benchmark suite) is bounded, so at corpus scale it
    * broadcasts and the training side never shuffles. Emits only
    * documents with at least one shared shingle (the audit's subject);
    * `contaminated` flags those at/above `minShared` distinct shingles.
    *
    * The eval set here is carved from the corpus itself by id residue
    * (`doc_id % evalMod == 0`) — deterministic and engine-agnostic; a
    * real pipeline passes its benchmark table to
    * [[contaminationFrames]] instead (same core, same plan). */
  def contamination(documents: DataFrame, n: Int, evalMod: Long = 40L,
      minShared: Long = 5L): DataFrame = {
    require(evalMod > 0, s"evalMod must be positive, got $evalMod")
    // ONE shingling pass feeds both sides (an id-residue split of the
    // same table would otherwise hash every document twice)
    val sh = MinHash.shingleHashes(documents, n).localCheckpoint(false)
    contaminationCore(
      sh.filter(col("doc_id") % evalMod =!= 0),
      sh.filter(col("doc_id") % evalMod === 0), minShared)
  }

  /** [[contamination]] against an EXTERNAL benchmark table: `train` and
    * `eval` are independent (doc_id, text) frames, each shingled once. */
  def contaminationFrames(train: DataFrame, eval: DataFrame, n: Int,
      minShared: Long = 5L): DataFrame =
    contaminationCore(MinHash.shingleHashes(train, n),
      MinHash.shingleHashes(eval, n), minShared)

  private def contaminationCore(trainSh: DataFrame, evalSh: DataFrame,
      minShared: Long): DataFrame = {
    val ev = evalSh.select(col("doc_id").as("eval_id"), explode(col("hashes")).as("s"))
    val corp = trainSh.select(col("doc_id"), explode(col("hashes")).as("s"))
    // EXPLICIT broadcast: a checkpointed frame has no stats, so the
    // auto-broadcast threshold can never fire — without the hint this
    // equi-join would shuffle the full exploded training-side shingle
    // stream, the exact cost the bounded-eval-side design avoids
    corp.join(broadcast(ev), Seq("s"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("s")).as("eval_hits"),
        countDistinct(col("eval_id")).as("eval_docs"))
      .select(col("doc_id"), col("eval_hits"), col("eval_docs"),
        (col("eval_hits") >= minShared).as("contaminated"))
  }

  /** The 100 TB decontamination scale path: [[contamination]] broadcasts
    * every eval shingle hash (8 bytes each — fine for one benchmark,
    * linear in the suite); here the eval set folds into ONE Bloom filter
    * ([[org.apache.spark.sql.graft.BloomFilter]], `numBits` bits total)
    * and the training side probes it inline — a fixed-size broadcast no
    * matter how many eval documents, and the probe is a narrow
    * projection (no join on the shingle stream at all, vs the equi-join
    * both exact shapes need). The price is false POSITIVES only
    * (`bloom_hits ≥` the exact shared count, never below — a Bloom
    * filter has no false negatives), so the filter is the cheap first
    * screen: docs it clears are definitely clean, docs it flags go to
    * the exact [[contamination]] audit. Emits every training doc with
    * its probe count; `flagged` marks any hit. */
  def bloomContamination(documents: DataFrame, n: Int, evalMod: Long = 40L,
      numBits: Int = 65536, numHashes: Int = 3): DataFrame = {
    require(evalMod > 0, s"evalMod must be positive, got $evalMod")
    val sh = MinHash.shingleHashes(documents, n).localCheckpoint(false)
    bloomProbe(sh.filter(col("doc_id") % evalMod =!= 0),
      sh.filter(col("doc_id") % evalMod === 0), numBits, numHashes)
  }

  /** [[bloomContamination]] against an EXTERNAL benchmark table — and
    * the static bloom side of a streaming-ingest screen: fold `eval`
    * once, probe an unbounded `train` (batch or readStream) against the
    * one-row frame with zero streaming state. */
  def bloomContaminationFrames(train: DataFrame, eval: DataFrame, n: Int,
      numBits: Int = 65536, numHashes: Int = 3): DataFrame =
    bloomProbe(MinHash.shingleHashes(train, n),
      MinHash.shingleHashes(eval, n), numBits, numHashes)

  private def bloomProbe(trainSh: DataFrame, evalSh: DataFrame,
      numBits: Int, numHashes: Int): DataFrame = {
    import org.apache.spark.sql.graft.BloomFilter
    // one row, numBits/32 longs — the whole eval set as bits
    val bf = evalSh.select(explode(col("hashes")).as("s"))
      .agg(BloomFilter.bloom(col("s"), numBits, numHashes).as("bf"))
    trainSh.join(broadcast(bf))
      .select(col("doc_id"),
        size(col("hashes")).cast("long").as("n_shingles"),
        size(filter(col("hashes"),
          s => BloomFilter.mightContain(col("bf"), s, numBits, numHashes)))
          .cast("long").as("bloom_hits"))
      .withColumn("flagged", col("bloom_hits") >= 1L)
  }

  /** Document chunking for embedding / context-window pipelines: fixed
    * token windows of `chunkTokens` with `overlap` tokens shared between
    * consecutive chunks (stride = chunkTokens − overlap), the standard
    * pre-embedding step. Chunk k of an n-token doc starts at k·stride,
    * for k in 0..K where K = 0 if n ≤ chunkTokens else
    * ⌈(n − chunkTokens)/stride⌉ — the final chunk may be short but every
    * token is covered and no chunk is fully contained in its
    * predecessor. Narrow explode over a per-row sequence (no shuffle);
    * the token array is materialized behind an exchange barrier so the
    * per-chunk `slice` doesn't re-split the text (the lambda-CSE
    * pathology). */
  def chunkDocuments(documents: DataFrame, chunkTokens: Int = 64,
      overlap: Int = 16): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got $overlap/$chunkTokens")
    val stride = chunkTokens - overlap
    import graft.operators.Partitioning.spread
    spread(documents, col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .transform(df => spread(df, col("doc_id")))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("kmax",
        when(col("n") <= chunkTokens, lit(0L))
          .otherwise(expr(s"(n - $chunkTokens + ${stride - 1}) div $stride")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("kmax"))).as("chunk_id"))
      .withColumn("start_tok", col("chunk_id") * stride)
      .select(
        col("doc_id"), col("chunk_id"), col("start_tok"),
        least(lit(chunkTokens.toLong), col("n") - col("start_tok")).as("n_tokens"),
        array_join(
          slice(col("toks"), (col("start_tok") + 1).cast("int"), lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  /** Per-source quality percentile: each document's position in ITS
    * source's token-count distribution — the normalization behind "keep
    * the top X% of every source" (a global cutoff would let a verbose
    * source crowd out a terse one). pct = rows-at-or-below / rows, both
    * counted with an explicit RANGE window so tie handling and the ONE
    * IEEE division are pinned on both engines (the built-in cume_dist is
    * the same number, but its internal arithmetic isn't contractual).
    * One (source)-partitioned window; per-source slices are large at
    * corpus scale, so the approximate scale path for the same decision is
    * [[curriculumBuckets]]-style histogram boundaries per source. */
  def qualityPercentile(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokenCnt = size(split(col("text"), " ")).cast("long")
    val wLe = Window.partitionBy(col("source")).orderBy(col("token_cnt"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("source"))
    documents
      .select(col("doc_id"), col("source"), tokenCnt.as("token_cnt"))
      .withColumn("pct",
        count(lit(1)).over(wLe).cast("double") / count(lit(1)).over(wAll).cast("double"))
  }

  /** Deterministic mix-bucket hash in [0, 100): the sampling coordinate
    * for [[datasetMix]]. DIFFERENT affine constants than [[splitBucket]]
    * on purpose — mix selection must be independent of train/test
    * assignment or the mix would systematically favor one split. Same
    * overflow/sign discipline (reduce mod the prime first; normalize
    * negatives into [0, 100)). */
  def mixBucket(id: Column): Column =
    ((id % 1000003L) * 1103515245L % 1000003L % 100L + 100L) % 100L

  /** Weighted dataset mixing for a training corpus: each source is kept
    * at its configured percentage (weights in [0, 100], unlisted sources
    * at `defaultPct`), selected by the deterministic per-id hash — so the
    * mix is reproducible, partition-independent, and a document's fate
    * never changes as the corpus grows (unlike `sample()`/`rand`).
    * One narrow filter — no shuffle, no per-source pass; the weight
    * lookup is a literal CASE chain (source cardinality is config-sized).
    * Downsampling only: a weight > 100 (upsampling/epoch repeats) is the
    * caller's explode to build, rejected here. */
  def datasetMix(documents: DataFrame, weights: Seq[(String, Int)],
      defaultPct: Int): DataFrame = {
    require((defaultPct +: weights.map(_._2)).forall(w => w >= 0 && w <= 100),
      s"weights must be percentages in [0,100]")
    val pct = weights.foldLeft(lit(defaultPct)) { case (acc, (src, w)) =>
      when(col("source") === src, w).otherwise(acc)
    }
    documents
      .select(col("doc_id"), col("source"), col("lang"), pct.as("mix_pct"))
      .filter(mixBucket(col("doc_id")) < col("mix_pct"))
  }

  /** Temperature-balanced dataset mixing — the multilingual/multi-source
    * rebalancing rule (sampling share ∝ n^α at the standard α = 0.5)
    * that stops a dominant source from drowning the tail without
    * hand-tuned per-source percentages ([[datasetMix]]'s knob): source s
    * keeps `k_s = min(n_s, ⌊√n_s / Σ√n · target⌋)` documents, selected
    * by the deterministic hash rank (exact counts, partition-layout-
    * independent — the [[graft.operators.Sampling.samplePerGroup]]
    * contract with a per-source k). INTENTIONAL divergence from
    * samplePerGroup's ordering: this ranks by `pmod(hashOrder, 1000003)`
    * (floor-mod — every value, negative ids included, lands in a band
    * the threshold scan covers), while samplePerGroup keeps Spark's
    * sign-preserving `%` order; for negative ids the two samplers
    * therefore select different (equally deterministic) orders. The
    * `docs_sample_stratified` oracle pins samplePerGroup's spelling,
    * this function's oracle pins the floor-mod spelling.
    *
    * Numeric-determinism: n_s are exact int64; each `sqrt` and the one
    * share division/multiply are correctly-rounded IEEE ops, and the
    * Σ√n accumulates in SOURCE-NAME order driver-side (source
    * cardinality is config-sized — a parallel float sum would be
    * partition-order-dependent and break the oracle), so k_s is
    * bit-reproducible; the oracle's `list_sum(list(... ORDER BY
    * source))` replays the same fold. Downsampling only: a source
    * below its share keeps everything (`min(n_s, ·)`), mirroring the
    * datasetMix downsampling-only contract.
    *
    * Scale shape: the selection is a per-source HASH-BUCKET cutoff,
    * never a full per-source sort — a rank window partitioned by
    * source would sort a dominant source's entire document list on ONE
    * reducer. One combined aggregate pass histograms `hashOrder` into
    * 1024 bands per source (bounded driver state: |sources|·1024
    * counts, which also yields the exact n_s for the √-share k_s);
    * every document in a band strictly below the source's threshold
    * band is selected with a stateless filter, and only the ONE
    * threshold band (≈ n_s/1024 rows) is rank-windowed to trim the
    * exact remainder — identical selected set to the rank spelling
    * (bands partition the hash order; ties share a band), which is why
    * the oracle keeps the window SQL. */
  def datasetMixTemperature(documents: DataFrame, targetDocs: Long): DataFrame = {
    require(targetDocs >= 1, s"targetDocs must be positive, got $targetDocs")
    Seq("__h", "__b", "__rn").foreach(c => require(!documents.columns.contains(c),
      s"input already has internal column $c"))
    import org.apache.spark.sql.expressions.Window
    // __h is the FLOOR-MOD hash order: Sampling.hashOrder uses Spark's
    // sign-preserving %, so a negative doc_id hashes negative — pmod
    // folds it into [0, 1000003) so every value lands in a band the
    // threshold scan covers (a negative band would never be scanned yet
    // always pass the __b < b* prefix filter: silent overselection).
    // The oracle orders by the same floor-mod spelling.
    val bandW = 977L // 1024 bands of width 977 cover [0, 1000003)
    val base = documents.select(col("doc_id"), col("source"),
      pmod(graft.operators.Sampling.hashOrder(col("doc_id")), lit(1000003L)).as("__h"))
      .withColumn("__b", expr(s"__h div $bandW").cast("int"))
    val hist = base.groupBy(col("source"), col("__b")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    if (hist.isEmpty)
      return documents.select(col("doc_id"), col("source")).limit(0)
    val counts = hist.toSeq.groupBy(_._1._1).view
      .mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    // the Σ√n fold accumulates in source-name order (bit-reproducible)
    val total = counts.foldLeft(0.0)((a, c) => a + math.sqrt(c._2.toDouble))
    val ks = counts.map { case (s, n) =>
      s -> math.min(n, math.floor(math.sqrt(n.toDouble) / total * targetDocs).toLong)
    }
    // threshold band b* = first band where the running count reaches
    // k_s, and the exact count below it; b* = -1 keeps the whole source
    val cuts = ks.map { case (s, k) =>
      var cum = 0L; var b = 0; var bStar = -1; var below = 0L
      while (b < 1024 && bStar < 0) {
        val c = hist.getOrElse((s, b), 0L)
        if (cum + c >= k) { bStar = b; below = cum }
        cum += c; b += 1
      }
      s -> ((bStar, k - below))
    }.toMap
    val bStarCol = ks.foldLeft(lit(-2)) { case (acc, (s, _)) =>
      when(col("source") === s, lit(cuts(s)._1)).otherwise(acc)
    }
    val remCol = ks.foldLeft(lit(0L)) { case (acc, (s, _)) =>
      when(col("source") === s, lit(cuts(s)._2)).otherwise(acc)
    }
    val marked = base.withColumn("__bs", bStarCol)
    val prefix = marked.filter(col("__bs") === -1 || col("__b") < col("__bs"))
      .select(col("doc_id"), col("source"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("__h").asc, col("doc_id").asc)
    val edge = marked.filter(col("__b") === col("__bs"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= remCol)
      .select(col("doc_id"), col("source"))
    prefix.union(edge)
  }

  /** Curriculum bucketing: documents assigned to difficulty quartiles by
    * token count — the SCALE-SAFE spelling of `ntile(4)`. A global ntile
    * is a single-task total sort at any size; here the quartile
    * boundaries come from the bounded-state histogram estimator
    * ([[graft.operators.Quantiles.histogramQuantile]] — state is
    * value-range/width, never row count), land in a one-row frame, and
    * the assignment is a broadcast-joined CASE over the boundaries: one
    * groupBy shuffle over bucket counts total. Bucket edges are the
    * deterministic estimates, so the whole assignment oracle-checks. */
  def curriculumBuckets(documents: DataFrame, width: Double = 8.0): DataFrame = {
    val toks = documents.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("token_cnt"))
    val bounds = graft.operators.Quantiles.histogramQuantile(
      toks, Nil, "token_cnt", width,
      Seq("q1" -> 0.25, "q2" -> 0.5, "q3" -> 0.75))
    toks.join(broadcast(bounds))
      .withColumn("bucket",
        when(col("token_cnt").cast("double") <= col("q1"), 0)
          .when(col("token_cnt").cast("double") <= col("q2"), 1)
          .when(col("token_cnt").cast("double") <= col("q3"), 2)
          .otherwise(3))
      .select(col("doc_id"), col("token_cnt"), col("bucket"))
  }

  /** Sequence packing for training-batch assembly: documents are packed
    * into fixed token-capacity bins by quantizing the running token count
    * — `pack_id = (cumulative_tokens - 1) div capacity` over a
    * deterministic order. The window is partitioned by (source, shard)
    * where shard = `doc_id div shardSize`, so the sort behind the running
    * sum is BOUNDED at shardSize documents no matter how large the
    * corpus — packing is embarrassingly parallel across shards (what a
    * real pipeline does per input split), never a global sort. */
  def packSequences(documents: DataFrame, capacity: Long = 256L,
      shardSize: Long = 10000L): DataFrame =
    packCore(documents
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("token_cnt")),
      capacity, shardSize)

  /** [[packSequences]] with the token counts SUPPLIED by the caller —
    * the seam that packs a corpus by its REAL tokenizer counts (e.g.
    * [[graft.ext.Text.bpeTokenize]]'s `n_tokens`) instead of the
    * whitespace proxy. Input: `(doc_id, source, token_cnt)`. */
  def packSequencesCounted(counted: DataFrame, capacity: Long = 256L,
      shardSize: Long = 10000L): DataFrame =
    packCore(counted.select(col("doc_id"), col("source"), col("token_cnt")),
      capacity, shardSize)

  private def packCore(counted: DataFrame, capacity: Long,
      shardSize: Long): DataFrame = {
    require(capacity > 0 && shardSize > 0,
      s"capacity/shardSize must be positive, got $capacity/$shardSize")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counted
      .withColumn("shard", expr(s"doc_id div ${shardSize}L"))
      .withColumn("cum_tokens", sum(col("token_cnt")).over(w))
      // integer div, exact at any id/token magnitude (a double round-trip
      // would round above 2^53); cum_tokens >= 1 so div == floor here
      .withColumn("pack_id", expr(s"(cum_tokens - 1) div ${capacity}L"))
      .select(col("doc_id"), col("source"), col("shard"), col("token_cnt"),
        col("cum_tokens"), col("pack_id"))
  }

  /** The per-pack MANIFEST a training loader actually reads —
    * [[packSequences]]' assignment rolled up to one row per pack:
    * member doc ids in order and each doc's END offset within the
    * pack's token budget (offsets are `cum_tokens − pack_id·capacity`,
    * always in (0, capacity] by the pack quantization — the attention
    * boundary list for packed-sequence training). Per-pack state is
    * bounded by construction (≤ capacity docs fit a pack), so the
    * sorted member list is safe at any corpus size; the rollup rides
    * the pack window's own (source, shard) partitioning. */
  def packManifest(documents: DataFrame, capacity: Long = 256L,
      shardSize: Long = 10000L): DataFrame =
    packSequences(documents, capacity, shardSize)
      .withColumn("end_off", col("cum_tokens") - col("pack_id") * capacity)
      .groupBy(col("source"), col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("token_cnt")).as("pack_tokens"),
        array_join(transform(array_sort(collect_list(
            struct(col("doc_id"), col("doc_id").as("d")))),
          p => p("d").cast("string")), ",").as("doc_ids"),
        array_join(transform(array_sort(collect_list(
            struct(col("doc_id"), col("end_off").as("e")))),
          p => p("e").cast("string")), ",").as("boundaries"))

  /** Deterministic training-order shuffle: every document gets a
    * reproducible pseudo-random position — (shard, pos) — that is a pure
    * function of its id, independent of partition layout and engine.
    *
    * A naive global `ORDER BY hash` is a single total sort (one task
    * owns the merge at 100 TB); instead the order key hashes documents
    * into `nShards` explicit shards (hash-mod, NOT repartitionByRange —
    * range boundaries come from sampling and would not be deterministic)
    * and positions are a per-shard window over (hash, doc_id). One hash
    * exchange + per-shard local sort; shards are ~n/nShards and the
    * training loader reads them in (shard, pos) order for the full
    * permutation.
    *
    * The order key is a CRT pair of affine hashes over the coprime
    * primes 999983 and 1000003: `h1(id) * 1000003 + h2(id)`. A single
    * mod-prime hash would have only ~10⁶ distinct values — at corpus
    * scale every key would hold thousands of documents read back in raw
    * ascending-id runs (exactly the structure a shuffle must destroy).
    * The pair collides only when BOTH residues collide, i.e. ids equal
    * mod 999983·1000003 ≈ 10¹²: order keys are UNIQUE below a trillion
    * ids (beyond that, ties fall back to id order — documented, bounded).
    * All intermediates < 1.4e15, no int64 overflow on either engine.
    * Constants differ from [[splitBucket]]/[[mixBucket]] and h1's PRIME
    * differs from theirs, so the dominant order bits are independent of
    * split/mix fate (a correlated hash would make one split's shards
    * scan the corpus in mix order — structure where none should exist). */
  def shuffleOrder(documents: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"need nShards >= 1, got $nShards")
    import org.apache.spark.sql.expressions.Window
    val h1 = (col(idCol) % 999983L) * 1327217885L % 999983L
    val h2 = (col(idCol) % 1000003L) * 48271L % 1000003L
    val h = h1 * 1000003L + h2
    val shard = ((h % nShards + nShards) % nShards).cast("int")
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col(idCol))
    documents
      .select(col(idCol), h.as("h"), shard.as("shard"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("shard"), col("pos"), col("h").as("order_key"))
  }

  /** The composed curation pipeline off MAINTAINED model/annotation
    * states — what a 100 TB run actually executes, with nothing
    * retrained inline: language-ID screen (keep docs the classifier
    * labels correctly — confident-label rule) over a profile table
    * ranked from `trigramState` ([[Text.trigramAdd]]/
    * [[Text.mergeTrigrams]] contract), quality screen read off
    * `marginState` ([[Text.marginAdd]]/[[Text.mergeMargins]] contract —
    * NO corpus re-scan for this screen at all), deterministic train
    * split, token-budget packing.
    *
    * Scale: the only corpus-sized passes are the lang-ID scoring
    * probe (one trigram explode + broadcast profile probe + two keyed
    * aggs) and the final pack window (shard-bounded sort); the margin
    * screen is a doc-keyed join against already-maintained state. Both
    * screens ride the same doc_id spine as left-semi joins. */
  def curationPipelineFromStates(documents: DataFrame, trigramState: DataFrame,
      marginState: DataFrame, k: Int = 40, threshold: Long = 0L,
      trainPct: Int = 90): DataFrame = {
    val lid = Text.languageId(documents,
        Text.langProfilesFromCounts(trigramState, k), k)
      .filter(col("is_correct") === 1).select(col("doc_id"))
    val q = Text.qualityMarginFromCounts(documents, marginState, threshold)
      .filter(col("accepted") === 1).select(col("doc_id"))
    val kept = documents.join(lid, Seq("doc_id"), "left_semi")
      .join(q, Seq("doc_id"), "left_semi")
    val train = hashSplit(kept, "doc_id", trainPct)
      .filter(col("split") === "train")
    packSequences(train.select(col("doc_id"), col("source"), col("text")))
  }

  /** The UNLABELED-data form of the curation pipeline — what actually
    * runs on scraped web text, where no `lang` label exists to check
    * against: the language screen keeps docs the classifier is
    * CONFIDENT about ([[Text.languageIdConfident]]'s top1 − top2
    * margin rule — near-ties and profile-less docs drop as 'und')
    * instead of docs it labels correctly. Same maintained-state reads,
    * same spine semi-joins, split, and pack as
    * [[curationPipelineFromStates]]. */
  def curationPipelineConfidentFromStates(documents: DataFrame,
      trigramState: DataFrame, marginState: DataFrame, k: Int = 40,
      minMargin: Long = 25L, threshold: Long = 0L,
      trainPct: Int = 90): DataFrame = {
    val lid = Text.languageIdConfident(documents,
        Text.langProfilesFromCounts(trigramState, k), k, minMargin)
      .filter(col("pred_lang") =!= "und").select(col("doc_id"))
    val q = Text.qualityMarginFromCounts(documents, marginState, threshold)
      .filter(col("accepted") === 1).select(col("doc_id"))
    val kept = documents.join(lid, Seq("doc_id"), "left_semi")
      .join(q, Seq("doc_id"), "left_semi")
    val train = hashSplit(kept, "doc_id", trainPct)
      .filter(col("split") === "train")
    packSequences(train.select(col("doc_id"), col("source"), col("text")))
  }

  /** Self-training form of [[curationPipelineConfidentFromStates]]. */
  def curationPipelineConfident(documents: DataFrame, weights: DataFrame,
      k: Int = 40, minMargin: Long = 25L, threshold: Long = 0L,
      trainPct: Int = 90): DataFrame =
    curationPipelineConfidentFromStates(documents, Text.trigramAdd(documents),
      // batch entry point: spread the one-shot margin build off the
      // single-file scan task (scan-aware — identity at scale); the
      // stream twin builds its margin state per delta, unspread
      Text.marginAdd(graft.operators.Partitioning.spreadIfNarrow(
        documents, col("doc_id")), weights), k, minMargin, threshold, trainPct)

  /** Self-training form of [[curationPipelineFromStates]]: both states
    * built from the corpus itself in one delta (profiles from the
    * labeled corpus, margins from the supplied weight table). By the
    * add/merge contracts this is bit-identical to the FromStates read
    * over any merged ingest of the same corpus — which is exactly what
    * the `curation_pipeline_stream` twin asserts. */
  def curationPipeline(documents: DataFrame, weights: DataFrame,
      k: Int = 40, threshold: Long = 0L, trainPct: Int = 90): DataFrame =
    curationPipelineFromStates(documents, Text.trigramAdd(documents),
      Text.marginAdd(graft.operators.Partitioning.spreadIfNarrow(
        documents, col("doc_id")), weights), k, threshold, trainPct)

  // ---------------------------------------------------------------------
  // Distribution-drift monitoring (total-variation distance, exact ints).
  // ---------------------------------------------------------------------

  /** Ingest contract for the drift monitor: per (source, length-bucket),
    * exact doc counts in the two comparison windows (doc_id parity
    * stands in for yesterday/today — a production run keys the window
    * on the partition date). Bucket = min(n_chars div 64, 7): eight
    * fixed bins, so the state is at most sources·8 rows — bounded
    * regardless of corpus size, and [[mergeDriftStates]] is plain
    * integer addition, so deltas ingest in any order or grouping. */
  def driftAdd(documents: DataFrame): DataFrame =
    documents.select(col("source"),
        least(expr("n_chars div 64"), lit(7L)).as("bucket"),
        (col("doc_id") % 2).as("wnd"))
      .groupBy(col("source"), col("bucket"))
      .agg(
        sum(when(col("wnd") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("wnd") === 1, 1L).otherwise(0L)).as("nb"))

  /** Merge any number of drift states: exact integer sums per (source, bucket). */
  def mergeDriftStates(states: DataFrame*): DataFrame =
    States.merge(states, Seq("source", "bucket"), "na" -> States.Sum, "nb" -> States.Sum)

  /** Drift report off the maintained state: per source, the
    * total-variation distance between the two windows' length
    * distributions — TVD = Σ_b |na_b/NA − nb_b/NB| / 2, carried as the
    * exact integer numerator Σ_b |na_b·NB − nb_b·NA| over denominator
    * 2·NA·NB (one IEEE divide for display). The verdict compares
    * cross-multiplied INTEGERS against the pinned 0.1 threshold
    * (5·tvd_num > NA·NB), so it never rides a float edge; an empty
    * window is drift by definition. The monitoring table a production
    * pipeline materializes per ingest day to catch a source whose
    * content shifted under it. */
  def driftReport(state: DataFrame): DataFrame =
    // internal merge FIRST: the fold below treats every cell as a
    // distinct bucket, so a state with duplicate (source, bucket) rows
    // (e.g. an unmerged delta union passed directly) would silently
    // split cells and overstate TVD (r17 advisor). Grouping here makes
    // the [[mergeDriftStates]] precondition self-enforcing — idempotent
    // on merged input (each group is one row), and exchange-free after
    // [[driftAdd]]'s identical grouping (the partitioning is reused)
    state.groupBy(col("source"), col("bucket"))
      .agg(sum(col("na")).as("na"), sum(col("nb")).as("nb"))
      .groupBy(col("source"))
      .agg(
        sum(col("na")).as("n_a"),
        sum(col("nb")).as("n_b"),
        collect_list(struct(col("na"), col("nb"))).as("cells"))
      // the per-bucket |na·NB − nb·NA| needs the totals, so a join-back
      // would re-scan the state (and, composed over raw docs, re-scan
      // the CORPUS — the PlanSpec pin caught exactly that); instead the
      // ≤ 8 bucket cells ride the single aggregation as a bounded list
      // and fold here, order-independent exact integers
      .select(col("source"), col("n_a"), col("n_b"),
        aggregate(col("cells"), lit(0L),
          (acc, c) => acc + abs(c.getField("na") * col("n_b")
            - c.getField("nb") * col("n_a"))).as("tvd_num"))
      .select(col("source"), col("n_a"), col("n_b"), col("tvd_num"),
        when(col("n_a") > 0 && col("n_b") > 0,
          col("tvd_num").cast(DoubleType)
            / (lit(2L) * col("n_a") * col("n_b")).cast(DoubleType))
          .otherwise(lit(null).cast(DoubleType)).as("tvd"),
        when(col("n_a") === 0 || col("n_b") === 0, lit(1))
          .otherwise((col("tvd_num") * 5 > col("n_a") * col("n_b"))
            .cast(IntegerType)).as("drifted"))

  /** One-delta composition: the batch drift monitor. */
  def qualityDriftTvd(documents: DataFrame): DataFrame =
    driftReport(driftAdd(documents))
}
