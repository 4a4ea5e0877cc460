package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.States

/** Text-analysis operators for an LLM training-data pipeline, over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * All logic is native Column expressions (array higher-order functions,
  * no UDFs) so it stays inside whole-stage codegen and is exactly
  * reproducible by an ANSI-SQL oracle:
  *  - counting/sums are exact integer arithmetic;
  *  - the only doubles are final ratios = one IEEE division of exact ints;
  *  - the document fingerprint is a position-weighted token hash whose
  *    sum is order-independent integer math (engine-agnostic — no
  *    engine-specific hash function involved).
  *
  * Scale: every operator is a per-row projection (narrow, no shuffle);
  * the near-dup candidate generation shuffles once on the shingle value
  * (equi-join), never materializing the n² pair space.
  */
object Text {

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Per-document stats: lengths, token counts, stopword/punctuation
    * ratios, a composite quality flag (the standard web-corpus filter:
    * length window, enough stopwords, sane mean token length, not
    * punctuation-drowned), a cheap language-ID heuristic, and an
    * arithmetic fingerprint. */
  def textStats(documents: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val tokenCnt = size(toks).cast(LongType)
    val charCnt = length(col("text")).cast(LongType)
    val stopCnt = size(filter(toks, t => t.isin(Stopwords: _*))).cast(LongType)
    val ratio = stopCnt.cast(DoubleType) / tokenCnt.cast(DoubleType)
    val punctCnt = size(regexp_extract_all(col("text"), lit("""[.,;:!?"'()\[\]]"""), lit(0))).cast(LongType)
    // empty text -> char_cnt 0: define the ratio as 0 rather than 0/0
    // (Spark NaN vs SQL NULL would break oracle parity AND poison the
    // quality flag)
    val punctRatio = when(charCnt === 0, lit(0.0))
      .otherwise(punctCnt.cast(DoubleType) / charCnt.cast(DoubleType))
    val avgTokLen = (charCnt - (tokenCnt - 1)).cast(DoubleType) / tokenCnt.cast(DoubleType)
    val fp = aggregate(
      zip_with(toks, sequence(lit(1), size(toks)),
        (t, i) => i.cast(LongType) * lit(1000003L) + length(t).cast(LongType) * lit(31L) + ascii(t).cast(LongType)),
      lit(0L), (acc, x) => acc + x) % lit(2147483647L)
    documents.select(
      col("doc_id"), col("lang"), col("source"), col("n_chars"),
      charCnt.as("char_cnt"),
      tokenCnt.as("token_cnt"),
      size(array_distinct(toks)).cast(LongType).as("distinct_tokens"),
      stopCnt.as("stopword_cnt"),
      ratio.as("stopword_ratio"),
      avgTokLen.as("avg_token_len"),
      punctCnt.as("punct_cnt"),
      punctRatio.as("punct_ratio"),
      (tokenCnt >= 10 && tokenCnt <= 100000 &&
        ratio >= 0.01 &&
        avgTokLen >= 2.0 && avgTokLen <= 12.0 &&
        punctRatio <= 0.2).as("quality_flag"),
      when(ratio >= 0.05, lit("en")).otherwise(lit("other")).as("lang_pred"),
      fp.as("fingerprint"))
  }

  /** Intra-document repetition: the share of n-gram occurrences that are
    * repeats of an earlier n-gram in the SAME document — the standard
    * boilerplate/spam signal (templated text repeats its own phrases;
    * prose doesn't). `1 - distinct/total` over the RAW (non-distinct)
    * shingle-hash sequence; 0 for docs shorter than n tokens. Per-row
    * math; the only exchanges are the two explicit repartitions of the
    * CSE barrier below (no keyed shuffle, no aggregation). */
  def repetitionStats(documents: DataFrame, n: Int, maxRatio: Double = 0.05): DataFrame = {
    MinHash.tokenHashFrame(documents, carry = Seq("source"))
      .select(col("doc_id"), col("source"),
        MinHash.shingleHashesFromTokens(col("th"), n).as("sh"))
      .select(
        col("doc_id"), col("source"),
        size(col("sh")).cast(LongType).as("total_ngrams"),
        size(array_distinct(col("sh"))).cast(LongType).as("distinct_ngrams"))
      .withColumn("repetition_ratio",
        when(col("total_ngrams") === 0, lit(0.0))
          .otherwise(lit(1.0) - col("distinct_ngrams").cast(DoubleType) /
            col("total_ngrams").cast(DoubleType)))
      .withColumn("repetitive", col("repetition_ratio") > maxRatio)
  }

  /** Corpus-wide boilerplate detection at the n-gram grain: the n-grams
    * (as TEXT, so the result is actionable) appearing in at least
    * `minDocs` distinct documents, ranked by document frequency — the
    * candidates a cleaning pipeline strips before near-dup hashing
    * (footer lines, cookie banners, license stubs). Intra-doc repetition
    * is [[repetitionStats]]'s job; this is the CROSS-doc complement.
    * Shape: narrow per-doc n-gram explode (per-doc distinct first, so a
    * doc spamming one n-gram contributes 1 to df and the groupBy key
    * cannot be flooded by a single document), one groupBy shuffle on the
    * n-gram, global top-k via TakeOrdered under a (df, ngram) total
    * order — never a rank window. */
  def boilerplateNgrams(documents: DataFrame, n: Int, minDocs: Long,
      topK: Int): DataFrame = {
    require(n >= 1 && minDocs >= 1 && topK >= 1,
      s"need positive n/minDocs/topK, got $n/$minDocs/$topK")
    documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        when(size(col("toks")) < n, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(0), size(col("toks")) - n),
            i => array_join(slice(col("toks"), i + 1, lit(n)), " "))).as("ngrams"))
      .select(col("doc_id"), explode(array_distinct(col("ngrams"))).as("ngram"))
      .groupBy(col("ngram")).agg(countDistinct(col("doc_id")).as("doc_freq"))
      .filter(col("doc_freq") >= minDocs)
      .orderBy(col("doc_freq").desc, col("ngram").asc).limit(topK)
  }

  /** PII scrubbing: sequential regex redaction (emails, then `+`-prefixed phone-shaped
    * digit groups (RE2 — the oracle engine — has no lookahead, so the
    * phone shape must be anchored by the plus, not by context), then any remaining run of 4+ digits) with per-pattern
    * counts, so downstream filters can drop or audit heavily-redacted
    * rows. Order matters — the digit-run pass must see the text AFTER
    * phone redaction or it would eat phone fragments. Patterns are plain
    * character classes, identical under Java regex and RE2 (the oracle's
    * engine). Narrow projection, no shuffle. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+[0-9][0-9 ()-]{5,}[0-9]"
  val DigitRunPattern = "[0-9]{4,}"

  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, EmailPattern, "<EMAIL>")
    val t2 = regexp_replace(t1, PhonePattern, "<PHONE>")
    val t3 = regexp_replace(t2, DigitRunPattern, "<ID>")
    df.select(
      col(idCol),
      t3.as("redacted"),
      size(regexp_extract_all(t0, lit(EmailPattern), lit(0))).cast(LongType).as("n_email"),
      size(regexp_extract_all(t1, lit(PhonePattern), lit(0))).cast(LongType).as("n_phone"),
      size(regexp_extract_all(t2, lit(DigitRunPattern), lit(0))).cast(LongType).as("n_id"))
  }

  /** N-gram-Jaccard near-duplicate candidates: pairs of documents sharing
    * at least one RARE n-gram shingle, scored by Jaccard over their
    * distinct shingle-HASH sets. The candidate join is an equi-join on
    * the shingle value (one shuffle) — the n² pair space is never built —
    * and shingles appearing in more than `maxDocFreq` documents are
    * pruned first (standard web-dedup stopword-shingle pruning): frequent
    * shingles generate quadratically many candidate pairs while carrying
    * no near-dup signal, and they are exactly the join-skew keys.
    *
    * Shingles are the int64 hashes of [[MinHash.shingleHashesFromTokens]]
    * (composed once per token, not per shingle), NOT the shingle strings:
    * a string shingle is ~n·wordlen bytes that gets hashed for the
    * shuffle, carried through two verify joins, and string-compared in
    * `array_intersect` — at 10⁹ documents that multiplies shuffle volume
    * and verify cost by the string/int64 width ratio for zero extra
    * signal (a 1-in-10⁶ hash-collision noise floor is far below the
    * near-dup threshold anyway). */
  def ngramJaccardPairs(documents: DataFrame, n: Int, maxDocFreq: Long = 5L): DataFrame = {
    val docSh = MinHash.shingleHashes(documents, n)
      // reused by candidate generation and both verify joins;
      // localCheckpoint (not cache) so the blocks free on GC instead of
      // living in the session CacheManager (see MinHash.nearDupPairs)
      .localCheckpoint(false)
    val exploded = docSh.select(col("doc_id"), explode(col("hashes")).as("s"))
    val rare = exploded.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq).select(col("s"))
    val rareExploded = exploded.join(rare, Seq("s"))
    val cand = rareExploded.as("a")
      .join(rareExploded.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(docSh.select(col("doc_id").as("doc_a"), col("hashes").as("h_a")), Seq("doc_a"))
      .join(docSh.select(col("doc_id").as("doc_b"), col("hashes").as("h_b")), Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"),
        size(array_intersect(col("h_a"), col("h_b"))).cast(LongType).as("common_shingles"),
        (size(array_intersect(col("h_a"), col("h_b"))).cast(DoubleType) /
          size(array_union(col("h_a"), col("h_b"))).cast(DoubleType)).as("jaccard"))
  }

  /** (doc_id, term) token stream — the ONE whitespace-tokenization
    * spelling every term-level operator shares (tf-idf, inverted index,
    * BPE prep), so a tokenization change cannot silently diverge them
    * from each other or their oracles' `string_split(text, ' ')`.
    * NOT spread: measured at sf0.1 (r20 A/B), a pre-explode exchange of
    * the text payload costs the tokenizer family +0.4-1.4 s/query —
    * every consumer aggregates or joins right after the explode, so the
    * shuffle that follows already spreads the work. */
  private[ext] def termStream(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")

  /** Per-document top-k terms by tf·idf, the standard corpus keyword /
    * salient-term extractor (reference capability family: text analysis
    * over `documents`; cf. /root/reference README corpus stats).
    *
    * The idf factor is the exact rational N/df (reciprocal document
    * frequency), NOT log(N/df): log is not required to be correctly
    * rounded by IEEE 754, so `ln` results can differ between engines in
    * the last ulp and break oracle hash parity (this repo's standing
    * no-pow/exp/ln rule). N/df is monotone in df exactly like log(N/df),
    * so the per-document RANKING — the operator's actual output — is
    * identical for every df where log is injective; the score column is
    * one exact long multiply (tf·N ≤ 10⁶·10¹² stays far inside int64)
    * followed by a single IEEE division, reproducible bit-for-bit.
    *
    * Scale shape: one groupBy(doc_id, term) for tf (keyed shuffle of the
    * token stream), one vocabulary-sized groupBy(term) for df, a join
    * back on term (vocab follows a Zipf law, so the df side is orders of
    * magnitude smaller than the token stream — AQE broadcasts it when it
    * fits), and one per-document window for the top-k. No global sort,
    * no driver collection; every stage is keyed on doc_id or term. The
    * batch operator IS [[tfIdfTopTermsFromCounts]] over the whole
    * corpus' [[postingsAdd]] state, so batch ≡ FromCounts by
    * construction. */
  def tfIdfTopTerms(documents: DataFrame, k: Int): DataFrame =
    // spread at THIS batch call site (not inside termStream — the r20
    // A/B rejected spreading termStream for the tokenizer family): the
    // one-shot tf explode otherwise rides the single-file scan task.
    // Scan-aware: identity once the source has >= cores splits.
    tfIdfTopTermsFromCounts(
      postingsAdd(graft.operators.Partitioning.spreadIfNarrow(documents, col("doc_id"))),
      documents.count(), k)

  /** Capped inverted-index construction: term → document frequency +
    * the first `maxPostings` doc ids as a deterministic posting list —
    * the retrieval-side artifact of a corpus build (BM25 index shards,
    * "which docs contain X" debugging). Per-doc-DISTINCT terms (one doc
    * can't flood a term), then everything rides ONE term-keyed
    * partitioning: df aggregation, the `row_number() <= maxPostings` cap
    * (planned as `WindowGroupLimit`, which prunes each partition before
    * the exchange — the full posting list of a stopword-ish term is
    * never collected anywhere), and the final join of the two
    * term-keyed sides plans with no extra exchange. The
    * capped list lands as a sorted comma-joined STRING (the ordered
    * group-concat contract — the only list encoding that hash-matches
    * across engines); `df` keeps the TRUE count, so the cap is visible
    * (df > maxPostings ⇒ truncated), never silent. The batch operator
    * IS [[invertedIndexFromCounts]] over the whole corpus'
    * [[postingsAdd]] state. */
  def invertedIndex(documents: DataFrame, maxPostings: Int = 20): DataFrame =
    invertedIndexFromCounts(postingsAdd(documents), maxPostings)

  /** BM25 ranked retrieval over the corpus — the query side of the
    * data-curation search loop (the inverted index builds the shards;
    * this scores a query against them): classic Robertson/Spärck Jones
    * BM25 with k1/b literals and a RATIONAL idf,
    *
    *   idf(t)      = (N − df(t) + 0.5) / (df(t) + 0.5)
    *   score(D,Q)  = Σ_t idf(t) · tf(t,D)·(k1+1)
    *                       / (tf(t,D) + k1·(1 − b + b·|D|/avgdl))
    *
    * Numeric-determinism contract: tf/df/|D| are exact integers; idf is
    * one IEEE division of exact int64 casts (the tfIdfTopTerms
    * discipline — no ln, so the ranking hash-replays in SQL; the log is
    * monotone in this rational form's numerator/denominator trade, and
    * at corpus scale the saturation term, not the idf shape, dominates
    * BM25's behavior); avgdl is ONE division of two exact corpus
    * aggregates (N = docs with ≥1 token, the same denominator both
    * engines derive). The per-document Σ over query terms is NOT a
    * float aggregation (partition-order nondeterminism would break
    * hash parity): each term's score lands in its own conditional-max
    * slot and the total is a FIXED-ORDER left-assoc chain over the
    * query's term order, absent terms contributing literal 0.0.
    *
    * Scale shape: one token-stream pass computes dl (doc-keyed agg);
    * the tf/df/score chain runs ONLY on rows matching the ≤|Q| query
    * terms (the `isin` prunes before any shuffle); df is a |Q|-row
    * frame (broadcast join); the final top-k is distributed
    * TakeOrdered (orderBy+limit, never a global rank window). Not a
    * read of [[postingsAdd]]: that state counts every term, while this
    * batch body prunes to the query terms before the shuffle. */
  def bm25TopDocs(documents: DataFrame, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = termStream(documents)
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1L)).as("dl"))
    val tf = toks.filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1L)).as("tf"))
    bm25Core(tf, dl, documents.sparkSession, queryTerms, k, k1, b)
  }

  /** ONE delta's POSTINGS state `(doc_id, term, tf)` — the retrieval
    * index as ingest state: everything the search side needs (document
    * lengths = Σ tf per doc, corpus N/avgdl, per-term df, the tf
    * themselves) derives from this one frame, so maintaining it makes
    * BM25/tf-idf retrieval fully incremental. Under the family's
    * ingest contract (each doc_id arrives in exactly one delta) the
    * per-key sums make `mergePostings(add(A), add(B)) ≡ add(A ∪ B)`
    * bit-for-bit. State is one row per distinct (doc, term) — the
    * inverted index's own size. */
  def postingsAdd(delta: DataFrame): DataFrame =
    termStream(delta).groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1L)).as("tf"))

  /** Exact merge of any number of [[postingsAdd]] states: per-(doc,
    * term) int64 sums — associative and order-free. */
  def mergePostings(states: DataFrame*): DataFrame =
    States.merge(states, Seq("doc_id", "term"), "tf" -> States.Sum)

  /** [[tfIdfTopTerms]] driven off an EXTERNAL [[postingsAdd]]/
    * [[mergePostings]] state — the same maintained index serving the
    * whole retrieval family (BM25 search, tf-idf ranking, the inverted
    * index) without a corpus scan. `nDocs` is passed explicitly: the
    * postings state cannot see token-free documents, so the ingest
    * maintains the document count beside it (one exact int64 sum). */
  def tfIdfTopTermsFromCounts(postings: DataFrame, nDocs: Long,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = postings.select(col("doc_id"), col("term"), col("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, Seq("term"))
      .withColumn("tfidf",
        (col("tf") * lit(nDocs)).cast(DoubleType) / col("df").cast(DoubleType))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast(IntegerType))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** [[invertedIndex]] driven off an EXTERNAL [[postingsAdd]]/
    * [[mergePostings]] state — df and the capped posting lists read
    * directly from the maintained index rows (tf > 0 by construction,
    * so the state's keys ARE the distinct (term, doc) postings). */
  def invertedIndexFromCounts(postings: DataFrame,
      maxPostings: Int = 20): DataFrame = {
    require(maxPostings > 0, s"maxPostings must be positive, got $maxPostings")
    import org.apache.spark.sql.expressions.Window
    val terms = postings.select(col("term"), col("doc_id"))
    val df = terms.groupBy(col("term")).agg(count(lit(1L)).as("df"))
    val capped = terms
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("term")).orderBy(col("doc_id"))))
      .filter(col("rn") <= maxPostings)
      .groupBy(col("term"))
      .agg(array_join(
        transform(sort_array(collect_list(col("doc_id"))), _.cast("string")), ",")
        .as("postings"))
    df.join(capped, Seq("term"))
  }

  /** [[bm25TopDocs]] driven off an EXTERNAL [[postingsAdd]]/
    * [[mergePostings]] state instead of a fresh corpus scan — the read
    * side of the incremental-retrieval contract: document lengths are
    * Σ tf per doc (identical int64 to the direct token count), the
    * query-term tf rows are a filter over the state, and the scoring
    * tail is shared — bit-identical to the single-pass search. A
    * streamed ingest maintains the index-sized state; a query pays no
    * corpus scan at all. */
  def bm25TopDocsFromCounts(postings: DataFrame, queryTerms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val dl = postings.groupBy(col("doc_id"))
      .agg(sum(col("tf")).cast(LongType).as("dl"))
    val tf = postings.filter(col("term").isin(queryTerms: _*))
      .select(col("doc_id"), col("term"), col("tf"))
    bm25Core(tf, dl, postings.sparkSession, queryTerms, k, k1, b)
  }

  /** The shared BM25 scoring tail: `tf` = (doc_id, term, tf) for the
    * query terms, `dl` = (doc_id, dl) document lengths. */
  private def bm25Core(tf: DataFrame, dl0: DataFrame,
      spark: org.apache.spark.sql.SparkSession, queryTerms: Seq[String],
      k: Int, k1: Double, b: Double): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.distinct.size == queryTerms.size,
      s"duplicate query terms would double-count their slots: $queryTerms")
    require(k > 0, s"k must be positive, got $k")
    val dl = dl0.localCheckpoint(false) // feeds the corpus stats AND the score join
    // bounded 1-row corpus state: token total + doc count -> avgdl, N
    val st = dl.agg(sum(col("dl")), count(lit(1L))).first()
    if (st.isNullAt(0)) {
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("rank", IntegerType), StructField("doc_id", LongType),
          StructField("bm25", DoubleType))))
    }
    val nDocs = st.getLong(1)
    val avgdl = st.getLong(0).toDouble / nDocs.toDouble
    // tf is distinct per (doc, term) so df is a plain count — ≤|Q| rows
    val dfr = tf.groupBy(col("term")).agg(count(lit(1L)).as("df"))
    val idf = (lit(nDocs) - col("df")).cast(DoubleType) + lit(0.5)
    val score = idf / (col("df").cast(DoubleType) + lit(0.5)) *
      (col("tf").cast(DoubleType) * lit(k1 + 1.0)) /
      (col("tf").cast(DoubleType) +
        lit(k1) * (lit(1.0 - b) + lit(b) * (col("dl").cast(DoubleType) / lit(avgdl))))
    val scored = tf.join(broadcast(dfr), Seq("term")).join(dl, Seq("doc_id"))
      .withColumn("score", score)
    // fixed-order Σ over the query's term order (order-safe: max over
    // the ≤1 value in each term's slot, then a left-assoc literal chain)
    val total = queryTerms
      .map(t => coalesce(max(when(col("term") === t, col("score"))), lit(0.0)))
      .reduceLeft(_ + _)
    val ranked = scored.groupBy(col("doc_id")).agg(total.as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(k)
    ranked.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("bm25").desc, col("doc_id").asc)).cast(IntegerType))
      .select(col("rank"), col("doc_id"), col("bm25"))
  }

  /** Tokenizer-training prep — the first BPE merge iteration: corpus-wide
    * adjacent-symbol-pair counts, the statistic a byte-pair-encoding
    * trainer maximizes at every merge step. The classic BPE compression
    * applies here exactly as in the reference implementations: pairs are
    * enumerated once per WORD TYPE and weighted by word frequency, so
    * the explode cost scales with the vocabulary (Zipf-small), not the
    * corpus — the word-frequency aggregation is the only full-data
    * shuffle, everything after runs on the distinct-word table. Top-k by
    * the (count DESC, pair) total order via distributed TakeOrdered
    * (orderBy+limit — never a rank window), so the cutoff is
    * deterministic and the report oracle-checks. */
  def bpePairCounts(documents: DataFrame, k: Int = 50): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val words = termStream(documents).select(col("term").as("word"))
      .groupBy(col("word")).agg(count(lit(1L)).as("wf"))
    // chars via split + empty-filter (Java split keeps a trailing "");
    // guard 1-char words — sequence(1, 0) would generate DESCENDING
    val cs = filter(split(col("word"), ""), c => c =!= "")
    words
      .select(col("wf"), cs.as("cs"))
      .select(col("wf"), explode(
        when(size(col("cs")) < 2, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(1), size(col("cs")) - 1),
            i => concat(element_at(col("cs"), i), element_at(col("cs"), i + 1)))))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wf")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)
  }

  /** Exact duplicate-substring SPANS — the Lee et al. ("Deduplicating
    * Training Data Makes Language Models Better") exact-substring
    * dedup, the member of the dedup family the others don't cover:
    * full-doc exact dedup misses shared boilerplate inside otherwise-
    * distinct documents, MinHash/SimHash/Jaccard flag whole near-dup
    * PAIRS, and repetitionStats/boilerplateNgrams only count — this
    * returns the actual token RANGES to cut. A position is duplicated
    * when its n-token shingle hash occurs ≥ `minOccurrences` times
    * corpus-wide (INTRA-doc repeats count — a doc that repeats its own
    * phrase is deduplicated against itself, per the paper); consecutive
    * duplicated positions merge into maximal spans `[span_start,
    * span_end]` (1-based token indices, end inclusive) via the
    * sessionize-style gap grouping `pos − row_number()`.
    *
    * Scale shape: positional shingles checkpoint once behind the
    * Generate (the docCentrality 49× lesson — never explode off the
    * un-materialized hash lambda), then ONE shingle-keyed count + a
    * semi-join back (the duplicated-hash table is Zipf-small; a
    * boilerplate shingle contributes one count row, never an exploded
    * pair set) + one doc-keyed island window. Shingles are int64
    * hashes, the near-dup family's unit: the 1-in-10⁶ collision noise
    * floor buys int-width shuffles instead of string spans. Not a
    * read of [[shingleCountAdd]]: the count and the span read share one
    * checkpointed positional-shingle frame, which the reader would
    * compute twice. */
  def duplicateSpans(documents: DataFrame, n: Int = 3,
      minOccurrences: Long = 2L): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    require(minOccurrences >= 2,
      s"minOccurrences < 2 would flag every position, got $minOccurrences")
    val ps = posShingles(documents, n)
    val dup = ps.groupBy(col("sh")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minOccurrences).select(col("sh"))
    spansFromPs(ps, dup, n)
  }

  /** Positional (non-distinct) shingle hashes `(doc_id, pos, sh)`,
    * 1-based, checkpointed behind the Generate (the docCentrality 49×
    * lesson — never explode off the un-materialized hash lambda). */
  private def posShingles(documents: DataFrame, n: Int): DataFrame = {
    val sh = MinHash.tokenHashFrame(documents)
      .select(col("doc_id"), MinHash.shingleHashesFromTokens(col("th"), n).as("sharr"))
      .localCheckpoint(false)
    sh.select(col("doc_id"), posexplode(col("sharr")).as(Seq("pos0", "sh")))
      .select(col("doc_id"), (col("pos0") + 1).cast(IntegerType).as("pos"), col("sh"))
      .localCheckpoint(false) // feeds the occurrence count AND the keep join
  }

  /** Island grouping + span aggregation over a positional shingle frame
    * semi-joined to the duplicated-hash set. */
  private def spansFromPs(ps: DataFrame, dup: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    ps.join(dup, Seq("sh"))
      .withColumn("g", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("g"))
      .agg(
        min(col("pos")).cast(LongType).as("span_start"),
        (max(col("pos")) + (n - 1)).cast(LongType).as("span_end"),
        (max(col("pos")) - min(col("pos")) + n).cast(LongType).as("span_tokens"),
        count(lit(1)).as("n_shingles"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("span_tokens"), col("n_shingles"))
  }

  /** Incremental duplicate-span maintenance — the [[Cluster.indexAdd]]
    * composition contract applied to the shingle-count state a
    * streaming corpus ingest keeps: [[shingleCountAdd]] encodes ONE
    * delta's positional shingle occurrences as a `(sh, cnt)` count
    * frame, [[mergeShingleCounts]] merges two count frames with exact
    * int64 sums, and [[duplicateSpansFromCounts]] derives the span
    * table from documents plus ANY such state. Because counting is a
    * pure per-occurrence sum, `mergeShingleCounts(add(A), add(B)) ≡
    * add(A ∪ B)` bit-for-bit, so chunk boundaries in the ingest can
    * never move a span — driver-hash-checked as `dup_spans_stream`
    * (two-delta merge vs the single-pass `dup_spans` oracle) and
    * ExtSpec-asserted on a MemoryStream ingest with associativity.
    * The count state is Zipf-small (one row per distinct shingle, the
    * same partial-agg shape as the batch count), so the maintained
    * table stays a fraction of corpus size at any scale. */
  def shingleCountAdd(delta: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    posShingles(delta, n).groupBy(col("sh"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Exact merge of any number of [[shingleCountAdd]] states:
    * per-shingle int64 count sums — associative and order-free. */
  def mergeShingleCounts(states: DataFrame*): DataFrame =
    States.merge(states, Seq("sh"), "cnt" -> States.Sum)

  /** [[duplicateSpans]] driven off an EXTERNAL count state instead of a
    * fresh corpus-wide count — the read side of the incremental
    * contract. `counts` must cover the documents' shingles (a merged
    * ingest state does by construction). */
  def duplicateSpansFromCounts(documents: DataFrame, counts: DataFrame,
      n: Int = 3, minOccurrences: Long = 2L): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    require(minOccurrences >= 2,
      s"minOccurrences < 2 would flag every position, got $minOccurrences")
    spansFromPs(posShingles(documents, n),
      counts.filter(col("cnt") >= minOccurrences).select(col("sh")), n)
  }

  /** k greedy BPE merge rounds over word TYPES — [[bpePairCounts]]
    * iterated into an actual tokenizer-training loop: each round counts
    * adjacent symbol pairs weighted by word frequency, merges the
    * (count DESC, left, right)-argmax pair everywhere it occurs, and
    * the next round counts over the merged symbols. Returns the merge
    * table `(merge_rank, left_sym, right_sym, merged, cnt)` — the
    * artifact a BPE tokenizer ships.
    *
    * Merge application is the leftmost-non-overlapping string-replace
    * convention: every symbol is WRAPPED in U+001F markers
    * (`␟l␟␟o␟␟a␟␟n␟`), so the pattern `␟l␟␟o␟` only matches where the
    * right side is the COMPLETE next symbol — a leading-marker-only
    * encoding (`␟l␟o`) would also match when the following symbol
    * merely STARTS with `o` (after a round-1 merge (b,c)→`bc`,
    * applying (a,b) to `␟a␟bc` would fuse a+bc and invent a symbol no
    * merge produced, corrupting the vocabulary and every later count).
    * Adjacent occurrences share no boundary character (each symbol
    * carries its OWN wrap), and both engines' `replace` define the
    * identical left-to-right scan, which is what makes round k's
    * vocabulary (and so every count) bit-reproducible.
    *
    * Scale shape: the corpus-sized shuffle happens ONCE (the word-type
    * frequency groupBy); every round then runs on the Zipf-small
    * vocabulary table — one narrow pair explode, one pair-keyed agg,
    * one 1-row TakeOrdered collect (the bounded driver state), one
    * narrow replace. `merges` is a driver-loop bound (each round is a
    * Spark job): this is the exact-replay reference trainer — a
    * production 30k-merge run batches rounds over the same vocabulary
    * frame, trading the per-round argmax barrier for throughput. A
    * round with no remaining pairs ends training early (the oracle's
    * never-matching `chr(2)` sentinel keeps later CTEs inert). */
  private val BpeSep = "\u001f"

  /** [[duplicateSpans]] APPLIED — the cleaning cut, with the paper's
    * keep-first semantics: every shingle occurrence except the globally
    * FIRST (min by (doc_id, pos) — deterministic, engine-agnostic) is
    * marked cut, cut positions merge into spans, and the spanned token
    * ranges are EXCISED from the text — MINUS any token inside a first
    * occurrence's own range [pos₁, pos₁+n−1], so the kept occurrence
    * survives INTACT even when cut ranges of overlapping intra-doc
    * self-repeats (`a a a a a`) or of other duplicated shingles reach
    * into it: no shared phrase is ever lost from the corpus entirely.
    * Returns `(doc_id, text_cleaned, tokens_kept, tokens_removed)`;
    * a document whose every token is excised drops out (no empty-text
    * row), mirroring the oracle's keep-side group-by.
    *
    * Deliberately relational, no nested lambdas — and no per-shingle
    * rank window: the surviving occurrence is the map-side-combinable
    * aggregate `min(struct(doc_id, pos))` per shingle, so a
    * boilerplate shingle with millions of occurrences costs one
    * partially-aggregated count row, never a single-reducer sort (the
    * 100 TB hot-shingle hazard of `row_number() OVER (PARTITION BY
    * sh)`). Cut token indices explode from the bounded span list
    * (Σ span lengths ≤ token count), the first-occurrence protection
    * and the keep decision are token-level LEFT ANTI joins, and
    * reassembly sorts `(index, token)` structs before joining —
    * collect order never leaks into the output, which is what lets the
    * cleaned STRING hash-match the oracle. All stages are doc- or
    * shingle-keyed shuffles. Not a read of [[shingleFirstAdd]]: the
    * keep-first aggregate and the cut share one checkpointed
    * positional-shingle frame, which the reader would compute twice. */
  def cutDuplicateSpans(documents: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    val ps = posShingles(documents, n) // feeds the keep-first agg AND the cut join
    // keep-first: the globally earliest occurrence of each duplicated
    // shingle, as a partial-agg-friendly min(struct) — never a window
    val first = ps.groupBy(col("sh"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("f"))
      .filter(col("cnt") >= 2)
      .select(col("sh"), col("f.doc_id").as("fdoc"), col("f.pos").as("fpos"))
      .localCheckpoint(false) // feeds the cut join AND the protected set
    cutCore(documents, ps, first, n)
  }

  /** ONE delta's shingle state for the INCREMENTAL cut: per-shingle
    * occurrence count AND the delta-local first occurrence — the
    * [[shingleCountAdd]] contract extended with the keep-first seat.
    * `min(struct(doc_id, pos))` is associative and order-free, so
    * `mergeShingleFirsts(add(A), add(B)) ≡ add(A ∪ B)` bit-for-bit and
    * chunk boundaries can never move the kept occurrence. State stays
    * Zipf-small (one row per distinct shingle). */
  def shingleFirstAdd(delta: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    posShingles(delta, n).groupBy(col("sh"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("f"))
      .select(col("sh"), col("cnt"), col("f.doc_id").as("fdoc"),
        col("f.pos").as("fpos"))
  }

  /** Exact merge of any number of [[shingleFirstAdd]] states: int64
    * count sums + the struct-min of the first occurrences. */
  def mergeShingleFirsts(states: DataFrame*): DataFrame =
    States.merge(states.map(_.withColumn("f", struct(col("fdoc"), col("fpos")))),
        Seq("sh"), "cnt" -> States.Sum, "f" -> States.Min)
      .select(col("sh"), col("cnt"), col("f.fdoc").as("fdoc"),
        col("f.fpos").as("fpos"))

  /** [[cutDuplicateSpans]] driven off an EXTERNAL
    * [[shingleFirstAdd]]/[[mergeShingleFirsts]] state instead of a
    * fresh corpus-wide keep-first aggregation — the read side of the
    * incremental contract, closing the loop [[duplicateSpansFromCounts]]
    * opened for detection: a streamed ingest maintains `(sh, cnt,
    * fdoc, fpos)` and the cleaning cut re-scans only the documents
    * being cleaned, never recounting the corpus. A first occurrence
    * that lives in a chunk OUTSIDE `documents` still wins (all local
    * occurrences are cut, no local protection row materializes for
    * it) — exactly the global keep-first semantics. */
  def cutDuplicateSpansFromCounts(documents: DataFrame, state: DataFrame,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    // the filtered state feeds BOTH the cut join and the protected-token
    // set — checkpoint it like the single-pass path does, or an expensive
    // merged ingest state is recomputed twice per run
    cutCore(documents, posShingles(documents, n),
      state.filter(col("cnt") >= 2)
        .select(col("sh"), col("fdoc"), col("fpos"))
        .localCheckpoint(false), n)
  }

  /** The shared cut pipeline: `ps` = the documents' positional
    * shingles, `first` = (sh, fdoc, fpos) for duplicated shingles. */
  private def cutCore(documents: DataFrame, ps: DataFrame, first: DataFrame,
      n: Int): DataFrame = {
    val cut = ps.join(first, Seq("sh"))
      .filter(!(col("doc_id") === col("fdoc") && col("pos") === col("fpos")))
      .select(col("doc_id"), col("pos"))
    // tokens inside any first occurrence's own range are never excised
    val protTok = first
      .select(col("fdoc").as("doc_id"),
        explode(sequence(col("fpos"), col("fpos") + (n - 1))).as("i"))
      .distinct()
    excise(documents, cut, Some(protTok), n)
  }

  /** The shared excision tail: merge cut shingle positions `(doc_id,
    * pos)` into spans, explode to cut TOKEN indices (minus the
    * optional protected set), anti-join the token stream, and
    * reassemble — `(doc_id, text_cleaned, tokens_kept,
    * tokens_removed)`, fully-excised docs drop out. */
  private def excise(documents: DataFrame, cut: DataFrame,
      protTok: Option[DataFrame], n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // merge cut positions into spans, then explode to cut TOKEN indices
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cutToks0 = cut
      .withColumn("g", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (n - 1)).as("e"))
      .select(col("doc_id"), explode(sequence(col("s"), col("e"))).as("i"))
      .distinct()
    val cutToks = protTok.fold(cutToks0)(p =>
      cutToks0.join(p, Seq("doc_id", "i"), "left_anti"))
    val te = documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("i0", "t")))
      .select(col("doc_id"), (col("i0") + 1).as("i"), col("t"))
    val kept = te.join(cutToks, Seq("doc_id", "i"), "left_anti")
    // tokens_removed = total − kept: cut indices are distinct and within
    // 1..total, so the count identity is exact — deriving it from the
    // narrow per-doc total keeps cutToks SINGLE-consumer (the expensive
    // cut subtree is planned and computed once, not once per output col)
    val totals = documents.select(col("doc_id"),
      size(split(col("text"), " ")).cast(LongType).as("n_toks"))
    kept.groupBy(col("doc_id"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("i"), col("t")))),
          p => p("t")), " ").as("text_cleaned"),
        count(lit(1)).as("tokens_kept"))
      .join(totals, Seq("doc_id"))
      .select(col("doc_id"), col("text_cleaned"), col("tokens_kept"),
        (col("n_toks") - col("tokens_kept")).as("tokens_removed"))
  }

  /** Contaminated-span EXCISION — the removal step the contamination
    * family's detectors ([[graft.ext.Corpus.contamination]] exact,
    * `bloomContamination` screening, `Cluster.semanticContamination])
    * feed (the GPT-3 appendix-C decontamination shape: rather than
    * dropping a flagged training document wholesale, cut exactly the
    * token spans its n-gram overlap with the eval/benchmark set
    * covers): every training token inside a shingle whose hash appears
    * ANYWHERE in the eval side is excised, overlapping matches merge
    * into spans via the same island grouping as [[cutDuplicateSpans]],
    * and reassembly is order-pinned so the cleaned string
    * hash-replays. A training doc fully covered by eval content drops
    * out entirely (the doc-drop decontamination is the degenerate
    * case).
    *
    * Output: `(doc_id, text_cleaned, tokens_kept, tokens_removed)`
    * over the TRAIN side only.
    *
    * Scale: the eval side (a benchmark suite) is bounded, so its
    * distinct shingle set BROADCASTS and the training side is never
    * shuffled for the match — one broadcast probe, one doc-keyed
    * window for islands, one doc-keyed reassembly. The same
    * economics as [[graft.ext.Corpus.contamination]]'s audit, now
    * producing the cleaned corpus itself. */
  def cutContaminatedSpans(train: DataFrame, eval: DataFrame,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    val evalSh = posShingles(eval, n).select(col("sh")).distinct()
    val cut = posShingles(train, n)
      .join(broadcast(evalSh), Seq("sh"))
      .select(col("doc_id"), col("pos"))
    excise(train, cut, None, n)
  }

  /** Initial BPE vocabulary from an explicit word-frequency state
    * `(term, freq)` — the FromCounts seam the streamed-ingest trainer
    * shares with the direct one: U+001F-wrapped per-character symbol
    * representation per word type. */
  private[graft] def bpeVocabFromFreqs(freqs: DataFrame): DataFrame = {
    val cs = filter(split(col("term"), ""), c => c =!= "")
    freqs
      .select(col("term"), col("freq").cast(LongType).as("freq"),
        array_join(transform(cs, c => concat(lit(BpeSep), c, lit(BpeSep))), "")
          .as("repr"))
      .localCheckpoint(false)
  }

  /** ONE delta's word-type frequencies `(term, freq)` — the
    * [[shingleCountAdd]] contract applied to tokenizer training: a
    * streamed corpus ingest keeps this Zipf-small state and the BPE
    * trainers consume ANY merged state via
    * [[bpeTrainMergesBatchedFromCounts]]. Pure per-occurrence counting,
    * so `mergeWordFreqs(add(A), add(B)) ≡ add(A ∪ B)` bit-for-bit —
    * chunk boundaries in the ingest can never move a merge. */
  def wordFreqAdd(delta: DataFrame): DataFrame =
    termStream(delta).groupBy(col("term")).agg(count(lit(1L)).as("freq"))

  /** Exact merge of any number of [[wordFreqAdd]] states: per-term
    * int64 sums — associative and order-free. */
  def mergeWordFreqs(states: DataFrame*): DataFrame =
    States.merge(states, Seq("term"), "freq" -> States.Sum)

  /** Adjacent-symbol pair counts over a vocabulary frame, UNORDERED —
    * the shared aggregation both ranking policies (BPE's raw count,
    * WordPiece's likelihood score) rank on top of. */
  private def bpePairCountFrame(vocab: DataFrame): DataFrame =
    vocab
      // wrapped encoding splits to empty strings between/around markers
      .select(col("freq"),
        filter(split(col("repr"), BpeSep), s => s =!= "").as("syms"))
      .select(col("freq"), explode(
        when(size(col("syms")) < 2, array().cast("array<struct<l:string,r:string>>"))
          .otherwise(transform(sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("l"),
              element_at(col("syms"), i + 1).as("r"))))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))

  /** Adjacent-symbol pair counts over a vocabulary frame, ordered
    * (cnt DESC, l, r) — the per-round candidate list both BPE trainers
    * argmax/window over. */
  private def bpePairFrame(vocab: DataFrame): DataFrame =
    bpePairCountFrame(vocab)
      .orderBy(col("cnt").desc, col("l").asc, col("r").asc)

  /** Per-SYMBOL occurrence totals over a vocabulary frame (freq-weighted,
    * exact int64) — the denominator state of the WordPiece score. */
  private def bpeSymCounts(vocab: DataFrame): DataFrame =
    vocab
      .select(col("freq"),
        explode(filter(split(col("repr"), BpeSep), s => s =!= "")).as("sym"))
      .groupBy(col("sym")).agg(sum(col("freq")).as("scnt"))

  /** One wrapped-symbol merge replace: `␟l␟␟r␟` → `␟lr␟`. */
  private def bpeApply(repr: Column, l: String, r: String): Column =
    replace(repr, lit(BpeSep + l + BpeSep + BpeSep + r + BpeSep),
      lit(BpeSep + l + r + BpeSep))

  /** The shared BPE loop: runs `merges` greedy rounds and returns BOTH
    * the merge table and the final vocabulary frame `(term, freq,
    * repr)` — [[bpeTrainMerges]] ships the former, [[bpeEncodeCounts]]
    * consumes the latter. */
  private def bpeCore(documents: DataFrame, merges: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    require(merges >= 1 && merges <= 32,
      s"merges must be in [1, 32] (driver-loop bound), got $merges")
    var cur = bpeVocabFromFreqs(wordFreqAdd(documents))
    val out = scala.collection.mutable.Buffer.empty[(Int, String, String, String, Long)]
    var round = 1
    var done = false
    while (round <= merges && !done) {
      val top = bpePairFrame(cur).limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val l = top.head.getString(0); val r = top.head.getString(1)
        val cnt = top.head.getLong(2)
        out += ((round, l, r, l + r, cnt))
        cur = cur.select(col("term"), col("freq"),
            bpeApply(col("repr"), l, r).as("repr"))
          .localCheckpoint(false) // each round's vocabulary feeds the next
        round += 1
      }
    }
    (out.toSeq, cur)
  }

  /** The BATCHED BPE loop — the production-scale trainer the sequential
    * [[bpeCore]] cannot be (one driver argmax barrier per merge caps it
    * at 32 merges; a 30k-merge tokenizer run needs merges-per-barrier).
    * Each of exactly `rounds` rounds: ONE pair-count aggregation over
    * the Zipf-small vocabulary, collect the W = 4·batch best pairs
    * (bounded driver state), then greedily take up to `batch` pairs in
    * (cnt DESC, l, r) order whose symbol sets {l, r, l+r} are disjoint
    * from every pair already taken this round. Disjointness is what
    * makes a round's merges independent: a replace for one taken pair
    * can neither create, destroy, nor partially consume an occurrence
    * of another (merging two symbols never makes two OTHER symbols
    * adjacent, and the fused symbol l+r is excluded from later picks),
    * so the chained application equals any other order and each round's
    * counts are all measured against the same pre-round vocabulary —
    * the documented semantic difference from the sequential trainer,
    * which recounts after every single merge. `merge_rank` numbers the
    * taken pairs round-major in selection order.
    *
    * Replayable: the oracle runs the same W-window and the same greedy
    * sequence as chained argmax-with-NOT-EXISTS CTEs, so the batched
    * table hash-matches end to end. A round that selects fewer than
    * `batch` (conflicts) still always selects >= 1 while pairs remain;
    * a round with no pairs at all ends training early. Starts from a
    * wrapped-symbol vocabulary `(term, freq, repr)`. */
  private[graft] def bpeCoreBatched(vocab0: DataFrame, rounds: Int, batch: Int)
      : (Seq[(Int, String, String, String, Long)], DataFrame) = {
    require(rounds >= 1 && rounds <= 2048,
      s"rounds must be in [1, 2048] (driver-barrier bound), got $rounds")
    require(batch >= 1 && batch <= 64, s"batch must be in [1, 64], got $batch")
    var cur = vocab0
    val out = scala.collection.mutable.Buffer.empty[(Int, String, String, String, Long)]
    var round = 1
    var rank = 1
    var done = false
    while (round <= rounds && !done) {
      val win = bpePairFrame(cur).limit(4 * batch).collect()
      if (win.isEmpty) done = true
      else {
        val taken = scala.collection.mutable.Buffer.empty[(String, String, Long)]
        val used = scala.collection.mutable.Set.empty[String]
        var i = 0
        while (i < win.length && taken.size < batch) {
          val l = win(i).getString(0); val r = win(i).getString(1)
          val syms = Seq(l, r, l + r)
          if (!syms.exists(used.contains)) {
            taken += ((l, r, win(i).getLong(2))); used ++= syms
          }
          i += 1
        }
        taken.foreach { case (l, r, c) => out += ((rank, l, r, l + r, c)); rank += 1 }
        val newRepr = taken.foldLeft(col("repr")) { case (e, (l, r, _)) =>
          bpeApply(e, l, r)
        }
        cur = cur.select(col("term"), col("freq"), newRepr.as("repr"))
          .localCheckpoint(false)
        round += 1
      }
    }
    (out.toSeq, cur)
  }

  /** [[bpeCoreBatched]]'s merge table: up to `rounds · batch` merges in
    * `rounds` driver barriers — same schema as [[bpeTrainMerges]]. The
    * read of [[bpeTrainMergesBatchedFromCounts]] on the whole corpus'
    * [[wordFreqAdd]] state. */
  def bpeTrainMergesBatched(documents: DataFrame, rounds: Int,
      batch: Int): DataFrame =
    bpeTrainMergesBatchedFromCounts(wordFreqAdd(documents), rounds, batch)

  /** [[bpeTrainMergesBatched]] driven off an EXTERNAL word-frequency
    * state `(term, freq)` instead of a fresh corpus scan — the read
    * side of the [[wordFreqAdd]]/[[mergeWordFreqs]] ingest contract.
    * Because the trainer's only corpus-sized pass IS the word-type
    * frequency count, a maintained state makes tokenizer training
    * fully incremental: the merge table from a merged ingest state is
    * bit-identical to training on the concatenated corpus. */
  def bpeTrainMergesBatchedFromCounts(wordFreqs: DataFrame, rounds: Int,
      batch: Int): DataFrame =
    bpeMergeTable(bpeCoreBatched(bpeVocabFromFreqs(wordFreqs), rounds, batch)._1,
      wordFreqs.sparkSession)

  def bpeTrainMerges(documents: DataFrame, merges: Int): DataFrame =
    bpeMergeTable(bpeCore(documents, merges)._1, documents.sparkSession)

  /** A trainer's collected merges as the shipped merge-table frame. */
  private def bpeMergeTable(out: Seq[(Int, String, String, String, Long)],
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    out.toDF("merge_rank", "left_sym", "right_sym", "merged", "cnt")
      .select(col("merge_rank").cast(IntegerType), col("left_sym"),
        col("right_sym"), col("merged"), col("cnt"))
  }

  /** WordPiece-SCORED merge trainer (Schuster & Nakajima 2012; the
    * BERT tokenizer's ranking — cf. the reference's generator at
    * `airflows/generator/pg_oltp_synth.py`, which has no tokenizer;
    * this is the LLM-pipeline extension): the second greedy-merge
    * policy over the SAME wrapped-symbol vocabulary machinery as
    * [[bpeTrainMerges]], ranking each adjacent pair by the likelihood
    * gain `cnt(l,r) / (cnt(l) · cnt(r))` instead of the raw count —
    * WordPiece prefers pairs whose parts rarely occur apart (high
    * mutual information), where BPE prefers the most frequent pair
    * outright. Ties break on (l, r) lexicographic, like BPE.
    *
    * Replayability: all three counts are exact freq-weighted int64
    * aggregates; the score is ONE IEEE multiply + ONE divide of those
    * ints (each < 2⁵³, so the int→double conversions are exact and
    * both ops are correctly rounded) — bit-identical in any IEEE-754
    * engine, so the oracle's ORDER BY sees the same order. Obeys the
    * repo's no-pow/exp/ln rule: no log-likelihood, the RATIO itself is
    * the ranking key (log is monotone — same argmax).
    *
    * Output: `(merge_rank, left_sym, right_sym, merged, cnt, score)` —
    * a superset of the BPE merge-table schema, so the table feeds
    * [[bpeEncodeWith]]/[[bpeTokenize]]/[[bpeVocabulary]] unchanged
    * (train with either policy, ship the table, encode identically).
    *
    * Scale: one driver barrier per merge (the scored argmax collect —
    * pair counts and the two symbol-count joins are ONE job), each
    * over the Zipf-small vocabulary frame, never the corpus; the
    * corpus-sized work is only the [[wordFreqAdd]] word count, so a
    * maintained word-frequency state serves this trainer exactly as it
    * serves the BPE one: this is [[wordpieceTrainMergesFromCounts]] on
    * the whole corpus' state. */
  def wordpieceTrainMerges(documents: DataFrame, merges: Int): DataFrame =
    wordpieceTrainMergesFromCounts(wordFreqAdd(documents), merges)

  /** [[wordpieceTrainMerges]] driven off an EXTERNAL word-frequency
    * state `(term, freq)` — the [[wordFreqAdd]]/[[mergeWordFreqs]]
    * ingest contract applied to the WordPiece policy: both trainer
    * families share the one corpus-sized pass. */
  def wordpieceTrainMergesFromCounts(wordFreqs: DataFrame,
      merges: Int): DataFrame = {
    require(merges >= 1 && merges <= 32,
      s"merges must be in [1, 32] (driver-loop bound), got $merges")
    val spark = wordFreqs.sparkSession
    var cur = bpeVocabFromFreqs(wordFreqs)
    val out = scala.collection.mutable.Buffer
      .empty[(Int, String, String, String, Long, Double)]
    var round = 1
    var done = false
    while (round <= merges && !done) {
      val sc = bpeSymCounts(cur)
      val top = bpePairCountFrame(cur)
        .join(sc.select(col("sym").as("l"), col("scnt").as("lcnt")), Seq("l"))
        .join(sc.select(col("sym").as("r"), col("scnt").as("rcnt")), Seq("r"))
        .select(col("l"), col("r"), col("cnt"),
          (col("cnt").cast(DoubleType) /
            (col("lcnt").cast(DoubleType) * col("rcnt").cast(DoubleType)))
            .as("score"))
        .orderBy(col("score").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val l = top.head.getString(0); val r = top.head.getString(1)
        out += ((round, l, r, l + r, top.head.getLong(2), top.head.getDouble(3)))
        cur = cur.select(col("term"), col("freq"),
            bpeApply(col("repr"), l, r).as("repr"))
          .localCheckpoint(false) // each round's vocabulary feeds the next
        round += 1
      }
    }
    import spark.implicits._
    out.toSeq.toDF("merge_rank", "left_sym", "right_sym", "merged", "cnt", "score")
      .select(col("merge_rank").cast(IntegerType), col("left_sym"),
        col("right_sym"), col("merged"), col("cnt"), col("score"))
  }

  /** The ENCODE half of the BPE loop — apply `merges` trained rounds to
    * the corpus and report per-document token counts: `bpe_tokens`
    * (symbols after merging), `char_tokens` (the character baseline),
    * and the compression ratio — the number a tokenizer-training run is
    * actually judged by. Because [[bpeCore]] keeps the word TYPE →
    * final-representation mapping, encoding is one vocab-sized symbol
    * count + a term-keyed join onto per-doc term frequencies (the
    * corpus-sized work is the one tf groupBy; the vocabulary side is
    * Zipf-small and AQE-broadcasts). The ratio is one IEEE division of
    * two exact int64 sums — hash-replayable. */
  def bpeEncodeCounts(documents: DataFrame, merges: Int): DataFrame =
    bpeCountsFromVocab(bpeCore(documents, merges)._2, documents)

  /** The shared encode tail: per-doc token counts off a final
    * vocabulary frame `(term, freq, repr)` — one Zipf-small symbol
    * count (AQE-broadcasts) + the one corpus-sized tf groupBy. */
  private def bpeCountsFromVocab(vocab: DataFrame,
      documents: DataFrame): DataFrame = {
    val symCnt = vocab.select(col("term"),
      size(filter(split(col("repr"), BpeSep), s => s =!= ""))
        .cast(LongType).as("bpe_syms"),
      length(col("term")).cast(LongType).as("char_syms"))
    termStream(documents).groupBy(col("doc_id"), col("term")).agg(count(lit(1L)).as("tf"))
      .join(symCnt, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("bpe_syms")).as("bpe_tokens"),
        sum(col("tf") * col("char_syms")).as("char_tokens"))
      .withColumn("compression",
        col("char_tokens").cast(DoubleType) / col("bpe_tokens").cast(DoubleType))
  }

  /** Merge-table-DRIVEN encode — the deployment contract a tokenizer
    * actually has: train ONCE (either trainer, any merge count), ship
    * the table `(merge_rank, left_sym, right_sym)`, apply it to any
    * corpus — where [[bpeEncodeCounts]] retrains inline under the
    * sequential trainer's 32-merge barrier cap, this encodes with a
    * 30k-merge production vocabulary in zero training barriers. The
    * table is collected in `merge_rank` order (bounded driver state —
    * tokenizer merge files are small by construction) and replayed as
    * wrapped-symbol replaces, 16 per checkpointed projection so the
    * codegen'd expression depth stays bounded at any merge count.
    * Rank-order application reproduces BOTH trainers' final
    * vocabularies exactly: the sequential trainer applies merges one
    * at a time in rank order, and the batched trainer's within-round
    * picks are symbol-disjoint (their replaces commute), so the
    * round-major rank chain is one of the equivalent orders. */
  def bpeEncodeWith(mergeTable: DataFrame, documents: DataFrame): DataFrame = {
    val ms = collectMergeTable(mergeTable)
    bpeCountsFromVocab(bpeReplayMerges(bpeVocabFromFreqs(wordFreqAdd(documents)), ms),
      documents)
  }

  /** Collect a shipped merge table in rank order, with the driver-state
    * bound ENFORCED (<= 2048·64 rows, the batched trainer's own ceiling)
    * rather than assumed — a pathological table must fail loud, not OOM
    * the driver. */
  private def collectMergeTable(mergeTable: DataFrame): Seq[(String, String)] = {
    val maxMerges = 2048 * 64 // rounds-bound × batch-bound of bpeCoreBatched
    val rows = mergeTable
      .select(col("merge_rank").cast(IntegerType), col("left_sym"),
        col("right_sym"))
      .limit(maxMerges + 1).collect()
    require(rows.length <= maxMerges,
      s"merge table exceeds the bounded-driver-state contract ($maxMerges rows)")
    rows.sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
  }

  /** Replay a collected merge list over a vocabulary frame in rank order,
    * 16 wrapped-symbol replaces per checkpointed projection so codegen'd
    * expression depth stays bounded at any merge count. */
  private def bpeReplayMerges(vocab0: DataFrame,
      ms: Seq[(String, String)]): DataFrame = {
    var cur = vocab0
    ms.grouped(16).foreach { g =>
      // foldLeft nests the FIRST merge innermost = applied first
      val repr = g.foldLeft(col("repr")) { case (e, (l, r)) => bpeApply(e, l, r) }
      cur = cur.select(col("term"), col("freq"), repr.as("repr"))
        .localCheckpoint(false)
    }
    cur
  }

  /** The tokenized REPRESENTATION itself — per-document token-ID
    * sequences from a shipped merge table, the artifact a training
    * pipeline feeds downstream (where [[bpeEncodeWith]] reports only
    * counts): `(doc_id, n_tokens, token_ids)` with `token_ids` the
    * comma-joined id sequence in document order. Ids follow the
    * tokenizer-file convention: the corpus' base alphabet in codepoint
    * order takes 0..A-1, merged symbols take A, A+1, … in merge_rank
    * order (first rank wins if two merges ever fuse to the same
    * string). The dictionary is bounded driver state (alphabet +
    * merge-table-sized); the corpus-sized work is one word explode
    * joined to the Zipf-small per-word id mapping (AQE-broadcasts),
    * then one doc-keyed rollup whose `(pos, ids)` structs are sorted
    * before joining — collect order never leaks into the string, which
    * is what lets it hash-match the oracle. */
  /** The shared token-id dictionary: base alphabet chars (codepoint
    * order) take 0..A−1, merged symbols take A, A+1, … in merge_rank
    * order (first rank wins when two merges fuse the same string).
    * Returns (sym → id) in insertion order plus the alphabet size.
    * Bounded driver state by construction (an alphabet + a merge
    * table, never a corpus). */
  private def bpeTokenDict(vocab0: DataFrame, ms: Seq[(String, String)])
      : (Seq[(String, Long)], Int) = {
    val alphabet = vocab0
      .select(explode(filter(split(col("term"), ""), c => c =!= "")).as("sym"))
      .distinct().collect().map(_.getString(0)).sorted
    val dict = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    alphabet.foreach(c => dict.getOrElseUpdate(c, dict.size.toLong))
    ms.foreach { case (l, r) => dict.getOrElseUpdate(l + r, dict.size.toLong) }
    (dict.toSeq, alphabet.length)
  }

  /** The token DICTIONARY artifact a tokenizer ships beside its merge
    * table: `(token_id, sym, is_merge)` — [[bpeTokenize]]'s id
    * convention as a first-class frame, so a consumer can decode id
    * sequences without re-deriving the mapping. */
  def bpeVocabulary(mergeTable: DataFrame, documents: DataFrame): DataFrame = {
    val ms = collectMergeTable(mergeTable)
    val (dict, nAlpha) = bpeTokenDict(bpeVocabFromFreqs(wordFreqAdd(documents)), ms)
    val spark = documents.sparkSession
    import spark.implicits._
    dict.map { case (sym, id) => (id, sym, id >= nAlpha) }
      .toDF("token_id", "sym", "is_merge")
  }

  def bpeTokenize(mergeTable: DataFrame, documents: DataFrame): DataFrame = {
    val ms = collectMergeTable(mergeTable)
    val vocab0 = bpeVocabFromFreqs(wordFreqAdd(documents))
    val vocab = bpeReplayMerges(vocab0, ms)
    val (dict, _) = bpeTokenDict(vocab0, ms)
    val spark = documents.sparkSession
    import spark.implicits._
    val dictDf = dict.toDF("sym", "id")
    // per word type: its symbol-id sequence on the trained vocabulary
    val termIds = vocab
      .select(col("term"),
        posexplode(filter(split(col("repr"), BpeSep), s => s =!= ""))
          .as(Seq("spos", "sym")))
      .join(broadcast(dictDf), Seq("sym"))
      .groupBy(col("term"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("spos"), col("id")))),
          p => p("id").cast(StringType)), ",").as("term_ids"),
        count(lit(1)).as("term_toks"))
    documents
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("wpos", "term")))
      .filter(col("term") =!= "")
      .join(termIds, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("term_toks")).as("n_tokens"),
        array_join(transform(array_sort(collect_list(struct(col("wpos"), col("term_ids")))),
          p => p("term_ids")), ",").as("token_ids"))
      .select(col("doc_id"), col("n_tokens"), col("token_ids"))
  }

  // ---------------------------------------------------------------------
  // Byte-level BPE (the GPT-2 byte alphabet) — the fourth and
  // most-shipped production tokenizer family: merges run over the
  // word's UTF-8 BYTES (each mapped to a printable unicode char), so
  // the base alphabet is exactly the 256 byte symbols and NO input can
  // ever be out-of-vocabulary — the no-unknown guarantee char-level
  // BPE cannot make (cf. the reference's generator at
  // airflows/generator/pg_oltp_synth.py — it has no tokenizer; this is
  // the LLM-pipeline extension).
  // ---------------------------------------------------------------------

  /** GPT-2's `bytes_to_unicode` as a CLOSED FORM (so the DuckDB twin
    * can replay it as arithmetic, not a lookup file): printable bytes
    * (0x21–0x7E, 0xA1–0xAC, 0xAE–0xFF) map to their own codepoint; the
    * 68 others (0x00–0x20, 0x7F–0xA0, 0xAD) map to 256 + their index
    * among the non-printables in byte order. Bijective into
    * [0x21, 0x143] — every mapped codepoint is one BMP char. */
  private[graft] def byteToCodepoint(b: Int): Int =
    if ((b >= 0x21 && b <= 0x7e) || (b >= 0xa1 && b <= 0xac) || b >= 0xae) b
    else if (b <= 0x20) 256 + b
    else if (b <= 0xa0) 256 + 33 + (b - 0x7f)
    else 256 + 67 // 0xAD, the lone high non-printable

  /** Inverse of [[byteToCodepoint]] — total on its image, fails loud
    * off it (a symbol not produced by the mapping is a corrupt model). */
  private[graft] def codepointToByte(cp: Int): Int = {
    val b =
      if (cp <= 255) cp
      else if (cp <= 256 + 32) cp - 256
      else if (cp <= 256 + 66) cp - 289 + 0x7f
      else if (cp == 256 + 67) 0xad
      else -1
    require(b >= 0 && byteToCodepoint(b) == cp,
      s"codepoint $cp is not in the byte-alphabet image")
    b
  }

  /** A word's UTF-8 bytes through the byte→char map: the string the
    * byte-level trainer actually merges over. */
  private[graft] def byteMapStr(term: String): String = {
    val bs = term.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bs.length)
    bs.foreach(b => sb.appendCodePoint(byteToCodepoint(b & 0xff)))
    sb.toString
  }

  /** Inverse of [[byteMapStr]]: mapped symbol string → original bytes →
    * string. The decode half of the no-unknown round trip. */
  private[graft] def byteUnmapStr(mapped: String): String = {
    val out = new Array[Byte](mapped.length)
    var i = 0
    while (i < mapped.length) {
      out(i) = codepointToByte(mapped.charAt(i).toInt).toByte
      i += 1
    }
    new String(out, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Deterministically "dirtied" corpus for the byte-level family (the
    * [[normalizeNfc]] injection pattern): the testdata text is pure
    * ASCII, where the byte map is the identity on every word char —
    * the mapping would be vacuously exercised. Keyed on doc_id, inject
    * real 2-byte UTF-8 chars (é U+00E9, ü U+00FC, ø U+00F8) so the
    * trainer and its oracle genuinely decompose multi-byte chars into
    * mapped byte symbols. Narrow projection, no shuffle. */
  def utf8Dirty(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), utf8DirtyCol.as("text"))

  /** The [[utf8Dirty]] mutation as a bare column expression (over
    * `doc_id`/`text`), so a caller can compute the dirty text NEXT TO
    * other per-row columns in one projection instead of joining the
    * dirty frame back to its own spine (tokenizer_fertility's `lang`
    * carry — Catalyst does not collapse self-joins). */
  def utf8DirtyCol: Column =
    when(pmod(col("doc_id"), lit(4)) === 1,
        replace(col("text"), lit("e"), lit("é")))
      .when(pmod(col("doc_id"), lit(4)) === 2,
        replace(col("text"), lit("u"), lit("ü")))
      .when(pmod(col("doc_id"), lit(4)) === 3,
        replace(col("text"), lit("o"), lit("ø")))
      .otherwise(col("text"))

  /** Byte-level initial vocabulary off a word-frequency state: the
    * wrapped-symbol convention of [[bpeVocabFromFreqs]], but each
    * symbol is one MAPPED UTF-8 BYTE of the term rather than one char.
    * The mapping runs as a typed transform over the Zipf-small TYPE
    * frame (never the corpus), keeping the trainer's only corpus-sized
    * pass the word count — [[wordFreqAdd]]'s contract unchanged. */
  private def byteBpeVocabFromFreqs(freqs: DataFrame): DataFrame = {
    val spark = freqs.sparkSession
    import spark.implicits._
    freqs.select(col("term"), col("freq").cast(LongType).as("freq"))
      .as[(String, Long)]
      .map { case (t, f) =>
        (t, f, byteMapStr(t).map(c => s"$BpeSep$c$BpeSep").mkString) }
      .toDF("term", "freq", "repr")
      .localCheckpoint(false)
  }

  /** Byte-level BPE trainer — [[bpeTrainMergesBatched]]'s batched
    * greedy policy over the byte alphabet. Same schema, same driver
    * barriers, same replay guarantees; merges are over mapped byte
    * symbols, so the shipped table plus the FIXED 256-symbol base
    * alphabet tokenizes ANY byte sequence (no unknowns). */
  def byteBpeTrainMerges(documents: DataFrame, rounds: Int,
      batch: Int): DataFrame =
    byteBpeTrainMergesFromCounts(wordFreqAdd(documents), rounds, batch)

  /** [[byteBpeTrainMerges]] off an EXTERNAL word-frequency state — the
    * [[wordFreqAdd]]/[[mergeWordFreqs]] ingest contract serving its
    * FOURTH trainer family. */
  def byteBpeTrainMergesFromCounts(wordFreqs: DataFrame, rounds: Int,
      batch: Int): DataFrame =
    bpeMergeTable(bpeCoreBatched(byteBpeVocabFromFreqs(wordFreqs), rounds, batch)._1,
      wordFreqs.sparkSession)

  /** Byte-level token ids: the base alphabet is ALL 256 byte symbols
    * with `token_id = byte value` (fixed by convention, corpus-free —
    * the no-unknown guarantee is that this table never depends on what
    * was seen), merges appended at 256 + (merge_rank − 1), first
    * occurrence winning when two merges fuse to the same string. */
  private def byteBpeDict(ms: Seq[(String, String)]): Map[String, Long] = {
    val dict = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    (0 until 256).foreach(b =>
      dict.put(new String(Character.toChars(byteToCodepoint(b))), b.toLong))
    var next = 256L
    ms.foreach { case (l, r) =>
      if (!dict.contains(l + r)) { dict.put(l + r, next) }
      next += 1
    }
    dict.toMap
  }

  /** The byte-level token dictionary artifact `(token_id, sym, bytes,
    * is_merge)` — ids 0–255 are the raw byte values (sym = the mapped
    * char), merges follow in rank order; `bytes` is the DECODED byte
    * content as hex so shipped id sequences are decodable without the
    * char map. Duplicate fusions keep their first id ([[bpeTokenDict]]'s
    * convention). */
  def byteBpeVocabulary(mergeTable: DataFrame): DataFrame = {
    val spark = mergeTable.sparkSession
    import spark.implicits._
    val ms = collectMergeTable(mergeTable)
    byteBpeDict(ms).toSeq.map { case (sym, id) =>
      (id, sym,
        sym.map(c => f"${codepointToByte(c.toInt)}%02x").mkString,
        if (id >= 256L) 1 else 0)
    }.toDF("token_id", "sym", "bytes_hex", "is_merge")
  }

  /** Byte-level tokenize — [[bpeTokenize]]'s deliverable for the
    * fourth family: `(doc_id, n_tokens, token_ids)` under the fixed
    * byte-id convention. Merge replay and the id probe run on the
    * TYPE frame; the corpus-sized work is the word explode + broadcast
    * term join + doc rollup, exactly the char-level path. Total by
    * construction: every word decomposes to byte symbols, so no term
    * can fail to tokenize. */
  def byteBpeTokenize(mergeTable: DataFrame, documents: DataFrame): DataFrame = {
    val ms = collectMergeTable(mergeTable)
    val vocab = bpeReplayMerges(
      byteBpeVocabFromFreqs(
        termStream(documents).groupBy(col("term")).agg(count(lit(1L)).as("freq"))),
      ms)
    val spark = documents.sparkSession
    import spark.implicits._
    val dictDf = byteBpeDict(ms).toSeq.toDF("sym", "id")
    val termIds = vocab
      .select(col("term"),
        posexplode(filter(split(col("repr"), BpeSep), s => s =!= ""))
          .as(Seq("spos", "sym")))
      .join(broadcast(dictDf), Seq("sym"))
      .groupBy(col("term"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("spos"), col("id")))),
          p => p("id").cast(StringType)), ",").as("term_ids"),
        count(lit(1)).as("term_toks"))
    documents
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("wpos", "term")))
      .filter(col("term") =!= "")
      .join(termIds, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("term_toks")).as("n_tokens"),
        array_join(transform(array_sort(collect_list(struct(col("wpos"), col("term_ids")))),
          p => p("term_ids")), ",").as("token_ids"))
      .select(col("doc_id"), col("n_tokens"), col("token_ids"))
  }

  /** Driver-side decode of a byte-level id sequence against a shipped
    * merge table — the round-trip half of the no-unknown guarantee
    * (PropertySpec drives decode(tokenize(x)) == x). Ids 0–255 are raw
    * bytes; merge ids resolve through the same first-wins dictionary. */
  def byteBpeDecodeIds(mergeTable: DataFrame, ids: Seq[Long]): String = {
    val inv = byteBpeDict(collectMergeTable(mergeTable))
      .groupBy(_._2).map { case (id, kv) => id -> kv.keys.head }
    byteUnmapStr(ids.map(id => inv.getOrElse(id,
      throw new IllegalArgumentException(s"unknown token id $id"))).mkString)
  }

  // ---------------------------------------------------------------------
  // Unigram LM (SentencePiece-style) tokenizer — the third production
  // trainer family beside BPE and WordPiece.
  // ---------------------------------------------------------------------

  /** Max piece length and the EM round count baked into the registered
    * queries (the oracle replays exactly this many Viterbi passes). */
  private[graft] val UnigramMaxPiece = 4

  /** The DuckDB unigram twins' DP grid bound (their
    * `generate_series(1, 24)` position lattice). [[unigramCore]]
    * refuses longer terms loudly rather than letting the oracle
    * silently ignore tail substrings. */
  private[graft] val UnigramMaxOracleTerm = 24

  /** Viterbi segmentation of one word under a piece→probability model:
    * maximize the probability PRODUCT over pieces (the unigram-LM
    * objective — log is monotone, so the product argmax IS the
    * log-likelihood argmax without ever calling the banned `ln`), ties
    * broken toward FEWER pieces, then the LONGER piece at the split
    * point. Every probability is one IEEE divide of exact int64 counts
    * and every DP value a pinned-order chain of correctly-rounded
    * multiplies, so the winning path — and therefore every integer
    * output downstream — is bit-identical in any IEEE-754 engine (the
    * [[wordpieceTrainMerges]] ratio-score argument extended from one
    * multiply to a chain). Unreachable prefixes carry the −1 sentinel
    * (the oracle's recursive CTE does the same). */
  private[graft] def viterbiSeg(term: String, vocab: Map[String, Double],
      maxLen: Int): Array[String] = {
    val n = term.length
    val best = new Array[Double](n + 1)
    val np = new Array[Int](n + 1)
    val back = new Array[Int](n + 1)
    best(0) = 1.0
    var j = 1
    while (j <= n) {
      var bScore = -1.0; var bNp = Int.MaxValue; var bL = 0
      var l = 1
      while (l <= math.min(maxLen, j)) {
        if (best(j - l) >= 0) {
          vocab.get(term.substring(j - l, j)) match {
            case Some(p) =>
              val sc = best(j - l) * p
              val cnt = np(j - l) + 1
              if (sc > bScore || (sc == bScore &&
                  (cnt < bNp || (cnt == bNp && l > bL)))) {
                bScore = sc; bNp = cnt; bL = l
              }
            case None => ()
          }
        }
        l += 1
      }
      best(j) = bScore; np(j) = bNp; back(j) = bL
      j += 1
    }
    require(back(n) > 0, s"word '$term' not segmentable under the vocabulary")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var p = n
    while (p > 0) { out += term.substring(p - back(p), p); p -= back(p) }
    out.reverseIterator.toArray
  }

  /** The unigram-LM core: hard-EM (Viterbi-EM) over word TYPES.
    * Initial vocabulary = every single character PLUS the top
    * `vocabMulti` multi-char substrings (length ≤ [[UnigramMaxPiece]])
    * by freq-weighted occurrence count (cnt DESC, piece ASC — a total
    * order, so the cut is deterministic); piece probability =
    * cnt / Σcnt (exact ints, one divide). Each round: Viterbi-segment
    * every word type (E-step — INTEGER piece counts, freq-weighted,
    * which is what makes the whole trainer replayable where soft-EM's
    * order-sensitive float accumulations are not), re-estimate
    * probabilities from the counts, prune pieces the corpus stopped
    * using (count 0; a word's round-k pieces all survive, so round k+1
    * can always reproduce round k's segmentation — coverage never
    * breaks). Returns the final segmentation frame
    * `(term, freq, n_pieces, seg)` and the final counts
    * `(piece, cnt)`.
    *
    * Scale: the only corpus-sized pass is the word-type frequency
    * count ([[wordFreqAdd]]'s contract — the FromCounts variants skip
    * even that); everything else runs on the Zipf-small type frame.
    * The model is bounded driver/broadcast state by construction
    * (alphabet + vocabMulti pieces), collected once per round — the
    * same bounded-barrier economics as the BPE/WordPiece trainers. */
  private def unigramCore(freqs0: DataFrame, vocabMulti: Int, rounds: Int)
      : (DataFrame, DataFrame) = {
    require(vocabMulti >= 1 && vocabMulti <= 4096,
      s"vocabMulti must be in [1, 4096] (bounded model state), got $vocabMulti")
    require(rounds >= 1 && rounds <= 8,
      s"rounds must be in [1, 8] (driver-barrier bound), got $rounds")
    val spark = freqs0.sparkSession
    import spark.implicits._
    val maxLen = UnigramMaxPiece
    val freqs = freqs0.select(col("term"), col("freq").cast(LongType).as("freq"))
      .as[(String, Long)].localCheckpoint(false)
    // The DuckDB oracle twins replay the Viterbi DP over a fixed
    // generate_series(1, UnigramMaxOracleTerm) position grid; a longer
    // term would silently diverge (tail positions unreachable) instead
    // of failing loud. Guard it here like the other bounded-model
    // requires — the check runs on the Zipf-small TYPE frame (already
    // checkpointed), not the corpus.
    val maxTermLen = freqs.toDF("term", "freq")
      .agg(coalesce(max(length(col("term"))), lit(0))).head().getInt(0)
    require(maxTermLen <= UnigramMaxOracleTerm,
      s"term length $maxTermLen exceeds the oracle DP grid bound " +
        s"$UnigramMaxOracleTerm (raise generate_series bounds in the twins first)")
    // initial piece counts: freq-weighted substring occurrences
    val sub = freqs.flatMap { case (t, f) =>
      for {
        i <- 0 until t.length
        l <- 1 to math.min(maxLen, t.length - i)
      } yield (t.substring(i, i + l), f)
    }.toDF("piece", "freq")
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      .localCheckpoint(false)
    val chars = sub.filter(length(col("piece")) === 1)
    val multi = sub.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece").asc).limit(vocabMulti)
    // bounded collect: alphabet + vocabMulti rows — the model artifact
    var counts: Map[String, Long] = chars.unionByName(multi)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    var segs: Dataset[(String, Long, Array[String])] = null
    var r = 0
    while (r < rounds) {
      val total = counts.values.sum
      val vocab = counts.map { case (p, c) => p -> c.toDouble / total.toDouble }
      segs = freqs.map { case (t, f) => (t, f, viterbiSeg(t, vocab, maxLen)) }
        .localCheckpoint(false)
      // E-step: exact freq-weighted piece counts; pieces the corpus
      // stopped using drop out (their next-round probability would be
      // 0 — never selectable — so pruning changes nothing)
      counts = segs.flatMap { case (_, f, ps) => ps.iterator.map(_ -> f) }
        .toDF("piece", "freq")
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      r += 1
    }
    val segDf = segs.map { case (t, f, ps) =>
      (t, f, ps.length.toLong, ps.mkString("|")) }
      .toDF("term", "freq", "n_pieces", "seg")
    val cntDf = counts.toSeq.toDF("piece", "cnt")
    (segDf, cntDf)
  }

  /** The trained unigram model `(piece, cnt)` — final Viterbi-EM piece
    * counts (probability = cnt / Σcnt). See [[unigramCore]]. The read
    * of [[unigramTrainFromCounts]] on the whole corpus' [[wordFreqAdd]]
    * state. */
  def unigramTrain(documents: DataFrame, vocabMulti: Int = 24,
      rounds: Int = 2): DataFrame =
    unigramTrainFromCounts(wordFreqAdd(documents), vocabMulti, rounds)

  /** [[unigramTrain]] off an EXTERNAL word-frequency state — the
    * [[wordFreqAdd]]/[[mergeWordFreqs]] ingest contract serving its
    * third trainer family. */
  def unigramTrainFromCounts(wordFreqs: DataFrame, vocabMulti: Int = 24,
      rounds: Int = 2): DataFrame =
    unigramCore(wordFreqs, vocabMulti, rounds)._2

  /** Per-word-type Viterbi segmentations under the final model:
    * `(term, freq, n_pieces, seg)` with `seg` the '|'-joined pieces in
    * order — the most discriminating artifact (any drift in the DP,
    * tie-breaks, or EM counts moves some segmentation). */
  def unigramSegments(documents: DataFrame, vocabMulti: Int = 24,
      rounds: Int = 2): DataFrame =
    unigramCore(wordFreqAdd(documents), vocabMulti, rounds)._1

  /** The encode half: per-document token counts under the final model —
    * `(doc_id, unigram_tokens, char_tokens, compression)`, the
    * [[bpeEncodeCounts]] deliverable for the third trainer family. One
    * corpus-sized tf groupBy + a term-keyed join onto the Zipf-small
    * segmentation frame (AQE-broadcasts). */
  def unigramEncode(documents: DataFrame, vocabMulti: Int = 24,
      rounds: Int = 2): DataFrame =
    unigramEncodeCore(
      unigramCore(wordFreqAdd(documents), vocabMulti, rounds)._1,
      documents)

  private def unigramEncodeCore(segDf: DataFrame,
      documents: DataFrame): DataFrame = {
    val seg = segDf
      .select(col("term"), col("n_pieces"),
        length(col("term")).cast(LongType).as("char_syms"))
    termStream(documents).groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1L)).as("tf"))
      .join(seg, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("n_pieces")).as("unigram_tokens"),
        sum(col("tf") * col("char_syms")).as("char_tokens"))
      .withColumn("compression",
        col("char_tokens").cast(DoubleType) / col("unigram_tokens").cast(DoubleType))
  }

  /** The tokenized REPRESENTATION under the unigram model —
    * [[bpeTokenize]]'s deliverable for the third trainer family:
    * `(doc_id, n_tokens, token_ids)` with ids following the
    * tokenizer-file convention of FREQUENCY-RANKED pieces (final-count
    * order `cnt DESC, piece ASC` → ids 0, 1, …). The dictionary is
    * bounded driver state (⊆ the bounded initial vocabulary); the
    * corpus-sized work is one word explode joined to the Zipf-small
    * per-word id mapping (broadcast), then one doc-keyed rollup whose
    * structs are sorted before joining — collect order never leaks. */
  def unigramTokenize(documents: DataFrame, vocabMulti: Int = 24,
      rounds: Int = 2): DataFrame = {
    val (segDf, cntDf) = unigramCore(wordFreqAdd(documents), vocabMulti, rounds)
    unigramTokenizeCore(segDf, cntDf, documents)
  }

  private def unigramTokenizeCore(segDf: DataFrame, cntDf: DataFrame,
      documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val dict = cntDf.orderBy(col("cnt").desc, col("piece").asc).collect()
      .zipWithIndex.map { case (r, i) => (r.getString(0), i.toLong) }.toSeq
    val dictDf = broadcast(dict.toDF("piece", "id"))
    val termIds = segDf
      .select(col("term"), posexplode(split(col("seg"), "\\|")).as(Seq("spos", "piece")))
      .join(dictDf, Seq("piece"))
      .groupBy(col("term"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("spos"), col("id")))),
          p => p("id").cast(StringType)), ",").as("term_ids"),
        count(lit(1)).as("term_toks"))
    documents
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("wpos", "term")))
      .filter(col("term") =!= "")
      .join(termIds, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("term_toks")).as("n_tokens"),
        array_join(transform(array_sort(collect_list(struct(col("wpos"), col("term_ids")))),
          p => p("term_ids")), ",").as("token_ids"))
      .select(col("doc_id"), col("n_tokens"), col("token_ids"))
  }

  /** The unigram token DICTIONARY artifact — [[bpeVocabulary]]'s
    * deliverable for the third trainer family: `(token_id, piece,
    * cnt)` under the same frequency-ranked id convention as
    * [[unigramTokenize]], so shipped id sequences are decodable. */
  def unigramVocabulary(documents: DataFrame, vocabMulti: Int = 24,
      rounds: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    unigramCore(wordFreqAdd(documents), vocabMulti, rounds)._2
      .withColumn("token_id",
        (row_number().over(Window.orderBy(col("cnt").desc, col("piece").asc))
          - 1).cast(LongType))
      .select(col("token_id"), col("piece"), col("cnt"))
  }

  /** Collect a shipped unigram model `(piece, cnt)` with the
    * bounded-driver-state contract ENFORCED ([[bpeEncodeWith]]'s
    * [[collectMergeTable]] discipline): model vocabularies are small by
    * construction (alphabet + ≤4096 multis from [[unigramCore]]'s own
    * bound); a pathological frame must fail loud, not OOM the driver. */
  private def collectUnigramModel(model: DataFrame): Map[String, Long] = {
    val maxRows = 65536
    val rows = model.select(col("piece"), col("cnt").cast(LongType))
      .limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"unigram model exceeds the bounded-driver-state contract ($maxRows rows)")
    rows.map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Viterbi segmentations of a corpus's word types under a SHIPPED
    * model — the deployment seam: probabilities are the model's
    * `cnt / Σcnt` (the same single-divide-of-exact-ints arithmetic the
    * trainer uses), applied with zero training barriers. NOTE the
    * deliberate semantic difference from [[unigramSegments]]: the
    * self-training queries segment under the PENULTIMATE EM state
    * (the trainer's last E-step then updates the counts), while the
    * With family segments under the shipped FINAL model — what a
    * production tokenizer does with a model file. A word containing a
    * character absent from the model fails loud (viterbiSeg's
    * non-segmentable require), matching [[bpeEncodeWith]]'s
    * fail-on-unknown posture. */
  private def unigramSegWithModel(counts: Map[String, Long],
      documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val total = counts.values.sum
    val vocab = counts.map { case (p, c) => p -> (c.toDouble / total.toDouble) }
    val maxLen = UnigramMaxPiece
    val freqs = wordFreqAdd(documents).as[(String, Long)]
      .localCheckpoint(false)
    val maxTermLen = freqs.toDF("term", "freq")
      .agg(coalesce(max(length(col("term"))), lit(0))).head().getInt(0)
    require(maxTermLen <= UnigramMaxOracleTerm,
      s"term length $maxTermLen exceeds the oracle DP grid bound " +
        s"$UnigramMaxOracleTerm (raise generate_series bounds in the twins first)")
    freqs.map { case (t, f) =>
      val ps = viterbiSeg(t, vocab, maxLen)
      (t, f, ps.length.toLong, ps.mkString("|"))
    }.toDF("term", "freq", "n_pieces", "seg")
  }

  /** [[unigramSegments]]' model-driven twin: segmentations of ANY
    * corpus under a shipped `(piece, cnt)` frame. */
  def unigramSegmentsWith(model: DataFrame, documents: DataFrame): DataFrame =
    unigramSegWithModel(collectUnigramModel(model), documents)

  /** [[unigramTokenize]]'s model-driven twin — train once, ship the
    * `(piece, cnt)` frame, tokenize any corpus (the [[bpeEncodeWith]]
    * contract for the third trainer family): ids are the MODEL's
    * frequency-ranked pieces, so sequences produced here are decodable
    * against the shipped artifact's own dictionary. */
  def unigramTokenizeWith(model: DataFrame, documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val counts = collectUnigramModel(model)
    val cntDf = counts.toSeq.toDF("piece", "cnt")
    unigramTokenizeCore(unigramSegWithModel(counts, documents), cntDf, documents)
  }

  /** [[unigramEncode]]'s model-driven twin: per-document token counts
    * of any corpus under a shipped model, zero training barriers. */
  def unigramEncodeWith(model: DataFrame, documents: DataFrame): DataFrame =
    unigramEncodeCore(
      unigramSegWithModel(collectUnigramModel(model), documents), documents)

  /** Linear text-quality classifier margin (the fastText-style filter
    * of web-corpus curation — a trained linear model over token
    * features deciding keep/drop; cf. the reference's
    * `dbt/credit_mart/models/schema.yml` rule checks — it has no
    * learned filter; this is the LLM-pipeline extension): per-document
    * margin = Σ over token OCCURRENCES of the shipped per-term weight,
    * plus the accept verdict `margin > threshold`. Weights are the
    * model artifact — config-sized state shipped with the pipeline,
    * exactly like [[bpeEncodeWith]]'s merge table — and terms absent
    * from the weight table contribute zero (sparse models score only
    * their vocabulary). All arithmetic is exact int64 (integer weights
    * are standard for quantized/exported linear filters), so the
    * margin hash-replays with no IEEE concerns at all.
    *
    * Output: `(doc_id, n_scored, margin, accepted)` — a total
    * annotation of the corpus (clean docs appear with zeros), directly
    * usable as a filter side or a feature column like
    * [[blocklistFilter]].
    *
    * Scale: the weight table broadcasts (model vocabularies are
    * bounded by construction); the corpus-sized work is one token
    * explode + broadcast probe + doc-keyed aggregation, then the
    * doc-spine left join. No shuffle of the corpus except the one
    * doc-keyed agg. */
  def qualityMargin(documents: DataFrame, weights: DataFrame,
      threshold: Long = 0L): DataFrame =
    // spread at the BATCH entry point, never inside marginAdd itself:
    // the stream twins call marginAdd per delta, where an unconditional
    // full-text exchange regressed them 0.80–0.84× (driver PERF_r20);
    // here the one-shot explode otherwise rides the single-file scan
    // task. Scan-aware: identity once the source has >= cores splits.
    qualityMarginFromCounts(documents,
      marginAdd(graft.operators.Partitioning.spreadIfNarrow(
        documents, col("doc_id")), weights), threshold)

  /** ONE delta's quality-margin state `(doc_id, n_scored, margin)` —
    * the [[postingsAdd]] contract applied to the linear classifier: a
    * streamed corpus ingest maintains per-doc scored-occurrence counts
    * and exact int64 weight sums, and [[qualityMarginFromCounts]]
    * reads any merged state. Docs scoring nothing carry NO row (the
    * read side's spine join restores their zeros). Pure per-occurrence
    * summing, so `mergeMargins(add(A), add(B)) ≡ add(A ∪ B)`
    * bit-for-bit under the doc-disjoint-delta ingest contract. */
  def marginAdd(delta: DataFrame, weights: DataFrame): DataFrame = {
    val w = broadcast(weights
      .select(col("term"), col("weight").cast(LongType).as("weight")))
    // NO spread here: this is a state-builder path shared by the stream
    // twins, where a full-text-payload exchange runs per DELTA — the
    // r20 snapshot's unconditional spread regressed
    // curation_pipeline_stream / web_curation_{funnel,keeplist}_stream
    // to 0.80–0.84× (driver PERF_r20). Batch entry points (qualityMargin,
    // curationPipeline*) spread their one-shot input before calling in.
    termStream(delta)
      .join(w, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_scored"), sum(col("weight")).as("margin"))
  }

  /** Exact merge of any number of [[marginAdd]] states: per-doc int64
    * sums — associative and order-free (docs SPLIT across deltas also
    * merge exactly, since both fields are plain occurrence sums). */
  def mergeMargins(states: DataFrame*): DataFrame =
    States.merge(states, Seq("doc_id"), "n_scored" -> States.Sum, "margin" -> States.Sum)

  /** The read side of the margin-state contract: total annotation off a
    * maintained state — one doc-spine left join, no corpus scan. Output
    * schema identical to [[qualityMargin]] (which IS this read over its
    * own single-delta state). */
  def qualityMarginFromCounts(documents: DataFrame, state: DataFrame,
      threshold: Long = 0L): DataFrame =
    documents.select(col("doc_id"))
      .join(state.select(col("doc_id"), col("n_scored"), col("margin")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        coalesce(col("margin"), lit(0L)).as("margin"),
        (coalesce(col("margin"), lit(0L)) > threshold)
          .cast(IntegerType).as("accepted"))

  /** Gopher/MassiveText repetition filters (Rae et al. 2021 §A1.1 —
    * the rule family every production curation run applies beside the
    * learned quality screen; cf. the reference's
    * `dbt/credit_mart/models/schema.yml` rule checks — it has no text
    * filters; this is the LLM-pipeline extension), adapted to the
    * single-line corpus: per document,
    *  - `dup_word_frac`: fraction of word occurrences whose word
    *    appears ≥ 2 times in the doc,
    *  - `top_bigram_frac`: occurrences of the most frequent word
    *    bigram (ties break on the bigram) × 2 / word count,
    *  - `dup_trigram_frac`: duplicate trigram occurrences
    *    (occurrences − distinct) / occurrences,
    * plus the keep verdict vs the pinned thresholds (≤ 0.9 / ≤ 0.1 /
    * ≤ 0.05). Fractions are single IEEE divides of exact int64s; the
    * VERDICT compares cross-multiplied INTEGERS (dup·10 ≤ n·9 etc.),
    * so acceptance never rides a floating-point edge.
    *
    * Scale: three doc-keyed aggregations (word counts, bigram argmax
    * via map-side-combinable `min(struct)`, trigram occurrence/distinct
    * counts) joined back onto the doc spine — no window, no self-join
    * (n-grams come from the doc's own word array), nothing
    * corpus-keyed. */
  def gopherRepetition(documents: DataFrame): DataFrame = {
    val arr = documents.select(col("doc_id"),
      filter(split(col("text"), " "), x => x =!= "").as("ws"))
    def ngrams(n: Int) = arr.select(col("doc_id"),
      explode(when(size(col("ws")) < n, array().cast(ArrayType(StringType)))
        .otherwise(transform(sequence(lit(1), size(col("ws")) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(d =>
            element_at(col("ws"), i + d)): _*)))).as("g"))
    val dw = ngrams(1)
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(when(col("cnt") >= 2, col("cnt")).otherwise(0L)).as("dup_words"))
    val top = ngrams(2)
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("cnt")).as("nc"), col("g").as("b"))).as("t"))
      .select(col("doc_id"), (-col("t.nc")).as("top_bigram_cnt"))
    val tri = ngrams(3)
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("tri_occ"), count(lit(1)).as("tri_distinct"))
    documents.select(col("doc_id"))
      .join(dw, Seq("doc_id"), "left")
      .join(top, Seq("doc_id"), "left")
      .join(tri, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"),
        coalesce(col("top_bigram_cnt"), lit(0L)).as("top_bigram_cnt"),
        coalesce(col("tri_occ"), lit(0L)).as("tri_occ"),
        coalesce(col("tri_distinct"), lit(0L)).as("tri_distinct"))
      .select(col("doc_id"), col("n_words"),
        when(col("n_words") > 0,
          col("dup_words").cast(DoubleType) / col("n_words").cast(DoubleType))
          .otherwise(lit(0.0)).as("dup_word_frac"),
        when(col("n_words") > 0,
          (col("top_bigram_cnt") * 2L).cast(DoubleType) / col("n_words").cast(DoubleType))
          .otherwise(lit(0.0)).as("top_bigram_frac"),
        when(col("tri_occ") > 0,
          (col("tri_occ") - col("tri_distinct")).cast(DoubleType)
            / col("tri_occ").cast(DoubleType))
          .otherwise(lit(0.0)).as("dup_trigram_frac"),
        (col("dup_words") * 10L <= col("n_words") * 9L &&
          col("top_bigram_cnt") * 20L <= col("n_words") &&
          (col("tri_occ") - col("tri_distinct")) * 20L <= col("tri_occ"))
          .cast(IntegerType).as("accepted"))
  }

  /** Deterministic stand-in WEIGHT TABLE for [[qualityMargin]]'s
    * shipped-model contract (the sandbox has no trained model to load):
    * one integer weight per corpus vocabulary term, derived from the
    * house string hash — `(stringHash(term)·131 + 17) mod 41 − 20`,
    * spanning [−20, 20] — with zero-weight terms DROPPED so the table
    * is a proper sparse vocabulary (some corpus terms are unscored and
    * the zero-contribution path is exercised). Exact integer
    * arithmetic end-to-end; the engine contract under test is the
    * broadcast probe + int64 dot product, not these placeholder
    * values. */
  def hashWeights(documents: DataFrame): DataFrame =
    termStream(documents).select(col("term")).distinct()
      .select(col("term"),
        ((MinHash.stringHash(col("term")) * 131L + 17L) % 41L - 20L)
          .as("weight"))
      .filter(col("weight") =!= 0L)

  /** Character-trigram occurrences `(doc_id, lang, gram)` — the shared
    * feature stream of the language-ID pair ([[langProfiles]] trains on
    * it, [[languageId]] scores it). Whole-text trigrams including
    * spaces, the Cavnar–Trenkle convention (spaces carry word-boundary
    * signal). Docs shorter than 3 chars contribute nothing — the
    * `when` guard matters because Spark's `sequence(1, 0)` would step
    * DOWNWARD, not return empty. Spread first (the
    * [[graft.ext.MinHash.shingleHashes]] discipline): the length·3-char
    * explode is the heavy pass of every consumer (langId scores it per
    * trigram) and must not ride a one-task scan stage — measured at
    * sf0.1 (r20): lang_profiles 2.24 → 0.56 s, and the curation family
    * (which screens through langId) dropped 1.2-3.0 s per query.
    * Scan-aware since r21: identity once the source arrives with >=
    * cores splits, so the payload exchange is a local-skew fix only,
    * never a cost at 100 TB. */
  private def charTrigrams(documents: DataFrame): DataFrame =
    graft.operators.Partitioning.spreadIfNarrow(documents, col("doc_id"))
      .select(col("doc_id"), col("lang"),
        explode(when(length(col("text")) >= 3,
            transform(sequence(lit(1), length(col("text")) - 2),
              i => col("text").substr(i, lit(3))))
          .otherwise(array().cast(ArrayType(StringType)))).as("gram"))

  /** N-gram language-ID profile trainer (Cavnar & Trenkle 1994, the
    * rank-order profile method — the first filter of every multilingual
    * web-corpus pipeline; cf. the reference's fixed `lang` column at
    * `airflows/generator/pg_oltp_synth.py` — it classifies nothing;
    * this is the LLM-pipeline extension): per language, the top-`k`
    * character trigrams by frequency with their rank (1 = most
    * frequent; ties break on the gram itself, so the order is total
    * and the cut deterministic). The profile table is the shipped
    * model artifact — `langs · k` rows, config-sized state like
    * [[qualityMargin]]'s weights.
    *
    * Scale: one corpus-sized trigram explode + (lang, gram) count,
    * then one `rank <= k` window, planned as `WindowGroupLimit` below
    * its exchange, so each partition is pruned to k grams per language
    * before anything shuffles. */
  def langProfiles(documents: DataFrame, k: Int = 50): DataFrame =
    langProfilesFromCounts(trigramAdd(documents), k)

  /** ONE delta's trigram-count state `(lang, gram, cnt)` — the
    * add/merge ingest contract applied to language-ID training: a
    * streamed labeled-corpus ingest maintains per-(lang, gram)
    * occurrence counts and [[langProfilesFromCounts]] ranks ANY merged
    * state. Pure per-occurrence counting, so
    * `mergeTrigrams(add(A), add(B)) ≡ add(A ∪ B)` bit-for-bit with no
    * doc-disjointness caveat beyond the usual whole-doc-per-delta
    * ingest shape. */
  def trigramAdd(delta: DataFrame): DataFrame =
    charTrigrams(delta)
      .groupBy(col("lang"), col("gram")).agg(count(lit(1)).as("cnt"))

  /** Exact merge of any number of [[trigramAdd]] states: per-(lang,
    * gram) int64 sums — associative and order-free. */
  def mergeTrigrams(states: DataFrame*): DataFrame =
    States.merge(states, Seq("lang", "gram"), "cnt" -> States.Sum)

  /** The profile-ranking read side off a maintained trigram state —
    * the trainer with its one corpus-sized pass already paid. */
  def langProfilesFromCounts(counts: DataFrame, k: Int = 50): DataFrame = {
    require(k >= 1 && k <= 512, s"profile size must be in [1, 512], got $k")
    import org.apache.spark.sql.expressions.Window
    counts
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("gram").asc)))
      .filter(col("rank") <= k)
      .select(col("lang"), col("rank").cast(IntegerType).as("rank"),
        col("gram"), col("cnt"))
  }

  /** Language-ID classifier over a shipped [[langProfiles]] table:
    * score(doc, lang) = Σ over the doc's trigram OCCURRENCES of the
    * rank weight `k + 1 − rank(gram in lang's profile)` (unlisted
    * grams contribute zero — the out-of-place measure reduced to
    * exact-integer rank-order scoring, the same no-log reduction as
    * [[qualityMargin]]); the predicted language is the argmax, ties
    * broken on the language code. Total annotation: docs matching no
    * profile gram predict `'und'` with score 0.
    *
    * Output: `(doc_id, pred_lang, score, lang, is_correct)` — the
    * actual label rides along so classifier accuracy is measured, not
    * asserted (the [[graft.operators.Hll]] raw-estimate discipline).
    *
    * Scale: the profile table broadcasts (langs·k rows by
    * construction); corpus-sized work is one trigram explode +
    * broadcast probe + (doc, lang)-keyed sum; the per-doc argmax is
    * the map-side-combinable `min(struct(-score, lang))`, never a
    * window; then the one doc-spine left join. */
  def languageId(documents: DataFrame, profiles: DataFrame,
      k: Int = 50): DataFrame = {
    val prof = broadcast(profiles.select(
      col("lang").as("cand_lang"), col("gram"),
      (lit(k + 1).cast(LongType) - col("rank")).as("weight")))
    val best = charTrigrams(documents)
      .join(prof, Seq("gram"))
      .groupBy(col("doc_id"), col("cand_lang"))
      .agg(sum(col("weight")).as("score"))
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score")).as("ns"), col("cand_lang").as("l"))).as("w"))
    documents.select(col("doc_id"), col("lang"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("w.l"), lit("und")).as("pred_lang"),
        coalesce(-col("w.ns"), lit(0L)).as("score"),
        col("lang"),
        (coalesce(col("w.l"), lit("und")) === col("lang"))
          .cast(IntegerType).as("is_correct"))
  }

  /** [[languageId]] with the ABSTAIN rule real pipelines use: a
    * prediction only counts when the top-1 − top-2 score margin clears
    * `minMargin` (docs the profiles cannot separate keep `'und'`
    * rather than a coin-flip label — thresholding confidence, not just
    * argmax). Margin semantics: second place scores 0 when only one
    * language matched at all (margin = the full top score), and a
    * clean tie is margin 0 (always abstains for `minMargin ≥ 1`); the
    * margin column rides along on every row so the accuracy/coverage
    * tradeoff is measured in the output, not asserted — the
    * [[graft.operators.Hll]] raw-estimate discipline.
    *
    * Scale: identical corpus-sized work to [[languageId]] (one trigram
    * explode + broadcast profile probe + two keyed aggs + the spine
    * join). The per-doc candidate array inside the second agg is
    * BOUNDED by the shipped profile table's language count (config
    * state by construction), so the sorted-pair selection is
    * constant-size per doc — not a window, and never corpus-bounded. */
  def languageIdConfident(documents: DataFrame, profiles: DataFrame,
      k: Int = 50, minMargin: Long = 1L): DataFrame = {
    val prof = broadcast(profiles.select(
      col("lang").as("cand_lang"), col("gram"),
      (lit(k + 1).cast(LongType) - col("rank")).as("weight")))
    val top2 = charTrigrams(documents)
      .join(prof, Seq("gram"))
      .groupBy(col("doc_id"), col("cand_lang"))
      .agg(sum(col("weight")).as("score"))
      .groupBy(col("doc_id"))
      // ≤ langs candidates per doc; (ns, l) pairs are unique, so the
      // sorted array is a total order identical to the rank window's
      .agg(array_sort(collect_list(
        struct((-col("score")).as("ns"), col("cand_lang").as("l")))).as("c"))
      .select(col("doc_id"),
        col("c")(0)("l").as("top1"),
        (-col("c")(0)("ns")).as("s1"),
        when(size(col("c")) > 1, -col("c")(1)("ns"))
          .otherwise(lit(0L)).as("s2"))
    documents.select(col("doc_id"), col("lang"))
      .join(top2, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("top1").isNotNull && col("s1") - col("s2") >= minMargin,
          col("top1")).otherwise(lit("und")).as("pred_lang"),
        coalesce(col("s1"), lit(0L)).as("score"),
        coalesce(col("s1") - col("s2"), lit(0L)).as("margin"),
        col("lang"))
      .withColumn("is_correct",
        (col("pred_lang") === col("lang")).cast(IntegerType))
  }

  /** Unicode NFC canonicalization over a deterministically "dirtied"
    * corpus. The testdata text is pure ASCII (already NFC — the
    * normalizer would be vacuous), so this INJECTS the real-world mess
    * first, keyed on doc_id: decomposed e+◌́ (two codepoints that NFC
    * composes to é), precomposed ü (already NFC — must pass through
    * untouched), and decomposed o+◌̈. Character counts before/after
    * expose exactly which rows composed. Narrow projection, no shuffle;
    * the normalizer is the [[org.apache.spark.sql.graft.NfcNormalize]]
    * codegen expression (ASCII rows take its no-allocation fast path). */
  def normalizeNfc(documents: DataFrame): DataFrame = {
    val raw = when(pmod(col("doc_id"), lit(4)) === 1,
        replace(col("text"), lit("e"), lit("e\u0301")))  // decomposed e + combining acute
      .when(pmod(col("doc_id"), lit(4)) === 2,
        replace(col("text"), lit("u"), lit("\u00fc")))   // precomposed u-diaeresis (already NFC)
      .when(pmod(col("doc_id"), lit(4)) === 3,
        replace(col("text"), lit("o"), lit("o\u0308")))  // decomposed o + combining diaeresis
      .otherwise(col("text"))
    documents
      .select(col("doc_id"), raw.as("raw"))
      .select(
        col("doc_id"),
        length(col("raw")).cast(LongType).as("n_chars_raw"),
        org.apache.spark.sql.graft.NfcNormalize.nfc(col("raw")).as("text_nfc"))
      .withColumn("n_chars_nfc", length(col("text_nfc")).cast(LongType))
  }

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, the
    * MOSS algorithm; cf. the reference's exact-hash dedup at
    * `airflows/generator/pg_oltp_synth.py` — the reference has no
    * sub-document fingerprinting; this is the LLM-pipeline extension):
    * over the positional n-gram shingle hashes `(doc_id, pos, sh)`,
    * slide a window of `w` consecutive shingles and select each
    * window's MINIMUM hash, breaking ties on the RIGHTMOST position
    * (robust winnowing — guarantees the same shingle is selected from
    * overlapping content in different documents). Adjacent windows
    * usually share their minimum, so the distinct selected set has
    * expected density 2/(w+1) of the shingle count — the standard
    * fingerprint-compression knob for corpus-scale containment
    * detection. Documents with 1..w-1 shingles yield exactly one
    * fingerprint (their global minimum); empty/short docs (< n tokens)
    * yield none.
    *
    * The (hash, rightmost-pos) argmin is computed as an integer
    * `min` over the packed key `sh·2³² + (2³²−1 − pos)` — hash is the
    * major component and the complemented position makes larger
    * positions win ties; all arithmetic is exact BIGINT in both
    * engines (sh < 2³¹ from the shingle mod, pos is a 32-bit count).
    *
    * Output: `(doc_id, pos, sh)` — one row per selected fingerprint.
    *
    * Scale: one shuffle on doc_id for the running-window min (the same
    * exchange the island grouping in [[duplicateSpans]] pays), then a
    * map-side-combined distinct. No cross join, no driver state. */
  def winnowFingerprints(documents: DataFrame, n: Int = 3, w: Int = 4): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    require(w >= 2, s"w must be >= 2, got $w")
    import org.apache.spark.sql.expressions.Window
    val ps = posShingles(documents, n)
    val key = col("sh") * lit(4294967296L) + (lit(4294967295L) - col("pos"))
    val byDoc = Window.partitionBy(col("doc_id"))
    val run = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(w - 1), Window.currentRow)
    ps
      .withColumn("k", key)
      .withColumn("nsh", count(lit(1)).over(byDoc))
      // full windows exist only once pos reaches w; short docs collapse
      // to a single whole-doc window
      .withColumn("selkey",
        when(col("nsh") >= w, min(col("k")).over(run))
          .otherwise(min(col("k")).over(byDoc)))
      .filter(col("pos") >= w || col("nsh") < w)
      .select(col("doc_id"), col("selkey")).distinct()
      .select(
        col("doc_id"),
        (lit(4294967295L) - pmod(col("selkey"), lit(4294967296L)))
          .cast(IntegerType).as("pos"),
        shiftright(col("selkey"), 32).as("sh"))
  }

  /** Fingerprint-overlap near-duplicate candidates (the MOSS report
    * step): documents sharing at least `minShared` winnowed
    * fingerprint hashes, scored by containment = shared / min(|fpA|,
    * |fpB|). Fingerprint hashes appearing in more than `maxDocFreq`
    * documents are pruned before the pair join — exactly the
    * boilerplate-shingle pruning of [[ngramJaccardPairs]], and for the
    * same two reasons: frequent fingerprints carry no near-dup signal
    * and are precisely the join-skew keys. Against [[ngramJaccardPairs]]
    * this compares ~2/(w+1) as many postings for the same candidate
    * recall on spans ≥ n+w−1 tokens — the winnowing guarantee — which
    * is the whole point at corpus scale: the pair-generating join's
    * input shrinks by the window factor.
    *
    * Output: `(doc_a, doc_b, shared, containment)`, doc_a < doc_b.
    *
    * Scale: distinct-hash postings → df-prune (one agg) → equi-join on
    * the hash (one shuffle) → pair count agg. The n² pair space is
    * never built. */
  def fingerprintNearDups(documents: DataFrame, n: Int = 3, w: Int = 4,
      minShared: Long = 2L, maxDocFreq: Long = 5L): DataFrame =
    fingerprintNearDupsFromState(fingerprintAdd(documents, n, w),
      minShared, maxDocFreq)

  /** ONE delta's winnow-postings state `(doc_id, sh)` — the add/merge
    * ingest contract on the LAST dedup sub-family that lacked it: the
    * shingle walk + window-min selection runs ONCE per document at
    * ingest, the distinct selected hashes are what persists across
    * crawl snapshots, and [[fingerprintNearDupsFromState]] /
    * [[exactDupSpansFromState]] pair ANY merged state. The posting set
    * is a pure per-document function of the text, so
    * `mergeFingerprints(add(A), add(B)) ≡ add(A∪B)` exactly and the
    * merge is idempotent under overlapping ingests. */
  def fingerprintAdd(delta: DataFrame, n: Int = 3, w: Int = 4): DataFrame =
    winnowFingerprints(delta, n, w)
      .select(col("doc_id"), col("sh")).distinct()

  /** Exact merge of [[fingerprintAdd]] states: posting-set union
    * (duplicate rows are value-identical — first-wins by distinct). */
  def mergeFingerprints(states: DataFrame*): DataFrame =
    States.merge(states, Seq("doc_id", "sh"))

  /** [[fingerprintNearDups]] off a maintained [[fingerprintAdd]] state
    * — df-prune, pair join and containment over STATE rows, never
    * re-shingling text. */
  def fingerprintNearDupsFromState(state: DataFrame,
      minShared: Long = 2L, maxDocFreq: Long = 5L): DataFrame = {
    require(minShared >= 1, s"minShared must be positive, got $minShared")
    require(maxDocFreq >= 1, s"maxDocFreq must be positive, got $maxDocFreq")
    // distinct hash per doc: a doc can select the same hash at several
    // positions (repeated content); postings are per (doc, hash)
    val fp = state.select(col("doc_id"), col("sh"))
      .localCheckpoint(false) // feeds per-doc counts AND the pair join
    val cnt = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("fp_cnt"))
    val rare = fp.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq).select(col("sh"))
    val posting = fp.join(rare, Seq("sh"))
    val pairs = posting.as("a")
      .join(posting.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    pairs
      .join(cnt.select(col("doc_id").as("doc_a"), col("fp_cnt").as("cnt_a")), Seq("doc_a"))
      .join(cnt.select(col("doc_id").as("doc_b"), col("fp_cnt").as("cnt_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        (col("shared").cast(DoubleType) /
          least(col("cnt_a"), col("cnt_b")).cast(DoubleType)).as("containment"))
  }

  /** EXACT duplicated-span verification — the Lee et al. 2021
    * exact-substring discipline closing the span-dedup story: the
    * shingle-hash span family ([[fingerprintNearDups]], `dup_spans*`)
    * finds candidates by hash; this operator computes, for every
    * candidate pair, the EXACT longest common contiguous TOKEN run
    * over a bounded window (the first `window` tokens of each side) —
    * length, 1-based start positions, and the run text itself. Ties
    * (several runs at the maximum length) break to the smallest
    * `start_a`, then smallest `start_b`, so the row is deterministic
    * and the oracle can enumerate runs declaratively.
    *
    * Shape at 100 TB: candidates come from the winnow-postings join
    * (never all-pairs), the token window bounds the per-pair DP at
    * `window²` integer cells (a flat array, no per-cell allocation),
    * and the pair rows carry only two bounded token arrays — a narrow
    * map after two spine joins. Exactness needs no hashing at all, so
    * there is nothing to collide: a hash-candidate pair with NO real
    * common run reports run_len 0 (the false-positive cut Lee et al.
    * run suffix arrays for, here bounded-window exact). */
  def exactDupSpans(documents: DataFrame, n: Int = 3, w: Int = 4,
      window: Int = 32): DataFrame =
    exactDupSpansFromState(documents, fingerprintAdd(documents, n, w), window)

  /** [[exactDupSpans]] off a maintained [[fingerprintAdd]] state:
    * candidates from the STATE postings (no re-shingling); the bounded
    * token windows still slice from `documents` — exact verification
    * reads the text by definition (that is the operator), but only for
    * the candidate pairs the state join surfaces. */
  def exactDupSpansFromState(documents: DataFrame, state: DataFrame,
      window: Int = 32): DataFrame = {
    require(window >= 1, s"window must be positive, got $window")
    val cand = fingerprintNearDupsFromState(state)
      .select(col("doc_a"), col("doc_b"))
    val toks = documents.select(col("doc_id"),
      slice(filter(split(col("text"), " "), t => t =!= ""), 1, window).as("toks"))
    // the rolling-row LCS DP rides the native codegen expression
    // (first-encountered maximum ⇔ min start_a then min start_b on
    // length ties) — the pair path never leaves whole-stage codegen
    cand
      .join(toks.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")), Seq("doc_a"))
      .join(toks.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        org.apache.spark.sql.graft.LcsTokenRun
          .lcsRun(col("toks_a"), col("toks_b")).as("r"))
      .select(col("doc_a"), col("doc_b"),
        col("r.run_len").as("run_len"), col("r.start_a").as("start_a"),
        col("r.start_b").as("start_b"), col("r.run_text").as("run_text"))
  }

  /** EXACT bounded edit-distance verification over the winnow
    * candidates — the second exact verifier on the fingerprint family
    * ([[exactDupSpans]] measures the longest COMMON run; this measures
    * the total DIFFERENCE): for every candidate pair, the byte-level
    * Levenshtein distance between the two documents' full texts,
    * reported exactly when ≤ `maxDist` and as NULL above it. Byte-level
    * (UTF-8) because that is the semantics the oracle engine's
    * `levenshtein` computes — on ASCII corpora it coincides with
    * character distance.
    *
    * Shape at 100 TB: candidates come from the winnow-postings join
    * (never all-pairs), and the per-pair DP is Spark's thresholded
    * `levenshtein` (see [[byteEditDistance]]): a k-band over
    * O(maxDist·len) cells per pair instead of O(len²), with the
    * length-gap pre-reject (|len_a − len_b| > maxDist ⇒ distance >
    * maxDist) skipping the DP entirely for most far pairs. The NULL
    * branch is the candidate-killing verdict a dedup funnel acts on.
    * The verdict is a built-in column, so the whole pair path —
    * candidate join, length projections, verdict — stays inside ONE
    * whole-stage-codegen span with no typed boundary (plan-pinned: no
    * DeserializeToObject on this path). */
  def editDistancePairs(documents: DataFrame, n: Int = 3, w: Int = 4,
      maxDist: Int = 16): DataFrame =
    editDistancePairsFromState(documents, fingerprintAdd(documents, n, w), maxDist)

  /** [[editDistancePairs]] off a maintained [[fingerprintAdd]] state —
    * candidates from STATE postings (no re-shingling); the texts still
    * slice from `documents`, exactly [[exactDupSpansFromState]]'s
    * exact-verification-reads-text contract. */
  def editDistancePairsFromState(documents: DataFrame, state: DataFrame,
      maxDist: Int = 16): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val cand = fingerprintNearDupsFromState(state)
      .select(col("doc_a"), col("doc_b"))
    val txt = documents.select(col("doc_id"), col("text"))
    cand
      .join(txt.select(col("doc_id").as("doc_a"), col("text").as("text_a")), Seq("doc_a"))
      .join(txt.select(col("doc_id").as("doc_b"), col("text").as("text_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        octet_length(col("text_a")).cast(LongType).as("len_a"),
        octet_length(col("text_b")).cast(LongType).as("len_b"),
        byteEditDistance(col("text_a"), col("text_b"), maxDist).as("dist"))
  }

  /** The byte-level Levenshtein distance of two string columns when it
    * is ≤ `k`, NULL above `k` (or when either side is NULL), as a
    * nullable bigint. Each text is re-decoded byte-for-byte first —
    * every UTF-8 byte becomes one ISO-8859-1 char — so the char DP of
    * Spark's thresholded `levenshtein` runs over the bytes: an accented
    * char costs 2 against its plain form, as in the oracle engine's
    * byte-based `levenshtein`. The built-in answers −1 above `k`;
    * `nullif` maps that to NULL without evaluating the DP twice. */
  private[graft] def byteEditDistance(a: Column, b: Column, k: Int): Column = {
    def bytes(t: Column) = decode(encode(t, "UTF-8"), "ISO-8859-1")
    nullif(levenshtein(bytes(a), bytes(b), k), lit(-1)).cast(LongType)
  }

  /** Modulus of the per-chunk content fingerprint fold — the largest
    * prime below 2³¹, so `acc·P + sh < 2³¹·2²⁰ + 2²⁰ ≪ 2⁶³` keeps every
    * fold step exact BIGINT in both engines. */
  private val ChunkHashMod = 2147483629L

  /** Modulus of the SECOND shingle-hash family (phrase matching joins
    * on both families — see [[phraseMatches]]). */
  private[graft] val P2 = 999983L

  /** 257^d mod P2 — the second family's composition weights. */
  private[graft] def shingleWeight2(d: Int): Long =
    (0 until d).foldLeft(1L)((a, _) => a * 257L % P2)

  /** Positional n-gram hashes in BOTH families:
    * `(doc_id, pos, sh, sh2)` — `sh` is [[MinHash.shingleHashesFromTokens]]'
    * 131-weighted composition mod P, `sh2` the 257-weighted composition
    * mod P2 over the same token hashes. Every term stays < P·P2 < 2⁴⁰,
    * exact BIGINT in both engines. */
  private def posShingles2(documents: DataFrame, n: Int): DataFrame = {
    val sh2arr = {
      val th = col("th")
      when(size(th) < n, array().cast(ArrayType(LongType)))
        .otherwise(transform(sequence(lit(1), size(th) - (n - 1)), i =>
          (0 until n).map(d =>
            element_at(th, i + d) % P2 * lit(shingleWeight2(d)) % P2)
            .reduce(_ + _) % P2))
    }
    MinHash.tokenHashFrame(documents)
      .select(col("doc_id"),
        MinHash.shingleHashesFromTokens(col("th"), n).as("sharr"),
        sh2arr.as("sharr2"))
      .localCheckpoint(false)
      .select(col("doc_id"),
        posexplode(arrays_zip(col("sharr"), col("sharr2"))).as(Seq("pos0", "z")))
      .select(col("doc_id"), (col("pos0") + 1).cast(IntegerType).as("pos"),
        col("z.sharr").as("sh"), col("z.sharr2").as("sh2"))
  }

  /** Content-defined chunking (the Rabin/rsync/FastCDC idea on a token
    * stream; cf. the reference's whole-row exact dedup — it has no
    * sub-document chunking; this is the LLM-pipeline extension): split
    * each document's n-gram shingle stream at DATA-DEPENDENT
    * boundaries — a shingle position `p` ends a chunk iff its hash
    * satisfies `sh(p) mod divisor = 0` — so an insertion or deletion
    * reshapes only the chunks it touches, never the rest of the
    * document (byte-offset chunking would shift every later chunk,
    * defeating dedup across document versions). The shingle hash IS
    * the rolling window hash: the boundary decision at `p` depends on
    * the n tokens ending there, exactly Rabin CDC's window condition.
    * Expected chunk length = `divisor` shingles.
    *
    * Each chunk carries a content fingerprint: the left fold
    * `acc → (acc·1000003 + sh) mod 2147483629` over its shingle hashes
    * in position order — exact integer arithmetic, engine-independent,
    * and order-sensitive (a permuted chunk is a different chunk).
    *
    * Output: `(doc_id, chunk_id, start_pos, end_pos, n_shingles,
    * chunk_hash)` — chunk_id is 0-based within the document, positions
    * are 1-based shingle positions. Documents with < n tokens have no
    * shingles and no chunks.
    *
    * Scale: one doc-keyed window pass (the running boundary count —
    * the same exchange [[duplicateSpans]]' island grouping pays) and
    * one (doc_id, chunk_id) aggregation; the per-group fold is bounded
    * by the chunk length. No driver state, no joins. */
  def cdcChunks(documents: DataFrame, n: Int = 3, divisor: Long = 32L): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    require(divisor >= 1, s"divisor must be positive, got $divisor")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    posShingles(documents, n)
      // chunk_id = number of boundaries STRICTLY BEFORE this position
      // (a boundary ends its own chunk); empty frame on row 1 → 0
      .withColumn("chunk_id",
        coalesce(sum((col("sh") % divisor === 0).cast(LongType)).over(w), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(
        min(col("pos")).as("start_pos"),
        max(col("pos")).as("end_pos"),
        count(lit(1)).as("n_shingles"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("sh")))),
            x => x.getField("sh")),
          lit(0L),
          (acc, x) => (acc * lit(MinHash.P) + x) % lit(ChunkHashMod)).as("chunk_hash"))
  }

  /** Duplicated-chunk report over [[cdcChunks]]: chunk contents (keyed
    * by `(chunk_hash, n_shingles)` — the length key squeezes residual
    * fold collisions) occurring ≥ 2 times anywhere in the corpus, with
    * their global keep-first occurrence (lexicographic min
    * `(doc_id, start_pos)` — [[duplicateSpans]]' keep-first rule at
    * chunk granularity). This is the storage/near-version dedup
    * primitive: identical chunks across document revisions surface
    * here without any pair join.
    *
    * Output: `(chunk_hash, n_shingles, occurrences, n_docs, first_doc,
    * first_pos)`.
    *
    * Scale: [[cdcChunks]] + one hash-keyed aggregation — never a pair
    * space; skew-immune (a boilerplate chunk repeated millions of
    * times is one group with counters, not a join fan-out). The batch
    * operator IS [[cdcDupChunksFromCounts]] over the whole corpus'
    * [[cdcChunkAdd]] state. */
  def cdcDupChunks(documents: DataFrame, n: Int = 3, divisor: Long = 32L): DataFrame =
    cdcDupChunksFromCounts(cdcChunkAdd(documents, n, divisor))

  /** ONE delta's CDC chunk state for the INCREMENTAL duplicate-chunk
    * report: per chunk CONTENT (keyed `(chunk_hash, n_shingles)` like
    * [[cdcDupChunks]]) the occurrence count, the document count, and
    * the keep-first occurrence — the [[shingleFirstAdd]] contract at
    * chunk granularity. Because chunks never span documents, a delta's
    * state is complete for its documents; under the ingest contract
    * every operator in this family shares (each doc_id arrives in
    * EXACTLY ONE delta), per-content doc sets are disjoint across
    * deltas, so `n_docs` merges by exact int64 SUM — and count-sum +
    * struct-min are associative, so
    * `mergeChunkCounts(add(A), add(B)) ≡ add(A ∪ B)` bit-for-bit.
    * State is one row per distinct chunk content — the dedup-economics
    * frame itself, Zipf-small relative to the corpus. */
  def cdcChunkAdd(delta: DataFrame, n: Int = 3, divisor: Long = 32L): DataFrame =
    cdcChunks(delta, n, divisor)
      .groupBy(col("chunk_hash"), col("n_shingles"))
      .agg(
        count(lit(1)).as("occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id"), col("start_pos"))).as("f"))
      .select(col("chunk_hash"), col("n_shingles"), col("occ"),
        col("n_docs"), col("f.doc_id").as("fdoc"),
        col("f.start_pos").as("fpos"))

  /** Exact merge of any number of [[cdcChunkAdd]] states: int64 count
    * sums (doc sets are delta-disjoint by the ingest contract) + the
    * struct-min of the first occurrences. */
  def mergeChunkCounts(states: DataFrame*): DataFrame =
    States.merge(states.map(_.withColumn("f", struct(col("fdoc"), col("fpos")))),
        Seq("chunk_hash", "n_shingles"),
        "occ" -> States.Sum, "n_docs" -> States.Sum, "f" -> States.Min)
      .select(col("chunk_hash"), col("n_shingles"), col("occ"),
        col("n_docs"), col("f.fdoc").as("fdoc"), col("f.fpos").as("fpos"))

  /** [[cdcDupChunks]] read off an EXTERNAL
    * [[cdcChunkAdd]]/[[mergeChunkCounts]] state instead of a fresh
    * corpus-wide chunk aggregation — the read side of the incremental
    * CDC contract: a streamed ingest maintains the per-content state
    * and the duplicate report is one FILTER + projection, no corpus
    * re-scan at all (where even [[cutDuplicateSpansFromCounts]] still
    * re-shingles the documents being cleaned, this consumes state
    * alone). */
  def cdcDupChunksFromCounts(state: DataFrame): DataFrame =
    state.filter(col("occ") >= 2)
      .select(col("chunk_hash"), col("n_shingles"),
        col("occ").as("occurrences"), col("n_docs"),
        col("fdoc").as("first_doc"), col("fpos").as("first_pos"))

  /** Corpus-level CDC dedup economics in one row: how many chunks the
    * corpus splits into, how many are distinct, and how many shingles
    * a chunk-store that keeps one copy per distinct chunk would drop —
    * the number a storage-dedup or incremental-crawl design reads
    * before choosing `divisor`.
    *
    * Output: `(total_chunks, unique_chunks, dup_chunks,
    * removable_shingles)` — removable = Σ (occurrences − 1) ·
    * n_shingles over distinct chunk contents. */
  def cdcDedupStats(documents: DataFrame, n: Int = 3, divisor: Long = 32L): DataFrame =
    cdcChunks(documents, n, divisor)
      .groupBy(col("chunk_hash"), col("n_shingles"))
      .agg(count(lit(1)).as("c"))
      .agg(
        coalesce(sum(col("c")), lit(0L)).as("total_chunks"),
        count(lit(1)).as("unique_chunks"),
        coalesce(sum((col("c") > 1).cast(LongType)), lit(0L)).as("dup_chunks"),
        coalesce(sum((col("c") - 1) * col("n_shingles")), lit(0L))
          .as("removable_shingles"))

  /** Token-boundary phrase matching against a config-sized phrase list
    * (the C4/Gopher "badwords"-filter primitive; cf. the reference's
    * `dbt/credit_mart/models/schema.yml` accepted-values tests — its
    * only string matching is whole-value; this is the LLM-pipeline
    * extension): every occurrence of every listed phrase as a
    * contiguous token sequence in a document. Matching is by EQUALITY
    * OF THE TOKEN-HASH SHINGLE in TWO independent hash families (the
    * 131-weighted mod-1000003 family every shingle operator uses AND a
    * 257-weighted mod-999983 family over the same token hashes), so a
    * spurious match needs a simultaneous collision in both ≈ 10⁻¹² —
    * substring `LIKE` scans would cost O(docs·|phrases|·len) and match
    * across token boundaries; this is one hash-equijoin per distinct
    * phrase LENGTH against a broadcast phrase table.
    *
    * Phrases must be non-empty and single-space-separated (the corpus
    * tokenizer's convention); the phrase list is driver/broadcast
    * state, bounded at 10 000 — the blocklist-file deployment contract.
    * The phrase side is hashed by the SAME Spark pipeline as the
    * corpus, so phrase hashing can never drift from corpus hashing.
    *
    * Output: `(doc_id, phrase_id, pos)` — phrase_id is the 0-based
    * index into `phrases`, pos the 1-based token position of the
    * match start.
    *
    * Scale: one token-hash pass per distinct phrase length (lengths
    * are few by construction), each probed by a broadcast join —
    * no shuffle of the corpus at all; match rows are the only output
    * traffic. */
  def phraseMatches(documents: DataFrame, phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "phrase list must be non-empty")
    require(phrases.size <= 10000,
      s"phrase list is driver/broadcast state, bounded at 10000; got ${phrases.size}")
    require(phrases.forall(_.matches("\\S+( \\S+)*")),
      "phrases must be non-empty and single-space separated")
    val spark = documents.sparkSession
    import spark.implicits._
    val pdf = phrases.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("doc_id", "text")
    // lengths via the corpus tokenizer itself (bounded collect)
    val lens: Map[Long, Int] = MinHash.tokenHashFrame(pdf)
      .select(col("doc_id"), size(col("th")).as("l")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    lens.keySet.groupBy(lens).toSeq.sortBy(_._1).map { case (l, idSet) =>
      val ids = idSet.toSeq.sorted
      val ph = posShingles2(pdf.filter(col("doc_id").isInCollection(ids)), l)
        .filter(col("pos") === 1) // a length-l phrase has exactly one l-gram
        .select(col("doc_id").as("phrase_id"), col("sh"), col("sh2"))
      posShingles2(documents, l)
        .join(broadcast(ph), Seq("sh", "sh2"))
        .select(col("doc_id"), col("phrase_id"), col("pos"))
    }.reduce(_ unionByName _)
  }

  /** Per-document blocklist verdict over [[phraseMatches]]: every
    * document with its match count, the number of distinct listed
    * phrases it contains, and the 0/1 `blocked` flag (any match blocks
    * — the C4 rule). Clean documents appear with zeros: the output is
    * a total annotation of the corpus, directly usable as a semi/anti
    * join side or a quality-score feature column.
    *
    * Scale: the match stream (sparse) aggregates on doc_id, then one
    * left join back to the doc-id spine. */
  def blocklistFilter(documents: DataFrame, phrases: Seq[String]): DataFrame = {
    val m = phraseMatches(documents, phrases)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("m_cnt"), countDistinct(col("phrase_id")).as("p_cnt"))
    documents.select(col("doc_id")).join(m, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("m_cnt"), lit(0L)).as("n_matches"),
        coalesce(col("p_cnt"), lit(0L)).as("n_phrases"),
        (coalesce(col("m_cnt"), lit(0L)) > 0).cast(IntegerType).as("blocked"))
  }

  // ---------------------------------------------------------------------
  // N-gram LM perplexity screen (the CCNet quality signal, exact ints).
  // ---------------------------------------------------------------------

  /** One word-bigram row per token: `(doc_id, ctx, w)` where `ctx` is
    * the previous whitespace token (`"<s>"` for the first — so every
    * token is scored, and the per-doc bigram count equals the token
    * count). Built with `zip_with` over the token array and its
    * BOS-shifted twin — one narrow projection, never a window over
    * token positions. Tokenization is the plain single-space split
    * shared with [[gopherRepetition]], filtered of empties —
    * replayable verbatim in DuckDB (`string_split` + `list_filter`). */
  private def wordBigrams(documents: DataFrame): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    documents.select(col("doc_id"), toks.as("toks"))
      // an EMPTY token list must yield zero bigrams: without this
      // guard zip_with pads its shorter side with null and an
      // all-whitespace doc would emit a spurious ("<s>", null) pair —
      // one phantom scored token and a null-keyed state row
      .where(size(col("toks")) > 0)
      .select(col("doc_id"),
        explode(zip_with(
          concat(array(lit("<s>")),
            slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0)))),
          col("toks"),
          (c, w) => struct(c.as("ctx"), w.as("w")))).as("p"))
      .select(col("doc_id"), col("p.ctx").as("ctx"), col("p.w").as("w"))
  }

  /** ONE delta's bigram-LM count state `(ctx, w, cnt)` — the add/merge
    * ingest contract ([[trigramAdd]]'s discipline) applied to language
    * modeling: a streamed ingest of the clean reference corpus
    * maintains per-(context, word) occurrence counts, and
    * [[lmPerplexityFromCounts]] scores ANY merged state. Pure
    * per-occurrence counting, so `mergeNgrams(add(A), add(B)) ≡
    * add(A ∪ B)` bit-for-bit. State is bigram-TYPE-bounded (Zipf), not
    * corpus-bounded; a production run prunes it by count threshold
    * exactly as CCNet prunes its KenLM — [[ngramPrune]], applied AFTER
    * the merge, closes the broadcast-bounded contract. */
  def ngramAdd(delta: DataFrame): DataFrame =
    wordBigrams(delta).groupBy(col("ctx"), col("w"))
      .agg(count(lit(1)).as("cnt"))

  /** Exact merge of [[ngramAdd]] states: per-(ctx, w) int64 sums —
    * associative and order-free. */
  def mergeNgrams(states: DataFrame*): DataFrame =
    States.merge(states, Seq("ctx", "w"), "cnt" -> States.Sum)

  /** Count-threshold pruning of an [[ngramAdd]]/[[mergeNgrams]] state —
    * the KenLM/CCNet discipline that keeps the broadcast model BOUNDED
    * at web scale: bigram TYPES grow with the corpus, but types seen
    * `>= minCnt` times follow the Zipf head and flatten out, so the
    * pruned state is what a production scorer actually broadcasts.
    * Prune AFTER the final merge (pruning does not commute with
    * merging: a bigram seen once per delta survives the merged-then-
    * pruned state but not a pruned-then-merged one — the former is the
    * correct corpus-level count semantics). One state-keyed filter, no
    * exchange. Pruned bigrams score as unseen (`cnt -> 0` in
    * [[lmPerplexityFromCounts]]'s left join) and the context totals /
    * vocabulary are recomputed FROM the pruned state, so the pruned
    * model is self-consistent — not a sum-mismatched hybrid. */
  def ngramPrune(state: DataFrame, minCnt: Long): DataFrame = {
    require(minCnt >= 1L, s"minCnt must be >= 1, got $minCnt")
    state.select(col("ctx"), col("w"), col("cnt"))
      .filter(col("cnt") >= minCnt)
  }

  /** Per-document n-gram LM perplexity screen off a maintained
    * [[ngramAdd]] state — CCNet's head/tail quality signal (Wenzek et
    * al. 2020: score web text under an LM trained on a clean reference
    * corpus; keep the low-perplexity head), made EXACT so a DuckDB
    * oracle can replay it bit-for-bit (the house no-float-edge rule —
    * no `ln`, no IEEE accumulation ordering):
    *
    *  - model: add-one (Laplace) bigram probabilities
    *    `p(w|c) = (cnt(c,w)+1) / (ctx_cnt(c)+V)` with
    *    `V = (distinct next-words in the state) + 1` (the +1 reserves
    *    the out-of-vocabulary event, so unseen words and unseen
    *    contexts score finitely);
    *  - per-token surprisal in INTEGER BITS:
    *    `s = floor(log₂(a/b))` with `a = ctx_cnt+V, b = cnt+1`
    *    (`a ≥ b ≥ 1` always), computed EXACTLY from bit lengths —
    *    `k₀ = bitlen(a) − bitlen(b)`, minus one iff `a < b·2^k₀` —
    *    both sides use `length(bin(x))` and a shift, no floating log
    *    anywhere (exact for counts below 2⁶², far past any corpus);
    *  - per-doc: `bits = Σ s`, `n_tokens`, display-only
    *    `bits_per_token` (ONE IEEE divide), and the keep verdict in
    *    cross-multiplied integers `bits·thrDen ≤ thrNum·n_tokens`
    *    (i.e. bits/token ≤ thrNum/thrDen — a RATIONAL threshold,
    *    because the corpus's integer-bits surprisal distribution is
    *    tight and no integer cut splits it at every tier) — docs the
    *    model finds predictable (the head) keep; empty docs drop.
    *    The 13/3 default keeps both verdict branches live at sf0.001
    *    (286/500), sf0.01 (311/500) and sf0.1 (4932/5000), measured.
    *
    * Scale: the corpus-sized work is one [[wordBigrams]] projection +
    * two broadcast probes of the (pruned, type-bounded) model + one
    * doc-keyed aggregation + the doc-spine left join —
    * [[languageId]]'s exact shape; nothing corpus-sized shuffles on
    * the model key. */
  def lmPerplexityFromCounts(documents: DataFrame, state: DataFrame,
      thrNum: Long = 13L, thrDen: Long = 3L): DataFrame = {
    require(thrNum >= 1L && thrDen >= 1L,
      s"bits-per-token threshold must be a positive rational, got $thrNum/$thrDen")
    val cnts = state.select(col("ctx"), col("w"), col("cnt"))
    val ctxTot = cnts.groupBy(col("ctx")).agg(sum(col("cnt")).as("ctx_cnt"))
    val vocab = cnts.agg((countDistinct(col("w")) + 1L).as("v"))
    val ab = wordBigrams(documents)
      .join(broadcast(cnts), Seq("ctx", "w"), "left")
      .join(broadcast(ctxTot), Seq("ctx"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        (coalesce(col("ctx_cnt"), lit(0L)) + col("v")).as("a"),
        (coalesce(col("cnt"), lit(0L)) + lit(1L)).as("b"))
    bitsScreen(documents, ab, thrNum, thrDen)
  }

  /** Self-training composition: the batch perplexity screen (model
    * from the corpus itself in one delta). By the add/merge contract
    * this is bit-identical to [[lmPerplexityFromCounts]] over any
    * merged ingest of the same corpus — what the `_stream` twin
    * asserts. */
  def lmPerplexity(documents: DataFrame, thrNum: Long = 13L,
      thrDen: Long = 3L): DataFrame =
    lmPerplexityFromCounts(documents, ngramAdd(documents), thrNum, thrDen)

  /** Word TRIGRAM event stream with double-BOS contexts: token t is
    * scored in context `(w_{t-2}, w_{t-1})`, `<s>`-padded at the doc
    * head — every token emits exactly one event, so lower-order
    * bigram/unigram counts marginalize EXACTLY from the trigram state
    * (each bigram/unigram occurrence appears in exactly one trigram
    * event). Same whitespace token stream as [[wordBigrams]], same
    * empty-doc guard, one narrow projection. */
  private def wordTrigrams(documents: DataFrame): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    documents.select(col("doc_id"), toks.as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, size(toks)), j -> struct(" +
          "IF(j >= 3, toks[j-3], '<s>') AS c2, " +
          "IF(j >= 2, toks[j-2], '<s>') AS c1, toks[j-1] AS w))")).as("p"))
      .select(col("doc_id"), col("p.c2").as("c2"), col("p.c1").as("c1"),
        col("p.w").as("w"))
  }

  /** ONE delta's trigram-LM count state `(c2, c1, w, cnt)` — the
    * [[ngramAdd]] contract one order up: a streamed clean-corpus
    * ingest maintains per-(context₂, word) occurrence counts, and
    * [[lmPerplexityBackoffFromCounts]] scores ANY merged state. Lower
    * orders are NOT stored: they marginalize exactly from this one
    * table, so the maintained state is a single count frame. */
  def trigramLmAdd(delta: DataFrame): DataFrame =
    wordTrigrams(delta).groupBy(col("c2"), col("c1"), col("w"))
      .agg(count(lit(1)).as("cnt"))

  /** Exact merge of [[trigramLmAdd]] states: per-key int64 sums. */
  def mergeTrigramLm(states: DataFrame*): DataFrame =
    States.merge(states, Seq("c2", "c1", "w"), "cnt" -> States.Sum)

  /** Shared surprisal tail: per-event exact-rational odds `(a, b)` with
    * `a ≥ b ≥ 1` → integer bits `floor(log2(a/b))` via the bit-length
    * trick, per-doc totals, the doc-spine join and the cross-multiplied
    * keep verdict — the arithmetic [[lmPerplexityFromCounts]] pinned,
    * reused verbatim by the backoff scorer. */
  private def bitsScreen(documents: DataFrame, ab: DataFrame,
      thrNum: Long, thrDen: Long): DataFrame = {
    val scored = ab
      .select(col("doc_id"), col("a"), col("b"),
        (length(bin(col("a"))) - length(bin(col("b")))).cast(LongType).as("k0"))
      .select(col("doc_id"),
        (col("k0") - when(col("a") < expr("shiftleft(b, cast(k0 as int))"), 1L)
          .otherwise(0L)).as("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("s")).as("bits"))
    documents.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("bits"), lit(0L)).as("bits"),
        when(coalesce(col("n_tokens"), lit(0L)) > 0L,
          coalesce(col("bits"), lit(0L)).cast(DoubleType)
            / col("n_tokens").cast(DoubleType))
          .otherwise(lit(null).cast(DoubleType)).as("bits_per_token"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0L, lit(0))
          .otherwise((coalesce(col("bits"), lit(0L)) * lit(thrDen)
            <= lit(thrNum) * col("n_tokens")).cast(IntegerType)).as("keep"))
  }

  /** Trigram STUPID-BACKOFF perplexity screen off a maintained
    * [[trigramLmAdd]] state — the CCNet-realism step past the add-one
    * bigram ([[lmPerplexityFromCounts]]): score token w in context
    * (c₂, c₁) at the deepest order that has evidence, discounting each
    * backoff level by α = 2/5 (Brants et al. 2007's 0.4, as an exact
    * rational so the house no-float rule holds):
    *
    *  - trigram seen:  S = cnt₃(c₂,c₁,w) / tot₃(c₂,c₁)
    *  - else bigram:   S = (2/5) · cnt₂(c₁,w) / tot₂(c₁)
    *  - else unigram:  S = (4/25) · (cnt₁(w)+1) / (N+V)   (Laplace
    *    floor, so OOV words score finitely — stupid backoff needs a
    *    terminal smoother and add-one at order 1 is the house one)
    *
    * 1/S is a single exact int64 ratio per event (a = tot₃ | 5·tot₂ |
    * 25·(N+V); b = cnt₃ | 2·cnt₂ | 4·(cnt₁+1); a ≥ b ≥ 1 at every
    * level since cnt ≤ tot and 5 > 2, 25 > 4), so the integer-bits
    * surprisal generalizes unchanged. [[ngramPrune]]'s discipline
    * applies PER ORDER: each order's table marginalizes from the FULL
    * state first (pruning does not commute with marginalizing), then
    * prunes at its own threshold, and each order's totals/vocabulary
    * recompute from its own pruned table — pruned n-grams genuinely
    * back off. The 13/3 threshold with (2, 2, 1) pruning keeps both
    * verdict branches live at sf0.001 (487/500), sf0.01 (483/500) and
    * sf0.1 (2817/5000), measured.
    *
    * Scale: the model is Zipf-type-bounded per order and broadcast
    * (the KenLM deployment shape); corpus-sized work is one
    * [[wordTrigrams]] projection + five broadcast probes + one
    * doc-keyed aggregation — [[lmPerplexityFromCounts]]'s exact plan
    * family, nothing corpus-sized shuffles on a model key. */
  def lmPerplexityBackoffFromCounts(documents: DataFrame, state: DataFrame,
      min3: Long = 1L, min2: Long = 1L, min1: Long = 1L,
      thrNum: Long = 13L, thrDen: Long = 3L): DataFrame = {
    require(min3 >= 1L && min2 >= 1L && min1 >= 1L,
      s"per-order prune thresholds must be >= 1, got ($min3, $min2, $min1)")
    require(thrNum >= 1L && thrDen >= 1L,
      s"bits-per-token threshold must be a positive rational, got $thrNum/$thrDen")
    val full = state.select(col("c2"), col("c1"), col("w"), col("cnt"))
    val t3 = full.filter(col("cnt") >= min3)
      .select(col("c2"), col("c1"), col("w"), col("cnt").as("c3"))
    val t2 = full.groupBy(col("c1"), col("w")).agg(sum(col("cnt")).as("cnt2"))
      .filter(col("cnt2") >= min2)
    val t1 = full.groupBy(col("w")).agg(sum(col("cnt")).as("cnt1"))
      .filter(col("cnt1") >= min1)
    val tot3 = t3.groupBy(col("c2"), col("c1")).agg(sum(col("c3")).as("tot3"))
    val tot2 = t2.groupBy(col("c1")).agg(sum(col("cnt2")).as("tot2"))
    val nv = t1.agg(sum(col("cnt1")).as("nn"),
      (countDistinct(col("w")) + 1L).as("v"))
    val ab = wordTrigrams(documents)
      .join(broadcast(t3), Seq("c2", "c1", "w"), "left")
      .join(broadcast(tot3), Seq("c2", "c1"), "left")
      .join(broadcast(t2), Seq("c1", "w"), "left")
      .join(broadcast(tot2), Seq("c1"), "left")
      .join(broadcast(t1), Seq("w"), "left")
      .crossJoin(broadcast(nv))
      .select(col("doc_id"),
        when(col("c3").isNotNull, col("tot3"))
          .when(col("cnt2").isNotNull, lit(5L) * col("tot2"))
          .otherwise(lit(25L) * (col("nn") + col("v"))).as("a"),
        when(col("c3").isNotNull, col("c3"))
          .when(col("cnt2").isNotNull, lit(2L) * col("cnt2"))
          .otherwise(lit(4L) * (coalesce(col("cnt1"), lit(0L)) + 1L)).as("b"))
    bitsScreen(documents, ab, thrNum, thrDen)
  }

  /** Self-training composition of the backoff screen (model from the
    * corpus itself in one delta) — bit-identical to
    * [[lmPerplexityBackoffFromCounts]] over any merged ingest by the
    * add/merge contract, which the `_stream` twin asserts. */
  def lmPerplexityBackoff(documents: DataFrame,
      min3: Long = 1L, min2: Long = 1L, min1: Long = 1L,
      thrNum: Long = 13L, thrDen: Long = 3L): DataFrame =
    lmPerplexityBackoffFromCounts(documents, trigramLmAdd(documents),
      min3, min2, min1, thrNum, thrDen)
}
