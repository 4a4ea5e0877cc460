package graft

import org.apache.spark.sql.functions._

import graft.ext.{Sim, Text}

/** Specs for the LLM-pipeline extension operators: token stats on known
  * strings, shingle construction, Jaccard pairing, and cosine top-k on
  * hand-computable vectors. */
class TextSimSpec extends SparkSpec {
  import spark.implicits._

  test("textStats counts tokens/chars/stopwords on a known sentence") {
    val docs = Seq((1L, "the cat sat on the mat", "en", "s", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Text.textStats(docs).collect().head
    assert(r.getAs[Long]("token_cnt") == 6L)
    assert(r.getAs[Long]("char_cnt") == 22L)
    assert(r.getAs[Long]("distinct_tokens") == 5L) // 'the' twice
    assert(r.getAs[Long]("stopword_cnt") == 2L)
    assert(r.getAs[String]("lang_pred") == "en")
    assert(math.abs(r.getAs[Double]("avg_token_len") - (22.0 - 5.0) / 6.0) < 1e-12)
  }

  test("shingle hashes: 3-grams of a 5-token text; short text yields empty") {
    val df = Seq((1L, "a b c d e"), (2L, "a b")).toDF("doc_id", "text")
    val got = graft.ext.MinHash.shingleHashes(df, 3)
      .orderBy(col("doc_id")).select(col("hashes")).as[Seq[Long]].collect()
    assert(got(0).length == 3) // 5 tokens -> 3 distinct trigram hashes
    assert(got(0).forall(h => h >= 0 && h < graft.ext.MinHash.P))
    assert(got(1).isEmpty)
  }

  test("ngramJaccardPairs finds the duplicated document pair with jaccard 1.0") {
    val docs = Seq(
      (1L, "x y z w q r s"), (2L, "x y z w q r s"), // exact dup
      (3L, "totally different words here indeed")
    ).toDF("doc_id", "text")
    val pairs = Text.ngramJaccardPairs(docs, 3).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("doc_a") == 1L && p.getAs[Long]("doc_b") == 2L)
    assert(p.getAs[Double]("jaccard") == 1.0)
  }

  test("bruteTopK ranks by cosine with deterministic tiebreak") {
    // v1=(1,0), v2=(1,0) identical; v3=(0,1) orthogonal
    val e = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)), (3L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top = Sim.bruteTopK(e, 1).collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))
    assert(top.toSet == Set((1L, 2L, 1.0), (2L, 1L, 1.0), (3L, 1L, 0.0)))
  }

  test("lshTopK buckets identical vectors together (recall on exact dups)") {
    val e = Seq(
      (1L, Seq(1.0f, 0.5f, -0.25f, 2.0f)), (2L, Seq(1.0f, 0.5f, -0.25f, 2.0f)),
      (3L, Seq(-1.0f, -0.5f, 0.25f, -2.0f))
    ).toDF("vec_id", "embedding")
    val top = Sim.lshTopK(e, 1, 4).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id")))
    // identical vectors share every sign bucket -> each finds the other
    assert(top.toSet.contains((1L, 2L)) && top.toSet.contains((2L, 1L)))
  }

  test("lshTopKTables: OR-amplification recovers pairs a single table misses; recall caps at union") {
    val e = Seq(
      (1L, Seq(1.0f, 0.5f, -0.25f, 2.0f)), (2L, Seq(1.0f, 0.5f, -0.25f, 2.0f)),
      (3L, Seq(-1.0f, -0.5f, 0.25f, -2.0f)), (4L, Seq(0.9f, 0.6f, -0.2f, 1.8f))
    ).toDF("vec_id", "embedding")
    val multi = Sim.lshTopKTables(e, 3, 4, 3).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id"))).toSet
    // identical vectors share every table's bucket
    assert(multi.contains((1L, 2L)) && multi.contains((2L, 1L)))
    // multi-table candidates are a superset of any single table's
    val single = Sim.lshTopK(e, 3, 4).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(single.subsetOf(multi))
  }

  test("lshTopKTables sub-split: candidate work is hard-bounded on real embeddings") {
    // replicate the operator's (tbl, bucket, subkey) keying at a cap small
    // enough to force splitting on the real clustered embeddings, and
    // assert the two guarantees the scaladoc claims: no join group exceeds
    // ~2×cap (hash-mod slack over a tight cluster), and total candidate
    // pairs stay O(n · nTables · cap) — the sum-of-bucket² explosion is
    // structurally impossible no matter how the data concentrates.
    import org.apache.spark.sql.expressions.Window
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val cap = 8
    val nTables = 3
    val banded = (0 until nTables)
      .map(t => emb.select(col("vec_id"), lit(t).as("tbl"),
        Sim.lshBucketAt(col("embedding"), 64, 10, t).as("bucket")))
      .reduce(_ unionByName _)
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("tbl"), col("bucket"))))
      .withColumn("subkey",
        expr("((vec_id % 1000003) * 2654435761 + tbl * 40503 + 97) % 1000003" +
          s" % ((cnt + ${cap - 1}) div $cap)"))
    val sizes = banded.groupBy(col("tbl"), col("bucket"), col("subkey"))
      .count().select(col("count")).as[Long].collect()
    assert(sizes.exists(_ > cap) || sizes.length > 64,
      "expected the clustered embeddings to actually exercise the split path")
    assert(sizes.max <= 2L * cap, s"chunk of ${sizes.max} exceeds 2×cap=$cap")
    val pairs = sizes.map(s => s * (s - 1)).sum
    assert(pairs <= nTables * n * 2L * cap,
      s"candidate pairs $pairs exceed O(n·nTables·cap) bound ${nTables * n * 2L * cap}")
    // and the operator still returns k neighbors for (nearly) every vector
    val rows = Sim.lshTopKTables(emb, 5, 10, nTables, maxBucket = cap).count()
    assert(rows >= 4 * n, s"sub-split starved the top-k: only $rows rows for $n vectors")
  }

  test("lshTopKTables maxBucket: every member of an oversized near-identical cluster keeps neighbors") {
    // 40 near-parallel vectors land in ONE bucket per table (> cap=8);
    // the mod-chunk split must keep per-vector candidates, and the found
    // neighbors are clustermates (cosine ≈ 1) — quality survives even
    // where exact recall cannot
    val e = (0 until 40).map(i =>
      (i.toLong, Seq(1.0f, 0.5f + i * 1e-5f, -0.25f, 2.0f))).toDF("vec_id", "embedding")
    val r = Sim.lshTopKTables(e, 3, 4, 3, maxBucket = 8).collect()
    val byVec = r.groupBy(_.getAs[Long]("vec_id"))
    assert(byVec.size == 40, s"only ${byVec.size} of 40 vectors produced neighbors")
    assert(byVec.values.forall(_.length == 3), "some vector found fewer than k=3 neighbors")
    assert(r.map(_.getAs[Double]("cosine")).min > 0.999)
  }

  test("lsh bucket-size distribution: nBits bounds the max bucket share on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count().toDouble
    (0 until 3).foreach { t =>
      val sizes = emb
        .select(Sim.lshBucketAt(col("embedding"), 64, 10, t).as("bucket"))
        .groupBy(col("bucket")).count()
        .select(col("count")).as[Long].collect()
      // the quantity that scales is the candidate-join cost sum(bucket²):
      // it must be a small fraction of the n² brute-force pair space even
      // on these CLUSTERED embeddings (where some bucket concentration is
      // the data's fault, not the hash's), and no bucket may absorb the
      // majority of vectors — that would mean the hyperplane draw
      // collapsed, the failure mode the parameterization exists to catch.
      val pairCost = sizes.map(s => s.toDouble * s).sum
      assert(pairCost / (n * n) < 0.2, s"table $t sum(bucket²)=$pairCost vs n²=${n * n}")
      assert(sizes.max.toDouble / n < 0.5, s"table $t max bucket ${sizes.max} of $n")
      assert(sizes.length > 1, s"table $t produced a single bucket")
    }
  }

  test("ivfTopK: identical vectors land in the same cell; nprobe grows candidate reach") {
    val e = Seq(
      (1L, Seq(1.0f, 0.5f, -0.25f, 2.0f)), (2L, Seq(1.0f, 0.5f, -0.25f, 2.0f)),
      (3L, Seq(-1.0f, -0.5f, 0.25f, -2.0f)), (4L, Seq(0.2f, -0.7f, 0.9f, 0.1f))
    ).toDF("vec_id", "embedding")
    val got1 = Sim.ivfTopK(e, 3, 4, 1).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id"))).toSet
    // identical vectors share the argmin cell, so each finds the other
    assert(got1.contains((1L, 2L)) && got1.contains((2L, 1L)))
    // probing more cells can only add candidates
    val got2 = Sim.ivfTopK(e, 3, 4, 2).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(got1.subsetOf(got2))
  }

  test("DotProduct expression: bit-equal to the manual chain, null-safe, codegen path") {
    import org.apache.spark.sql.graft.DotProduct.dot
    val df = Seq(
      (Seq(1.5f, -2.25f, 3.0f), Seq(0.5f, 4.0f, -1.25f)),
      (Seq(0.0f, 0.0f, 0.0f), Seq(1.0f, 1.0f, 1.0f))
    ).toDF("a", "b")
    val got = df.select(dot(col("a"), col("b"))).as[Double].collect()
    val expected = Array(
      1.5 * 0.5 + (-2.25) * 4.0 + 3.0 * (-1.25), // left-to-right chain
      0.0)
    assert(java.lang.Double.doubleToLongBits(got(0)) ==
      java.lang.Double.doubleToLongBits(expected(0)))
    assert(got(1) == 0.0)
    // null input -> null output (BinaryExpression null-safety)
    val withNull = Seq((Some(Seq(1.0f)), None: Option[Seq[Float]])).toDF("a", "b")
    assert(withNull.select(dot(col("a"), col("b"))).collect().head.isNullAt(0))
  }

  test("dq: relationship violations are the orphans only") {
    val child = Seq((1L, "a"), (2L, "b"), (99L, "orphan")).toDF("k", "v")
    val parent = Seq(Tuple1(1L), Tuple1(2L)).toDF("k")
    val viol = graft.dq.Checks.relationshipViolations(child, parent, "k")
    assert(viol.select(col("k")).as[Long].collect().toSeq == Seq(99L))
  }

  /** Driver-side reference winnow over one doc's positional shingle
    * hashes: per w-window minimum with rightmost tie-break, whole-doc
    * window when there are fewer than w shingles. 1-based positions. */
  private def refWinnow(sh: Seq[Long], w: Int): Set[(Int, Long)] =
    if (sh.isEmpty) Set.empty
    else if (sh.length < w)
      Set(sh.zipWithIndex.minBy { case (h, i) => (h, -i) } match {
        case (h, i) => (i + 1, h)
      })
    else (w to sh.length).map { p =>
      val (h, i) = ((p - w) until p).map(i => (sh(i), i))
        .minBy { case (h, i) => (h, -i) }
      (i + 1, h)
    }.toSet

  private def posHashes(docs: org.apache.spark.sql.DataFrame, n: Int): Map[Long, Seq[Long]] =
    graft.ext.MinHash.tokenHashFrame(docs)
      .select(col("doc_id"),
        graft.ext.MinHash.shingleHashesFromTokens(col("th"), n).as("sharr"))
      .as[(Long, Seq[Long])].collect().toMap

  test("winnowFingerprints matches the reference per-window argmin on every doc") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "a a a a a a a a"),             // all-equal hashes: rightmost ties
      (3L, "one two three four five"),     // 3 shingles < w=4: one global min
      (4L, "x y"),                         // no shingles at all
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val got = Text.winnowFingerprints(docs, n = 3, w = 4).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (d, rs) =>
        d -> rs.map(r => (r.getAs[Int]("pos"), r.getAs[Long]("sh"))).toSet
      }
    val hashes = posHashes(docs, 3)
    for (d <- Seq(1L, 2L, 3L, 5L))
      assert(got.getOrElse(d, Set.empty) == refWinnow(hashes(d), 4),
        s"doc $d selection mismatch")
    assert(!got.contains(4L)) // shingle-less doc yields no fingerprints
  }

  test("winnowing guarantee: every full window contains a selected position") {
    val docs = Seq((1L,
      "m n b v c x z l k j h g f d s a p o i u y t r e w q m1 n1 b1 v1 c1 x1"))
      .toDF("doc_id", "text")
    val sel = Text.winnowFingerprints(docs, n = 3, w = 4).collect()
      .map(_.getAs[Int]("pos")).toSet
    val nsh = posHashes(docs, 3)(1L).length
    assert(nsh >= 8)
    for (p <- 4 to nsh)
      assert((p - 3 to p).exists(sel), s"window ending at $p uncovered")
    // density: far fewer fingerprints than shingles (expected 2/(w+1))
    assert(sel.size < nsh)
  }

  test("winnow rightmost tie-break: identical hashes select each window's last slot") {
    val docs = Seq((2L, "a a a a a a a a")).toDF("doc_id", "text") // 6 equal shingles
    val got = Text.winnowFingerprints(docs, n = 3, w = 4).collect()
      .map(r => r.getAs[Int]("pos"))
    // windows end at pos 4,5,6; each selects its rightmost (= ending) slot
    assert(got.sorted.toSeq == Seq(4, 5, 6))
  }

  test("ivfSqTopK: identical vectors are mutual top-1 despite byte quantization") {
    // d1 spans [-1,1]; d2 spans [0,1]; d3/d4 constant (code 0, recon at min)
    val e = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)), (2L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f, 0.0f)), (4L, Seq(-1.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Sim.ivfSqTopK(e, coarseK = 2, nProbe = 2, k = 1).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine"))).toSeq
    val m = top.map(t => t._1 -> t).toMap
    // SQ8 distortion is ~1/255 per dim: the identical pair stays on top
    assert(m(1L)._2 == 2L && m(1L)._3 > 0.99, s"got ${m.get(1L)}")
    assert(m(2L)._2 == 1L && m(2L)._3 > 0.99, s"got ${m.get(2L)}")
    // approximate cosine of an identical pair cannot exceed 1 by more
    // than reconstruction error
    assert(top.forall(_._3 <= 1.01))
  }

  test("ivfBqTopK: identical vectors are mutual top-1 at full-precision cosine") {
    val e = Seq(
      (1L, Seq(1.0f, 0.5f, -0.25f, 0.0f)), (2L, Seq(1.0f, 0.5f, -0.25f, 0.0f)),
      (3L, Seq(-1.0f, 2.0f, 0.75f, -0.5f)), (4L, Seq(0.25f, -0.5f, 1.0f, 0.5f))
    ).toDF("vec_id", "embedding")
    val m = Sim.ivfBqTopK(e, coarseK = 2, nProbe = 2, k = 1).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toMap
    // the refine stage scores with exact floats: the identical pair's
    // cosine is 1.0 up to the sqrt roundtrip, never BQ distortion
    assert(m(1L)._1 == 2L && m(1L)._2 > 0.999999, s"got ${m.get(1L)}")
    assert(m(2L)._1 == 1L && m(2L)._2 > 0.999999, s"got ${m.get(2L)}")
  }

  test("ivfBqTopK: the Hamming stage gates candidates before the exact rerank") {
    // query a: b is 1 sign-flip away but nearly anti-parallel in floats;
    // c is 2 sign-flips away but the better float neighbor. refineR=1
    // admits only the Hamming winner (b) — proving the 1-bit pre-filter,
    // not the exact cosine, selects the candidate set.
    val e = Seq(
      (1L, Seq(1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Seq(0.1f, 0.1f, 0.1f, -2.9f)),   // signs +++-: ham 1, cosine < 0
      (3L, Seq(-0.01f, -0.01f, 1.4f, 1.4f)) // signs --++: ham 2, cosine ~0.7
    ).toDF("vec_id", "embedding")
    val top = Sim.ivfBqTopK(e, coarseK = 2, nProbe = 2, k = 1, refineR = 1)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"))).toMap
    assert(top(1L)._1 == 2L, s"Hamming gate bypassed: ${top.get(1L)}")
    assert(top(1L)._2 < 0.0) // the reported score is still the exact cosine
    // with a wide refine the exact rerank recovers the float-best pick
    val wide = Sim.ivfBqTopK(e, coarseK = 2, nProbe = 2, k = 1, refineR = 25)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("neighbor_id")).toMap
    assert(wide(1L) == 3L)
  }

  test("cdcChunks partitions every document's shingle stream exactly") {
    val text = (1 to 80).map(i => s"tok${i * 7 % 23}x$i").mkString(" ")
    val docs = Seq((1L, text), (2L, "a b"), (3L, "p q r s t u")).toDF("doc_id", "text")
    val ch = Text.cdcChunks(docs, n = 3, divisor = 4L).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(!ch.contains(2L)) // < n tokens: no shingles, no chunks
    for ((d, rows) <- ch) {
      val nsh = posHashes(docs.filter(col("doc_id") === d), 3)(d).length
      val sorted = rows.sortBy(_.getAs[Long]("chunk_id"))
      assert(sorted.head.getAs[Int]("start_pos") == 1)
      assert(sorted.last.getAs[Int]("end_pos") == nsh)
      // contiguous, gap-free, 0-based chunk ids
      assert(sorted.map(_.getAs[Long]("chunk_id")).toSeq == sorted.indices.map(_.toLong))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Int]("start_pos") == a.getAs[Int]("end_pos") + 1)
        case _ =>
      }
      assert(sorted.forall(r =>
        r.getAs[Long]("n_shingles") ==
          r.getAs[Int]("end_pos") - r.getAs[Int]("start_pos") + 1))
    }
    assert(ch(1L).length > 1, "expected the 80-token doc to split at divisor=4")
  }

  test("cdcChunks boundaries are content-defined: an edit only reshapes its own chunk") {
    val toks = (1 to 90).map(i => s"w${i * 13 % 31}q$i")
    val a = toks.mkString(" ")
    val b = ("EDITED" +: toks.tail).mkString(" ") // replace token 1 only
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val ch = Text.cdcChunks(docs, n = 3, divisor = 4L).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (d, rs) => d -> rs.sortBy(_.getAs[Long]("chunk_id")).map(r =>
        (r.getAs[Int]("start_pos"), r.getAs[Int]("end_pos"), r.getAs[Long]("chunk_hash"))) }
    // token 1 lives only in the shingle at pos 1, so every chunk not
    // containing pos 1 is bit-identical between the two versions —
    // byte-offset chunking would instead shift every chunk
    val (ca, cb) = (ch(1L), ch(2L))
    assert(ca.length > 2)
    assert(ca.tail.toSeq == cb.tail.toSeq, "chunks after the edited one must be identical")
    assert(ca.head._3 != cb.head._3, "the edited chunk must re-fingerprint")
  }

  test("cdcDupChunks reports duplicated chunk contents with global keep-first") {
    val text = (1 to 60).map(i => s"d${i * 11 % 29}z$i").mkString(" ")
    val docs = Seq((5L, text), (9L, text), // exact dup pair
      (7L, "entirely different content tokens here all unique ones"))
      .toDF("doc_id", "text")
    val perDoc = Text.cdcChunks(docs, n = 3, divisor = 4L).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val dups = Text.cdcDupChunks(docs, n = 3, divisor = 4L).collect()
    // every chunk of the duplicated doc appears exactly twice; doc 7
    // shares nothing
    assert(dups.length == perDoc(5L).length)
    assert(dups.forall(_.getAs[Long]("occurrences") == 2L))
    assert(dups.forall(_.getAs[Long]("n_docs") == 2L))
    assert(dups.forall(_.getAs[Long]("first_doc") == 5L)) // keep-first = lowest doc
    val stats = Text.cdcDedupStats(docs, n = 3, divisor = 4L).collect().head
    assert(stats.getAs[Long]("total_chunks") ==
      perDoc.values.map(_.length.toLong).sum)
    assert(stats.getAs[Long]("dup_chunks") == dups.length.toLong)
    // removing second copies saves exactly one full copy of doc 5's shingles
    assert(stats.getAs[Long]("removable_shingles") ==
      perDoc(5L).map(_.getAs[Long]("n_shingles")).sum)
  }

  test("phraseMatches finds every token-boundary occurrence, mixed lengths, no substring hits") {
    val docs = Seq(
      (1L, "the bad word here and bad word again plus very bad phrase now"),
      (2L, "badword is one token so bad word split differently"),
      (3L, "clean text only nothing listed at all")
    ).toDF("doc_id", "text")
    val phrases = Seq("bad word", "very bad phrase", "absent entirely")
    val got = Text.phraseMatches(docs, phrases).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("phrase_id"), r.getAs[Int]("pos")))
      .toSet
    // doc 1: "bad word" at token 2 and 6; "very bad phrase" at 10
    // doc 2: "bad word" at 6 — "badword" (one token) must NOT match
    assert(got == Set((1L, 0L, 2), (1L, 0L, 6), (1L, 1L, 10), (2L, 0L, 6)))
  }

  test("blocklistFilter annotates the full doc spine with the any-match verdict") {
    val docs = Seq(
      (1L, "x bad word y bad word z"),
      (2L, "all fine here"),
      (3L, "very bad phrase and bad word together")
    ).toDF("doc_id", "text")
    val f = Text.blocklistFilter(docs, Seq("bad word", "very bad phrase")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_matches"), r.getAs[Long]("n_phrases"), r.getAs[Int]("blocked"))).toMap
    assert(f(1L) == ((2L, 1L, 1)))
    assert(f(2L) == ((0L, 0L, 0))) // clean doc present with zeros
    assert(f(3L) == ((2L, 2L, 1)))
  }

  test("fingerprintNearDups pairs exact dups with containment 1.0, skips disjoint docs") {
    val docs = Seq(
      (1L, "p q r s t u v w x y z aa bb cc"),
      (2L, "p q r s t u v w x y z aa bb cc"), // exact dup of 1
      (3L, "completely unrelated tokens in this document body here now")
    ).toDF("doc_id", "text")
    val pairs = Text.fingerprintNearDups(docs, n = 3, w = 4).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("doc_a") == 1L && p.getAs[Long]("doc_b") == 2L)
    assert(p.getAs[Long]("shared") >= 2L)
    assert(p.getAs[Double]("containment") == 1.0)
  }

  test("exactDupSpans: longest common token run exact, tie breaks to min start_a then start_b, window bounds") {
    // docs 1/2 share the 5-token run "p q r s t" (doc 2 shifted by one
    // token) plus a shorter 3-token run "x y z" — the DP must report
    // the 5-run with 1-based starts (1, 2); winnowing (n=3, w=4)
    // selects fingerprints inside the long run so the pair is a
    // candidate
    val docs = Seq(
      (1L, "p q r s t u1 a x y z b c d e f"),
      (2L, "w p q r s t u2 g x y z h i j k"),
      (3L, "completely unrelated filler tokens one two three four five six")
    ).toDF("doc_id", "text")
    val rows = graft.ext.Text.exactDupSpans(docs, n = 3, w = 4, window = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5))).toList
    assert(rows == List((1L, 2L, 5L, 1L, 2L, "p q r s t")), rows.toString)
    // tie case: the same 3-run appears twice in doc 5; min start_a,
    // then min start_b must win
    val tie = Seq(
      (4L, "m n o f1 f2 f3 f4 m n o f5 f6 f7 f8"),
      (5L, "z1 m n o z2 z3 m n o z4 z5 z6 z7 z8")
    ).toDF("doc_id", "text")
    val t = graft.ext.Text.exactDupSpans(tie, n = 3, w = 4, window = 32)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))
    assert(t.forall(_ == ((3L, 1L, 2L, "m n o"))), t.mkString(","))
    // window bound: a run extending past the window is cut at it
    val long = Seq(
      (6L, Seq.tabulate(40)(i => s"c$i").mkString(" ")),
      (7L, Seq.tabulate(40)(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val l = graft.ext.Text.exactDupSpans(long, n = 3, w = 4, window = 32).collect()
    assert(l.length == 1 && l.head.getLong(2) == 32L && l.head.getLong(3) == 1L)
  }

  test("byteEditDistance: exact within k, NULL above k or on a NULL side, byte-level like the oracle") {
    import java.nio.charset.StandardCharsets.UTF_8
    // the plain full-matrix DP over UTF-8 bytes — the oracle engine's
    // byte-based levenshtein semantics
    def full(a: String, b: String): Long = {
      val x = a.getBytes(UTF_8); val y = b.getBytes(UTF_8)
      val m = Array.tabulate(x.length + 1, y.length + 1)((i, j) => if (i == 0) j else i)
      for (i <- 1 to x.length; j <- 1 to y.length)
        m(i)(j) = math.min(m(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1),
          math.min(m(i - 1)(j), m(i)(j - 1)) + 1)
      m(x.length)(y.length).toLong
    }
    // all cases of one k in one frame; spread over 2 partitions so the
    // column runs in a codegen'd stage, not folded into a local relation
    def dists(k: Int, pairs: Seq[(String, String)]): Seq[Option[Long]] =
      pairs.zipWithIndex.map { case ((a, b), i) => (i, a, b) }.toDF("i", "a", "b")
        .repartition(2)
        .select(col("i"), Text.byteEditDistance(col("a"), col("b"), k).as("d"))
        .collect().sortBy(_.getInt(0))
        .map(r => if (r.isNullAt(1)) None else Some(r.getLong(1))).toSeq
    val cases: Seq[(Int, Seq[(String, String)])] = Seq(
      16 -> Seq(("kitten", "sitting"), ("héllo", "hello"), ("a" * 40, "a"),
        ("naïve café", "naive cafe"), ("日本語", "日本"), ("", "")),
      0 -> Seq(("abc", "abc"), ("abc", "abd"), ("", ""), ("", "a"), ("é", "é")),
      1 -> Seq(("é", "e"), ("e", "é"), ("ab", "ba")),
      2 -> Seq(("é", "e"), ("", "ab"), ("", "abc"), ("abc", ""), ("ab", "ba")),
      19 -> Seq(("a" * 20, "b" * 20)),
      20 -> Seq(("a" * 20, "b" * 20), ("a" * 30, "a" * 9), ("a" * 30, "a" * 10)))
    for ((k, pairs) <- cases) {
      val want = pairs.map { case (a, b) => Some(full(a, b)).filter(_ <= k) }
      assert(dists(k, pairs) == want, s"k = $k over $pairs")
    }
    // é is TWO UTF-8 bytes: byte distance 2 where char distance is 1
    assert(dists(2, Seq(("é", "e"))) == Seq(Some(2L)))
    assert(dists(1, Seq(("é", "e"))) == Seq(None))
    // a distance of exactly k is exact; k + 1 is NULL
    assert(dists(20, Seq(("a" * 20, "b" * 20))) == Seq(Some(20L)))
    assert(dists(19, Seq(("a" * 20, "b" * 20))) == Seq(None))
    // a length gap > k is NULL, even where the gap is the whole answer
    assert(dists(20, Seq(("a" * 30, "a" * 9))) == Seq(None))
    assert(dists(0, Seq(("", ""), ("", "a"))) == Seq(Some(0L), None))
    // NULL on either side gives NULL
    val nulls = Seq[(Option[String], Option[String])](
      (None, Some("abc")), (Some("abc"), None), (None, None)).toDF("a", "b")
      .select(Text.byteEditDistance(col("a"), col("b"), 16)).collect()
    assert(nulls.forall(_.isNullAt(0)), nulls.toSeq.toString)
  }

  test("editDistancePairs: near pair exact, far candidate NULL, fromState merged == batch") {
    // docs 1/2 differ by two byte substitutions; doc 3 shares the first
    // 12 tokens (so winnowing surfaces it as a candidate) but diverges
    // into a long unique tail — the length gap alone exceeds the band
    val docs = Seq(
      (1L, "p q r s t u v w x y z0 z1 tail one cc"),
      (2L, "p q r s t u v w x y z0 z1 tail one dd"),
      (3L, "p q r s t u v w x y z0 z1 " +
        Seq.tabulate(20)(i => s"junk$i").mkString(" "))
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)))).toSet
    val batch = rows(graft.ext.Text.editDistancePairs(docs, n = 3, w = 4, maxDist = 16))
    val near = batch.find(p => p._1 == 1L && p._2 == 2L)
    assert(near.exists(_._5.contains(2L)), batch.toString) // "cc" -> "dd": 2 byte subs
    assert(batch.filter(p => p._2 == 3L).nonEmpty, batch.toString)
    assert(batch.filter(p => p._2 == 3L).forall(_._5.isEmpty), batch.toString)
    // len columns are byte lengths of the full texts
    assert(near.exists(p => p._3 == 37L && p._4 == 37L), near.toString)
    val merged = graft.ext.Text.mergeFingerprints(
      graft.ext.Text.fingerprintAdd(docs.filter(col("doc_id") % 2 === 0), 3, 4),
      graft.ext.Text.fingerprintAdd(docs.filter(col("doc_id") % 2 === 1), 3, 4))
    assert(rows(graft.ext.Text.editDistancePairsFromState(docs, merged, 16)) == batch)
  }

  test("minhashAdd/mergeMinhash: merge(add(A), add(B)) == add(A ∪ B), idempotent under overlap") {
    import graft.ext.MinHash
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"), // exact dups
      (3L, "a b c d e f g q"),                           // near dup of 1/2
      (4L, "totally different text body for the fourth document here"),
      (5L, "x y")                                        // too short: empty hashes
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("hashes"),
        array((0 until MinHash.NumHashes).map(k => col(s"sig$k")): _*).as("sig"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2))).toSet
    val whole = rows(MinHash.minhashAdd(docs, 3))
    val merged = rows(MinHash.mergeMinhash(
      MinHash.minhashAdd(docs.filter(col("doc_id") <= 2), 3),
      MinHash.minhashAdd(docs.filter(col("doc_id") > 2), 3)))
    assert(merged == whole)
    // overlap: doc 3 ingested in BOTH deltas — value-identical rows,
    // first-wins merge keeps exactly one, still == the batch state
    val overlapped = rows(MinHash.mergeMinhash(
      MinHash.minhashAdd(docs.filter(col("doc_id") <= 3), 3),
      MinHash.minhashAdd(docs.filter(col("doc_id") >= 3), 3)))
    assert(overlapped == whole)
  }

  test("nearDupPairsFromState over a merged state == batch nearDupPairs; delta pairs == delta-touching restriction") {
    import graft.ext.MinHash
    val docs = Seq(
      (1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i j"),
      (3L, "a b c d e f g h i q"), (7L, "a b c d e f g h i j"),
      (4L, "unrelated body of text with its own private tokens one"),
      (5L, "another unrelated body of text with private tokens two")
    ).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("sig_similarity"), r.getAs[Double]("jaccard"))).toSet
    val batch = pairs(MinHash.nearDupPairs(docs, 3))
    assert(batch.nonEmpty)
    val streamed = pairs(MinHash.nearDupPairsFromState(MinHash.mergeMinhash(
      MinHash.minhashAdd(docs.filter(col("doc_id") % 2 === 0), 3),
      MinHash.minhashAdd(docs.filter(col("doc_id") % 2 === 1), 3))))
    assert(streamed == batch)
    // delta = {7}: nearDupDeltaPairs must be the batch pairs touching 7
    // — including (1,7)/(2,7) where the delta doc is the GREATER id,
    // which a naive a.id < b.id delta join would drop
    val delta = pairs(MinHash.nearDupDeltaPairs(
      MinHash.minhashAdd(docs.filter(col("doc_id") =!= 7), 3),
      docs.filter(col("doc_id") === 7), 3))
    assert(delta == batch.filter(p => p._1 == 7L || p._2 == 7L))
    assert(delta.exists(p => p._2 == 7L && p._1 < 7L))
  }

  test("simhashAdd/mergeSimhash: merged sketch state == batch, pairs identical") {
    import graft.ext.MinHash
    val docs = Seq(
      (1L, "m n o p q r s t u v"), (2L, "m n o p q r s t u v"),
      (3L, "entirely different words live inside this third document")
    ).toDF("doc_id", "text")
    val batch = MinHash.simHashNearDups(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = MinHash.simHashNearDupsFromState(MinHash.mergeSimhash(
      MinHash.simhashAdd(docs.filter(col("doc_id") <= 1)),
      MinHash.simhashAdd(docs.filter(col("doc_id") >= 2)))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch && batch.contains((1L, 2L, 0L)))
  }

  test("simHashNearDupDeltaPairs == batch pairs restricted to delta-touching, both orientations") {
    import graft.ext.MinHash
    val docs = Seq(
      (1L, "m n o p q r s t u v"), (2L, "m n o p q r s t u v"),
      (7L, "m n o p q r s t u v"), // the delta doc dups both 1 and 2
      (3L, "entirely different words live inside this third document"),
      (14L, "another unrelated body with its very own private tokens")
    ).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = pairs(MinHash.simHashNearDups(docs))
    // delta = {7, 14}: (1,7)/(2,7) carry the delta doc as the GREATER
    // id — a naive a.id < b.id delta join would drop them
    val delta = pairs(MinHash.simHashNearDupDeltaPairs(
      MinHash.simhashAdd(docs.filter(col("doc_id") % 7 =!= 0)),
      docs.filter(col("doc_id") % 7 === 0)))
    assert(delta == batch.filter(p => p._1 % 7 == 0 || p._2 % 7 == 0), delta.toString)
    assert(delta.exists(p => p._2 == 7L && p._1 < 7L), delta.toString)
    assert(delta.nonEmpty)
  }
}
