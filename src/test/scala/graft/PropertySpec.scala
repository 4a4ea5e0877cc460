package graft

import java.time.LocalDate

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

import graft.functions.CreditFunctions
import graft.synth.Synth

/** Property-based specs (SURVEY.md §5): each property draws a fixed
  * seeded sample set with ScalaCheck Gen, loads it into ONE DataFrame,
  * and compares the engine's column semantics against an independent
  * Scala model row-by-row — one Spark job per property, hundreds of
  * cases. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): List[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, rng.Seed(42L)).get

  test("property: dpdBucket matches the reference CASE model on arbitrary ints") {
    def model(d: Int): String =
      if (d <= 0) "0" else if (d <= 30) "1-30" else if (d <= 60) "31-60"
      else if (d <= 90) "61-90" else "90+"
    val ds = sample(Gen.chooseNum(-1000, 10000), 500)
    val got = ds.toDF("dpd").select(col("dpd"), CreditFunctions.dpdBucket(col("dpd")))
      .as[(Int, String)].collect()
    got.foreach { case (d, b) => assert(b == model(d), s"dpd=$d") }
  }

  test("property: monthsOnBook equals java.time Period months for month-start observations") {
    // vintage always observes at month starts (date_trunc month); the
    // last-day-vs-last-day months_between special case cannot occur there
    val pairs = sample(for {
      my <- Gen.chooseNum(2015, 2026); mm <- Gen.chooseNum(1, 12)
      oy <- Gen.chooseNum(2014, 2026); om <- Gen.chooseNum(1, 12); od <- Gen.chooseNum(1, 28)
    } yield (LocalDate.of(my, mm, 1), LocalDate.of(oy, om, od)), 500)
    val df = pairs.map { case (m, o) => (m.toString, o.toString) }.toDF("m", "o")
      .select(col("m"), col("o"),
        CreditFunctions.monthsOnBook(to_date(col("m")), to_date(col("o"))).as("mob"))
    df.as[(String, String, Int)].collect().foreach { case (m, o, mob) =>
      val p = java.time.Period.between(LocalDate.parse(o), LocalDate.parse(m))
      assert(mob == p.getYears * 12 + p.getMonths, s"m=$m o=$o")
    }
  }

  test("property: add_months clamps exactly like java.time plusMonths") {
    val cases = sample(for {
      y <- Gen.chooseNum(2012, 2028); mo <- Gen.chooseNum(1, 12); d <- Gen.chooseNum(1, 31)
      n <- Gen.chooseNum(0, 84)
      date <- Gen.const(LocalDate.of(y, mo, 1).plusDays((d - 1).toLong min 27L))
    } yield (date, n), 300) ++ List(
      (LocalDate.of(2015, 1, 31), 1), (LocalDate.of(2016, 1, 31), 1), // leap Feb
      (LocalDate.of(2015, 1, 31), 13), (LocalDate.of(2015, 3, 31), 1))
    val df = cases.map { case (d, n) => (d.toString, n) }.toDF("d", "n")
      .select(col("d"), col("n"), add_months(to_date(col("d")), col("n")).cast("string").as("am"))
    df.as[(String, Int, String)].collect().foreach { case (d, n, am) =>
      assert(am == LocalDate.parse(d).plusMonths(n.toLong).toString, s"d=$d n=$n")
    }
  }

  test("property: waterfall conserves arbitrary payments and never over-allocates a class") {
    val gen = for {
      penalty <- Gen.chooseNum(0L, 5000L); fees <- Gen.chooseNum(0L, 5000L)
      interest <- Gen.chooseNum(0L, 100000L); principal <- Gen.chooseNum(0L, 500000L)
      amount <- Gen.chooseNum(0L, 650000L)
    } yield (1L, 1, penalty, fees, interest, principal, amount)
    val rows = sample(gen, 500)
    val df = rows.toDF("loan_id", "installment_no", "penalty_cents", "fee_cents",
      "interest_due_cents", "principal_due_cents", "amount_cents")
    // conservation + caps, checked on the collected rows
    Synth.waterfall(df).collect().zip(rows).foreach { case (r, (_, _, p, f, i, pr, a)) =>
      val total = r.getAs[Double]("alloc_penalty") + r.getAs[Double]("alloc_fees") +
        r.getAs[Double]("alloc_interest") + r.getAs[Double]("alloc_principal") +
        r.getAs[Double]("alloc_other")
      assert(math.abs(total - r.getAs[Double]("amount")) < 1e-9)
      assert(r.getAs[Double]("alloc_penalty") <= p / 100.0 + 1e-9)
      assert(r.getAs[Double]("alloc_fees") <= f / 100.0 + 1e-9)
      assert(r.getAs[Double]("alloc_interest") <= i / 100.0 + 1e-9)
      assert(r.getAs[Double]("alloc_principal") <= pr / 100.0 + 1e-9)
      assert(r.getAs[Double]("alloc_other") >= -1e-9)
    }
  }

  test("property: the LCG stays in [0,1) and is key/salt sensitive") {
    // full int64 key range: a billion-loan synthesis feeds keys far past
    // 2^31, which must reduce, not overflow into negative draws
    val keys = sample(Gen.oneOf(Gen.chooseNum(0L, 2000000L),
      Gen.chooseNum(0L, Long.MaxValue)), 400)
    val us = keys.toDF("k")
      .select(col("k"), Synth.Rng.u(col("k"), 7L).as("u7"), Synth.Rng.u(col("k"), 8L).as("u8"))
      .as[(Long, Double, Double)].collect()
    us.foreach { case (k, u7, u8) =>
      assert(u7 >= 0.0 && u7 < 1.0, s"k=$k")
      assert(u8 >= 0.0 && u8 < 1.0, s"k=$k")
    }
    // different salts decorrelate: the two draws disagree almost always
    assert(us.count { case (_, u7, u8) => math.abs(u7 - u8) < 1e-9 } < 5)
  }

  test("property: connectedComponents labels are edge-consistent and minimal on random graphs") {
    // edge-consistency (comp(a) == comp(b) for every edge) + label
    // minimality (comp(v) <= v, and comp(v) is itself a member labeling
    // itself) TOGETHER pin the exact min-reachable labeling — checked on
    // both the local union-find path and the distributed fixpoint
    val edges = sample(for {
      a <- Gen.chooseNum(0L, 60L); d <- Gen.chooseNum(1L, 60L)
    } yield (a, (a + d) % 61L), 150)
    val pairs = edges.toDF("doc_a", "doc_b")
    for (budget <- Seq(Long.MaxValue, 0L)) { // local path, then distributed
      val comp = graft.ext.Dedup.connectedComponents(pairs, "doc_a", "doc_b",
          maxLocalEdges = budget)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      edges.foreach { case (a, b) =>
        assert(comp(a) == comp(b), s"edge ($a,$b) split across components (budget=$budget)")
      }
      comp.foreach { case (v, c) =>
        assert(c <= v, s"label $c above vertex $v")
        assert(comp(c) == c, s"label $c is not its own component's label")
      }
    }
  }

  test("property: packSequences conserves tokens and packs monotonically per shard") {
    val docs = sample(for {
      id <- Gen.chooseNum(0L, 500L); src <- Gen.oneOf("s1", "s2", "s3")
      n <- Gen.chooseNum(1, 40)
    } yield (id, src, Seq.fill(n)("t").mkString(" ")), 200)
      .distinctBy(_._1).map { case (id, s, t) => (id, s, t) }
    val df = docs.toDF("doc_id", "source", "text")
    val got = graft.ext.Corpus.packSequences(df, capacity = 64L, shardSize = 100L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("shard"), r.getAs[Long]("token_cnt"),
        r.getAs[Long]("cum_tokens"), r.getAs[Long]("pack_id")))
    got.groupBy(r => (r._2, r._3)).foreach { case ((src, shard), rows) =>
      val ordered = rows.sortBy(_._1)
      // running sum == sum of token counts, in doc_id order
      assert(ordered.map(_._4).scanLeft(0L)(_ + _).tail.toSeq == ordered.map(_._5).toSeq,
        s"cum_tokens drifts in ($src,$shard)")
      // packs fill in order and no pack exceeds capacity by construction
      assert(ordered.map(_._6).toSeq == ordered.map(_._6).sorted.toSeq,
        s"pack_id not monotone in ($src,$shard)")
      ordered.foreach { r =>
        assert(r._6 == (r._5 - 1) / 64L, s"pack quantization broken for doc ${r._1}")
      }
    }
    // the counted seam shares packCore: feeding the whitespace counts
    // explicitly must reproduce packSequences bit-for-bit
    val counted = df.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("token_cnt"))
    val viaCounted = graft.ext.Corpus
      .packSequencesCounted(counted, capacity = 64L, shardSize = 100L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("shard"), r.getAs[Long]("token_cnt"),
        r.getAs[Long]("cum_tokens"), r.getAs[Long]("pack_id"))).toSet
    assert(viaCounted == got.toSet, "packSequencesCounted != packSequences")
  }

  test("property: mixBucket model-matches Spark and is uniform-ish over arbitrary ids") {
    // the Scala model IS the SQL oracle's arithmetic; Spark must agree on
    // any id, including negatives (sign normalization)
    def model(id: Long): Long =
      ((id % 1000003L) * 1103515245L % 1000003L % 100L + 100L) % 100L
    val ids = sample(Gen.chooseNum(Long.MinValue / 4, Long.MaxValue / 4), 500)
    val got = ids.toDF("id")
      .select(col("id"), graft.ext.Corpus.mixBucket(col("id")).as("b"))
      .as[(Long, Long)].collect()
    got.foreach { case (id, b) =>
      assert(b == model(id) && b >= 0 && b < 100, s"id=$id bucket=$b")
    }
    // crude uniformity: every decile of the bucket space is populated
    val deciles = got.map(_._2 / 10L).toSet
    assert(deciles.size == 10, s"bucket deciles hit: $deciles")
  }

  test("property: CMS point estimates dominate exact counts on random skewed multisets") {
    import org.apache.spark.sql.graft.CountMinSketch
    val keys = sample(Gen.frequency(
      (5, Gen.chooseNum(0L, 5L)),       // hot head
      (1, Gen.chooseNum(0L, 10000L))), 2000)
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val df = keys.toDF("k")
    val sk = df.agg(CountMinSketch.cms(col("k"), 3, 32)).collect().head.getSeq[Long](0)
    val est = df.distinct().collect().map(_.getLong(0)).map { k =>
      k -> (0 until 3).map(i => sk(i * 32 + CountMinSketch.cell(k, i, 32))).min
    }.toMap
    est.foreach { case (k, e) =>
      assert(e >= exact(k), s"undercount for $k: est=$e exact=${exact(k)}")
    }
    // total mass per grid row is conserved exactly
    (0 until 3).foreach { i =>
      assert((0 until 32).map(c => sk(i * 32 + c)).sum == keys.size.toLong)
    }
  }

  test("property: Profile.topValues equals a driver-side top-k on skewed data") {
    // skewed groups (one dominant key), tied counts (tiebreak via the
    // value string), a singleton group key; each group g is the column
    // s"c$g", so topValues' per-column top-k IS the per-group top-k
    val rows = sample(for {
      g <- Gen.frequency((8, Gen.const(0)), (3, Gen.chooseNum(1, 5)), (1, Gen.const(99)))
      v <- Gen.chooseNum(-100L, 100L)
    } yield (g, v), 400)
    val groups = rows.map(_._1).distinct.sorted
    val df = rows.toDF("g", "v")
      .select(groups.map(g => when(col("g") === g, col("v")).as(s"c$g")): _*)
      .repartition(11)
    for (k <- Seq(1, 3, 17)) {
      val got = graft.dq.Profile.topValues(df, groups.map(g => s"c$g"), k)
        .as[(String, String, Long)].collect().toSet
      val model = rows.groupBy(_._1).flatMap { case (g, rs) =>
        rs.groupBy(_._2.toString).map { case (v, vs) => (v, vs.size.toLong) }.toSeq
          .sortBy { case (v, n) => (-n, v) }.take(k)
          .map { case (v, n) => (s"c$g", v, n) }
      }.toSet
      assert(got == model, s"topValues k=$k diverges from the Scala top-k")
    }
  }

  test("property: Bloom filter never false-negatives and model-matches a bit-set on random configs") {
    import org.apache.spark.sql.graft.BloomFilter
    // arbitrary (numBits, numHashes) configs over arbitrary long keys,
    // negative keys included (the sign-normalized position contract)
    val configs = sample(for {
      words <- Gen.chooseNum(1, 16)
      k <- Gen.chooseNum(1, BloomFilter.HashA.length)
    } yield (words * 32, k), 8).distinct
    val keys = sample(Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2), 300)
    val probes = sample(Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2), 300)
    val df = keys.toDF("k")
    configs.foreach { case (bits, k) =>
      val words = df.agg(BloomFilter.bloom(col("k"), bits, k))
        .collect().head.getSeq[Long](0)
      // independent Scala model: set the same positions in a plain bit-set
      val model = new Array[Long](bits / 32)
      keys.foreach { x =>
        (0 until k).foreach { i =>
          val p = BloomFilter.pos(x, i, bits); model(p >> 5) |= 1L << (p & 31)
        }
      }
      assert(words == model.toSeq, s"bits=$bits k=$k")
      def contains(x: Long): Boolean =
        (0 until k).forall { i =>
          val p = BloomFilter.pos(x, i, bits); (model(p >> 5) >> (p & 31) & 1L) == 1L
        }
      val got = probes.toDF("k").join(broadcast(df.agg(
          BloomFilter.bloom(col("k"), bits, k).as("bf"))))
        .select(col("k"), BloomFilter.mightContain(col("bf"), col("k"), bits, k))
        .as[(Long, Boolean)].collect().toMap
      probes.foreach(x => assert(got(x) == contains(x), s"probe $x bits=$bits k=$k"))
      keys.foreach { x =>
        assert(contains(x), s"false negative $x bits=$bits k=$k")
      }
    }
  }

  test("property: invertedIndex and bpePairCounts match independent Scala models on random corpora") {
    val textGen = Gen.listOfN(5, Gen.oneOf("aa", "ab", "abc", "b", "ccc", "dd"))
      .map(_.mkString(" "))
    val texts = sample(textGen, 60)
    val corpus = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = corpus.toDF("doc_id", "text")
    // inverted index vs a plain-Scala model (cap 3)
    val gotIdx = graft.ext.Text.invertedIndex(df, maxPostings = 3).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val modelIdx = corpus
      .flatMap { case (id, t) => t.split(" ").filter(_.nonEmpty).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (term, hits) =>
        val ids = hits.map(_._2).sorted
        term -> ((ids.length.toLong, ids.take(3).mkString(",")))
      }
    assert(gotIdx == modelIdx)
    // bpe pair counts vs a plain-Scala model (k large enough for all pairs)
    val gotBpe = graft.ext.Text.bpePairCounts(df, k = 1000)
      .as[(String, Long)].collect().toMap
    val wf = corpus.flatMap(_._2.split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    val modelBpe = wf.toSeq
      .flatMap { case (w, f) => w.sliding(2).filter(_.length == 2).map(_ -> f) }
      .groupBy(_._1).map { case (p, g) => p -> g.map(_._2).sum }
    assert(gotBpe == modelBpe)
  }

  test("property: byte-level BPE round-trips arbitrary unicode text (no unknowns by construction)") {
    import graft.ext.Text
    // the GPT-2 byte<->codepoint closed form is a bijection on all 256 bytes
    val cps = (0 until 256).map(Text.byteToCodepoint)
    assert(cps.distinct.length == 256, "byte map not injective")
    (0 until 256).foreach(b =>
      assert(Text.codepointToByte(Text.byteToCodepoint(b)) == b, s"byte $b"))
    // arbitrary words: ASCII, 2-byte (é ß), 3-byte (中), 4-byte (🎉 —
    // surrogate pair), control bytes, and the lone 0xAD special case
    val wordGen = Gen.listOfN(6, Gen.frequency(
      5 -> Gen.alphaNumChar.map(_.toString),
      3 -> Gen.oneOf("é", "ü", "ø", "ß", "λ", "中", "🎉", "", "­"),
      1 -> Gen.choose(0x21, 0x7e).map(_.toChar.toString))).map(_.mkString)
    val words = sample(wordGen, 40).filter(_.nonEmpty).distinct
    // the string-level map inverts on the UTF-8 bytes of ANY string
    words.foreach(w =>
      assert(Text.byteUnmapStr(Text.byteMapStr(w)) == w, s"map round trip: $w"))
    val corpus = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val table = Text.byteBpeTrainMerges(corpus, rounds = 2, batch = 4)
      .localCheckpoint(true)
    def roundTrip(docs: Seq[(Long, String)]): Unit = {
      val toks = Text.byteBpeTokenize(table, docs.toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      docs.foreach { case (id, w) =>
        val ids = toks(id).split(",").map(_.toLong).toSeq
        assert(Text.byteBpeDecodeIds(table, ids) == w,
          s"decode(encode('$w')) failed")
      }
    }
    roundTrip(words.zipWithIndex.map { case (w, i) => (i.toLong, w) })
    // the no-unknown guarantee: a DISJOINT corpus tokenizes under the
    // same table (every word decomposes to the 256-byte base alphabet)
    val unseen = sample(wordGen, 20).filter(_.nonEmpty).map("zq" + _).distinct
    roundTrip(unseen.zipWithIndex.map { case (w, i) => (1000L + i, w) })
  }

  test("property: wordpieceTrainMerges matches an independent scored-trainer model on random corpora") {
    // independent full-trainer model: per-word symbol lists, adjacent
    // pair counts + symbol counts (freq-weighted), argmax by
    // (score DESC, l, r) with score = the SAME IEEE double ops Spark
    // runs (long→double casts, one multiply, one divide — correctly
    // rounded, so bit comparison is legitimate), then the leftmost
    // non-overlapping fuse — three rounds deep, early stop included
    def applyMerge(syms: List[String], l: String, r: String): List[String] =
      syms match {
        case a :: b :: rest if a == l && b == r =>
          (a + b) :: applyMerge(rest, l, r)
        case a :: rest => a :: applyMerge(rest, l, r)
        case Nil => Nil
      }
    def model(wf: Map[String, Long], merges: Int)
        : List[(Int, String, String, Long, Double)] = {
      var reprs: Map[String, List[String]] =
        wf.map { case (w, _) => w -> w.split("").filter(_.nonEmpty).toList }
      val out = scala.collection.mutable.ListBuffer
        .empty[(Int, String, String, Long, Double)]
      var round = 1
      var done = false
      while (round <= merges && !done) {
        val pairs = reprs.toSeq.flatMap { case (w, syms) =>
          syms.zip(syms.drop(1)).map(p => p -> wf(w)) }
          .groupBy(_._1).map { case (p, g) => p -> g.map(_._2).sum }
        if (pairs.isEmpty) done = true
        else {
          val syms = reprs.toSeq.flatMap { case (w, ss) => ss.map(_ -> wf(w)) }
            .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).sum }
          val scored = pairs.toSeq.map { case ((l, r), c) =>
            (l, r, c, c.toDouble / (syms(l).toDouble * syms(r).toDouble)) }
          val (l, r, c, sc) = scored.minBy { case (l, r, _, s) => (-s, l, r) }
          out += ((round, l, r, c, sc))
          reprs = reprs.map { case (w, ss) => w -> applyMerge(ss, l, r) }
          round += 1
        }
      }
      out.toList
    }
    val textGen = Gen.listOfN(4,
      Gen.oneOf("aa", "ab", "abc", "b", "ccc", "dd", "cd", "abd", "dab"))
      .map(_.mkString(" "))
    // 10 independent random corpora, each trained 3 rounds deep
    sample(textGen, 250).grouped(25).zipWithIndex.foreach { case (texts, trial) =>
      val corpus = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val wf = corpus.flatMap(_._2.split(" ").filter(_.nonEmpty))
        .groupBy(identity).map { case (w, g) => w -> g.length.toLong }
      val got = graft.ext.Text.wordpieceTrainMerges(corpus.toDF("doc_id", "text"),
        merges = 3).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4),
          r.getDouble(5))).toList
      assert(got == model(wf, 3), s"trial $trial: $got vs ${model(wf, 3)}")
    }
  }

  test("property: PNG decode inverts encode on arbitrary dims (1x1 up, all filter mixes)") {
    import graft.ext.Multimodal
    // w=1 exercises the no-left-neighbor edge of Sub/Average/Paeth on
    // every pixel; h<5 exercises partial filter coverage; larger dims
    // cross several deflate block boundaries
    val dims = sample(for {
      w <- Gen.chooseNum(1, 20); h <- Gen.chooseNum(1, 20)
    } yield (w, h), 40) ++ List((1, 1), (1, 8), (20, 1))
    dims.zipWithIndex.foreach { case ((w, h), i) =>
      val id = 1000L + i // includes id % 3 == 0 -> the multi-IDAT split
      val d = Multimodal.decodePngBytes(id, Multimodal.pngBytes(id, w, h))
      val expected = (0L until w.toLong * h * 3).map(j => (id + j) % 256).sum
      assert((d.width, d.height, d.pixel_sum) == ((w, h, expected)),
        s"id=$id ${w}x$h -> $d")
    }
  }

  test("property: LZW decode inverts encode on random streams, incl. dictionary reset and KwKwK") {
    import graft.ext.Multimodal
    // KwKwK smallest case: run of identical symbols makes the decoder
    // read a code equal to its next free slot
    assert(Multimodal.lzwDecompress(0L,
      Multimodal.lzwCompress(Array(0, 0, 0), 2), 2, 3).toSeq == Seq(0, 0, 0))
    // random streams over several alphabet sizes; the 9000-symbol
    // minCode=2 cases fill the 4096-entry dictionary and force the
    // mid-stream CLEAR/reset path (asserted below, not assumed)
    for (minCode <- Seq(2, 4, 8); trial <- 0 until 3) {
      val n = if (minCode == 2) 40000 else 3000
      val px = sample(Gen.chooseNum(0, (1 << minCode) - 1),
        n).toArray
      val packed = Multimodal.lzwCompress(px, minCode)
      assert(Multimodal.lzwDecompress(1L, packed, minCode, px.length).toSeq
        == px.toSeq, s"minCode=$minCode trial=$trial round-trip failed")
    }
    // prove the reset path actually ran (not just assume) — verify
    // directly by counting emitted CLEAR codes in the packed stream
    val px = sample(Gen.chooseNum(0, 3), 40000).toArray
    val clear = 4
    // decode while counting CLEAR codes via a tiny instrumented reader
    var (bitBuf, bitCnt, pos, width, free, clears) = (0L, 0, 0, 3, 6, 0)
    val data = Multimodal.lzwCompress(px, 2)
    var done = false
    var prev = -1
    while (!done) {
      while (bitCnt < width) { bitBuf |= (data(pos) & 0xffL) << bitCnt; bitCnt += 8; pos += 1 }
      val c = (bitBuf & ((1L << width) - 1)).toInt; bitBuf >>>= width; bitCnt -= width
      if (c == clear) { clears += 1; width = 3; free = 6; prev = -1 }
      else if (c == clear + 1) done = true
      else {
        if (prev >= 0 && free < 4096) { free += 1; if (free == (1 << width) && width < 12) width += 1 }
        prev = c
      }
    }
    assert(clears >= 2, s"expected a mid-stream dictionary reset, saw $clears clear(s)")
  }

  test("property: PPM/BMP decode inverts encode on arbitrary dims (all padding widths)") {
    import graft.ext.Multimodal
    // w mod 4 ∈ {0..3} exercises every BMP row-padding width; ids beyond
    // 2^32 exercise the (id + i) % 256 byte arithmetic on large longs
    val cases = sample(for {
      id <- Gen.chooseNum(0L, 1L << 40)
      w <- Gen.chooseNum(1, 50)
      h <- Gen.chooseNum(1, 40)
      ppm <- Gen.oneOf(true, false)
    } yield (id, w, h, ppm), 200)
    val enc = cases.zipWithIndex.map { case ((id, w, h, ppm), i) =>
      // index as doc_id so duplicate random ids can't collide in the map
      Multimodal.EncodedMedia(i.toLong, if (ppm) "ppm" else "bmp",
        if (ppm) Multimodal.ppmBytes(id, w, h) else Multimodal.bmpBytes(id, w, h))
    }
    val dec = Multimodal.decodeMedia(enc.toDS()).collect().map(d => d.doc_id -> d).toMap
    cases.zipWithIndex.foreach { case ((id, w, h, ppm), i) =>
      val d = dec(i.toLong)
      assert(d.fmt == (if (ppm) "ppm" else "bmp") && d.width == w && d.height == h
        && d.channels == 3 && d.pixel_bytes == w.toLong * h * 3,
        s"case id=$id w=$w h=$h ppm=$ppm got $d")
      val expSum = (0L until w.toLong * h * 3).map(j => (id + j) % 256).sum
      assert(d.pixel_sum == expSum, s"pixel_sum id=$id w=$w h=$h ppm=$ppm")
    }
  }

  test("property: KMeansProbe/KMeansArgmin return the (score, cell)-smallest cells in rank order") {
    import org.apache.spark.sql.graft.KMeansCells
    // The probe expression underpins BOTH trained-IVF search and
    // cluster-routed decontamination: codegen and interpreted paths must
    // agree with an independent model of "rank cells by (score asc,
    // cell asc), take nProbe" over arbitrary exact centroid state.
    val d = 6
    val gen = for {
      k <- Gen.chooseNum(2, 9)
      nProbe <- Gen.chooseNum(1, 9).map(p => math.min(p, k))
      ns <- Gen.listOfN(k, Gen.chooseNum(1L, 50L))
      sums <- Gen.listOfN(k, Gen.listOfN(d, Gen.chooseNum(-6000L, 6000L)))
      qs <- Gen.listOfN(6, Gen.listOfN(d, Gen.chooseNum(-127L, 127L)))
    } yield (k, nProbe, ns, sums, qs)
    val sets = sample(gen, 25)
    Seq("CODEGEN_ONLY", "NO_CODEGEN").foreach { mode =>
      val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try sets.zipWithIndex.foreach { case ((k, nProbe, ns, sums, qs), setIdx) =>
        val state = (0 until k).map { c =>
          val s = sums(c)
          val nsq = s.foldLeft(0L)((a, x) => a + x * x)
          (c, ns(c).toDouble, nsq.toDouble / (ns(c) * ns(c)).toDouble,
            s: Seq[Long])
        }
        val df = qs.zipWithIndex.map { case (q, i) => (i.toLong, q.toArray) }
          .toDF("vec_id", "q")
        val got = df.select(col("vec_id"),
            KMeansCells.probe(col("q"), state, nProbe).as("cells"),
            KMeansCells.argmin(col("q"), state).as("cell"))
          .collect()
          .map(r => r.getLong(0) -> ((r.getSeq[Int](1).toList, r.getInt(2)))).toMap
        qs.zipWithIndex.foreach { case (q, i) =>
          val scored = (0 until k).map { c =>
            val dot = q.zip(sums(c)).map { case (a, b) => a * b }.sum
            (dot.toDouble * -2.0 / ns(c).toDouble + state(c)._3, c)
          }
          val exp = scored.sorted.take(nProbe).map(_._2).toList
          val (gotCells, gotArg) = got(i.toLong)
          assert(gotCells == exp, s"[$mode] probe diverges on set $setIdx vec $i")
          assert(gotArg == scored.min._2, s"[$mode] argmin diverges on set $setIdx vec $i")
        }
      } finally prev.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
    }
  }

  test("property: pageRank matches an independent exact-integer model on random graphs") {
    // The distributed damped iteration and a single-threaded model must
    // agree BIT-FOR-BIT on arbitrary multigraphs (duplicate edges and
    // self-loops included — outdeg counts edge ROWS, each row carries
    // its own contribution): exact int64 rank units are the whole
    // design (Graph.scala scaladoc). 3 rounds, default mass.
    val mass = 1000000000000L
    val iters = 3
    def model(edges: List[(String, String)]): Map[String, Long] = {
      val verts = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val init = mass / verts.size
      val base = 15L * init / 100L
      val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
      var r = verts.map(_ -> init).toMap
      (1 to iters).foreach { _ =>
        val in = edges.groupBy(_._2).map { case (dst, es) =>
          dst -> es.map { case (src, _) => r(src) / outdeg(src) }.sum
        }
        r = verts.map(v => v -> (base + 85L * in.getOrElse(v, 0L) / 100L)).toMap
      }
      r
    }
    val vGen = Gen.chooseNum(0, 9).map(i => s"v$i")
    val graphs = sample(Gen.nonEmptyListOf(Gen.zip(vGen, vGen)), 25)
    graphs.zipWithIndex.foreach { case (edges, gi) =>
      val got = graft.ext.Graph.pageRank(edges.toDF("src", "dst"), iters)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == model(edges), s"ranks diverge on graph $gi (${edges.size} edges)")
    }
  }

  test("property: pageRankConverged + dangling redistribution match an independent model") {
    // One single-threaded model covers BOTH new options: per round,
    // dangling mass (vertices with no out-edge row) is optionally
    // shared back as the floor `dsum / V` inside the damped term, and
    // the loop stops at the first round whose max |Δrank| is at most
    // (init·epsPct)/100, else at maxIters. Random multigraphs are
    // heavy in dangling vertices by construction (dst-only ids).
    val mass = 1000000000000L
    def model(edges: List[(String, String)], maxIters: Int, epsPct: Long,
        redistribute: Boolean): (Map[String, Long], Int) = {
      val verts = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val init = mass / verts.size
      val base = 15L * init / 100L
      val eps = init * epsPct / 100L
      val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
      var r = verts.map(_ -> init).toMap
      var round = 0
      var converged = false
      while (round < maxIters && !converged) {
        val in = edges.groupBy(_._2).map { case (dst, es) =>
          dst -> es.map { case (src, _) => r(src) / outdeg(src) }.sum
        }
        val share =
          if (redistribute)
            verts.filterNot(outdeg.contains).map(r).sum / verts.size
          else 0L
        val next = verts.map(v =>
          v -> (base + 85L * (in.getOrElse(v, 0L) + share) / 100L)).toMap
        val delta = verts.map(v => math.abs(next(v) - r(v))).max
        r = next
        round += 1
        converged = delta <= eps
      }
      (r, round)
    }
    val vGen = Gen.chooseNum(0, 9).map(i => s"v$i")
    val cases = sample(Gen.zip(
      Gen.nonEmptyListOf(Gen.zip(vGen, vGen)),
      Gen.chooseNum(1, 6), Gen.chooseNum(1L, 400L), Gen.oneOf(true, false)), 20)
    cases.zipWithIndex.foreach { case ((edges, maxIters, epsPct, redis), gi) =>
      val (exp, _) = model(edges, maxIters, epsPct, redis)
      val got = graft.ext.Graph.pageRankConverged(edges.toDF("src", "dst"),
          maxIters, epsPct, mass, redis)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == exp,
        s"converged ranks diverge on case $gi (${edges.size} edges, " +
          s"maxIters=$maxIters epsPct=$epsPct redistribute=$redis)")
      // fixed-iteration pageRank with redistribution must equal the
      // model run with convergence disabled (epsPct tiny, same rounds)
      val (expFixed, _) = model(edges, 2, 1L, redistribute = true)
      val gotFixed = graft.ext.Graph.pageRank(edges.toDF("src", "dst"),
          iters = 2, mass, redistributeDangling = true)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(gotFixed == expFixed, s"fixed-iter redistribution diverges on case $gi")
    }
  }

  test("property: duplicateSpans matches a brute-force span model on random corpora") {
    // Model works on token-TRIPLE identity; the engine works on triple
    // HASHES — agreement also certifies that no hash collision corrupts
    // spans on these samples (seeded, so stable). n=3, minOccurrences=2.
    def model(docs: List[(Long, List[String])]): Set[(Long, Long, Long, Long, Long)] = {
      val triples = docs.flatMap { case (id, ts) =>
        ts.sliding(3).filter(_.size == 3).zipWithIndex
          .map { case (tr, i) => (id, i + 1, tr) }
      }
      val dupTriples = triples.groupBy(_._3).filter(_._2.size >= 2).keySet
      val dupPos = triples.filter(t => dupTriples(t._3))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      dupPos.flatMap { case (id, ps) =>
        // gap grouping: consecutive positions merge
        val islands = ps.foldLeft(List.empty[List[Int]]) {
          case (acc, p) if acc.nonEmpty && acc.head.head == p - 1 =>
            (p :: acc.head) :: acc.tail
          case (acc, p) => List(p) :: acc
        }
        islands.map { isl =>
          val s = isl.min; val e = isl.max + 2
          (id, s.toLong, e.toLong, (e - s + 1).toLong, isl.size.toLong)
        }
      }.toSet
    }
    val tok = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val docGen = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, tok))
    val corpora = sample(Gen.listOfN(6, docGen), 25)
    corpora.zipWithIndex.foreach { case (texts, ci) =>
      val docs = texts.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      val df = docs.map { case (id, ts) => (id, ts.mkString(" ")) }.toDF("doc_id", "text")
      val got = graft.ext.Text.duplicateSpans(df, n = 3, minOccurrences = 2L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      // empty texts tokenize to [""] — a 1-token doc, no triples; the
      // model's sliding(3) on <3 tokens likewise yields nothing
      val exp = model(docs.map { case (id, ts) =>
        (id, if (ts.isEmpty) List("") else ts) })
      assert(got == exp, s"spans diverge on corpus $ci: got $got, want $exp")
    }
  }

  test("property: kmeans matches an independent Scala Lloyd model exactly") {
    import graft.ext.Cluster
    // The distributed run and a single-threaded model must agree
    // BIT-FOR-BIT: quantization, seeding, every assignment round, every
    // centroid sum/count, and the final IEEE means — that exactness is
    // the whole design (Cluster.scala scaladoc). d=5, k=3, 3 rounds.
    // Both seedings are modeled: the maximin default and the first-k
    // baseline that ClusterSpec's SSE gate measures against.
    val d = 5; val k = 3; val iters = 3
    def model(rows: List[(Long, Array[Float])], maximin: Boolean)
        : (Map[Long, Int], Map[(Int, Int), (Long, Long, Double)]) = {
      val maxabs = rows.flatMap(_._2.map(x => math.abs(x.toDouble))).max
      val scale = maxabs / 127.0
      val q = rows.sortBy(_._1).map { case (id, e) =>
        id -> e.map(x => math.floor(x.toDouble / scale + 0.5).toLong)
      }
      // independent maximin re-derivation: greedy farthest-point over
      // the lowest-id pool (12 < SeedPool, so the pool is the whole
      // set): seed 0 = lowest id, then argmax of min dist² to the
      // chosen set, ties to the lowest id — exact integer distances
      def d2(a: Array[Long], b: Array[Long]): Long =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      def maximinSeeds: List[(Long, Array[Long])] = {
        var chosen = List(q.head)
        var rest = q.tail.map { case (id, qv) => (id, qv, d2(qv, q.head._2)) }
        while (chosen.size < k && rest.nonEmpty) {
          val pick = rest.minBy { case (id, _, md) => (-md, id) }
          chosen = chosen :+ ((pick._1, pick._2))
          rest = rest.filter(_._1 != pick._1)
            .map { case (id, qv, md) => (id, qv, math.min(md, d2(qv, pick._2))) }
        }
        chosen
      }
      var cens: Seq[(Int, Long, Array[Long])] =
        (if (maximin) maximinSeeds else q.take(k))
          .zipWithIndex.map { case ((_, qv), i) => (i, 1L, qv) }
      def assign(): Map[Long, Int] = q.map { case (id, qv) =>
        val scored = cens.map { case (c, n, s) =>
          val dot = qv.zip(s).map { case (a, b) => a * b }.sum
          val nsq = s.foldLeft(0L)((a, x) => a + x * x)
          (dot.toDouble * -2.0 / n.toDouble + nsq.toDouble / (n * n).toDouble, c)
        }
        id -> scored.min._2 // (score, cell): ties take the lowest cell
      }.toMap
      def update(a: Map[Long, Int]): Unit = {
        val by = q.groupBy { case (id, _) => a(id) }
        cens = cens.map { case prev @ (c, _, _) =>
          by.get(c).fold(prev) { members =>
            (c, members.size.toLong,
              members.map(_._2).transpose.map(_.sum).toArray)
          }
        }
      }
      var asg = assign()
      (2 to iters).foreach { _ => update(asg); asg = assign() }
      val cenRows = q.groupBy { case (id, _) => asg(id) }.flatMap { case (c, members) =>
        val n = members.size.toLong
        val s = members.map(_._2).transpose.map(_.sum)
        s.zipWithIndex.map { case (si, i) =>
          (c, i + 1) -> ((si, n, si.toDouble / n.toDouble)) }
      }
      (asg, cenRows)
    }
    val sets = sample(Gen.listOfN(12,
      Gen.listOfN(d, Gen.chooseNum(-500, 500).map(_ / 250.0f))), 25)
    sets.zipWithIndex.foreach { case (vecs0, setIdx) =>
      // guarantee a nonzero grid (the all-zero case is covered in ClusterSpec)
      val vecs = vecs0.zipWithIndex.map { case (v, i) =>
        val arr = v.toArray
        if (i == 0 && arr.forall(_ == 0.0f)) arr(0) = 1.0f
        (i.toLong, arr)
      }
      val df = vecs.toDF("vec_id", "embedding")
      val gotAsg = Cluster.kmeansAssign(df, k, iters)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val gotCen = Cluster.kmeansCentroids(df, k, iters)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          ((r.getLong(2), r.getLong(3), r.getDouble(4))))
        .toMap
      val (expAsg, expCen) = model(vecs, maximin = true)
      assert(gotAsg == expAsg, s"assignments diverge on set $setIdx")
      assert(gotCen == expCen, s"centroids diverge on set $setIdx")
      // the first-k baseline seeding must replay bit-for-bit too
      val gotFirstK = Cluster.kmeansAssignFirstKSeeds(df, k, iters)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val (expFirstK, _) = model(vecs, maximin = false)
      assert(gotFirstK == expFirstK, s"first-k assignments diverge on set $setIdx")
    }
  }

  test("property: datasetMixTemperature band cutoff == rank model (negative ids, boundary k, one-band source)") {
    // independent model of the rank-window spelling: per source, order
    // by (pmod(hashOrder(id), P), id) and take the sqrt-share k — the
    // band-histogram cutoff must select the identical set, including
    // for negative ids (the r14 pmod fold), a k landing exactly on a
    // band boundary, and a source living entirely inside ONE band
    val P = 1000003L
    def h(id: Long): Long = { val x = (id % P) * 2654435761L % P; ((x % P) + P) % P }
    def model(docs: Seq[(Long, String)], target: Long): Set[(Long, String)] = {
      val bySrc = docs.groupBy(_._2)
      val counts = bySrc.view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
      val total = counts.foldLeft(0.0)((a, c) => a + math.sqrt(c._2.toDouble))
      counts.flatMap { case (s, n) =>
        val k = math.min(n, math.floor(math.sqrt(n.toDouble) / total * target).toLong)
        bySrc(s).sortBy { case (id, _) => (h(id), id) }.take(k.toInt)
      }.toSet
    }
    def check(docs: Seq[(Long, String)], target: Long, tag: String): Unit = {
      val got = graft.ext.Corpus.datasetMixTemperature(
        docs.toDF("doc_id", "source"), target)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == model(docs, target), s"$tag: band cutoff != rank model " +
        s"(got ${got.size}, want ${model(docs, target).size})")
    }
    // random skewed corpora with ids across the full signed range
    val cases = sample(for {
      nSrc <- Gen.chooseNum(1, 4)
      sizes <- Gen.listOfN(nSrc, Gen.chooseNum(1, 120))
      seed <- Gen.chooseNum(Long.MinValue / 4, Long.MaxValue / 4)
    } yield (sizes, seed), 8)
    cases.zipWithIndex.foreach { case ((sizes, seed), ci) =>
      val docs = sizes.zipWithIndex.flatMap { case (n, si) =>
        // deterministic spread incl. NEGATIVE ids (odd slots negated)
        (0 until n).map { j =>
          val raw = seed + si * 7919L + j * 104729L
          (if (j % 2 == 1) -math.abs(raw) else math.abs(raw), s"src$si")
        }
      }.distinctBy(_._1)
      val target = math.max(1L, docs.size.toLong / 3L)
      check(docs, target, s"random case $ci")
    }
    // engineered band placement: id = h·A⁻¹ mod P lands hash h exactly
    val invA = BigInt(2654435761L).modInverse(BigInt(P)).toLong
    def idAt(hv: Long): Long = hv * invA % P
    // (a) one-band source: 30 docs all hashing into band 0 (h in 0..29),
    // half shifted by -P (negative ids, same residue) — the threshold
    // band IS the whole source; k=10 trims inside it
    val oneBand = (0L until 30L).map(j =>
      (if (j % 2 == 1) idAt(j) - P else idAt(j), "solo"))
    check(oneBand, 10L, "one-band source")
    // (b) k exactly on a band boundary: 7 docs in band 0, 7 in band 1,
    // single source → k = target = 7 = |band 0| (remainder consumes the
    // full threshold band, prefix empty)
    val boundary = (0L until 7L).map(j => (idAt(j), "b")) ++
      (0L until 7L).map(j => (idAt(977L + j), "b"))
    check(boundary, 7L, "boundary k")
    // (c) mixed: the engineered sources together with a random one
    check(oneBand ++ boundary.map { case (id, _) => (id + P, "b") } ++
      (0 until 50).map(j => (1000000000L + j * 37L, "c")), 25L, "mixed")
  }

  test("unigram-LM invariants: segs concatenate to terms; counts conserve; encode compresses") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    val segs = graft.ext.Text.unigramSegments(docs, vocabMulti = 24, rounds = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(segs.nonEmpty)
    // (1) every segmentation concatenates back to its term, piece count matches
    segs.foreach { case (term, _, np, seg) =>
      val ps = seg.split('|')
      assert(ps.mkString("") == term, s"'$seg' does not rebuild '$term'")
      assert(ps.length.toLong == np)
    }
    // (2) count conservation: final table totals == freq-weighted usage
    val train = graft.ext.Text.unigramTrain(docs, vocabMulti = 24, rounds = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val usage = segs.flatMap { case (_, f, _, seg) => seg.split('|').map(_ -> f) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(train == usage, "final counts != freq-weighted piece usage")
    // (3) pruning: every counted piece is used, none counts zero
    assert(train.values.forall(_ > 0))
    // (4) the model never expands a doc beyond its character baseline
    val enc = graft.ext.Text.unigramEncode(docs, vocabMulti = 24, rounds = 2)
      .collect()
    assert(enc.nonEmpty)
    enc.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2),
        s"doc ${r.getLong(0)}: unigram tokens exceed the char baseline") }
  }

  test("property: States.deltas partitions any key column exactly, nulls into the last delta") {
    import graft.operators.States
    val keys: Seq[Option[Long]] = sample(Gen.oneOf(Gen.chooseNum(-50L, 50L),
      Gen.oneOf(0L, Long.MaxValue, Long.MinValue, -1L)).map(Option(_)), 60) ++
      Seq(None, None, Some(0L), Some(-3L))
    val df = keys.zipWithIndex.map { case (k, i) => (i, k) }.toDF("row", "k")
    for (n <- 1 to 5) {
      val ds = States.deltas(df, "k", n)
      assert(ds.size == n)
      val got = ds.zipWithIndex.flatMap { case (d, i) =>
        d.collect().map(r => r.getInt(0) -> i) }
      assert(got.map(_._1).sorted == keys.indices, s"n=$n: rows lost or repeated")
      got.foreach { case (row, i) =>
        val want = keys(row).fold(n - 1)(k => Math.floorMod(k, n.toLong).toInt)
        assert(i == want, s"n=$n: key ${keys(row)} in delta $i, want $want")
      }
    }
    // the `% n === i` spelling the deltas replace loses the null and
    // negative keys
    assert((0 until 3).map(i => df.filter(col("k") % 3 === i).count()).sum < keys.size)
    // typed: the deltas of a Dataset keep its element type
    val media = graft.ext.Multimodal.encodeAudioTones(spark.range(7L).toDF("doc_id"))
    val parts: Seq[org.apache.spark.sql.Dataset[graft.ext.Multimodal.EncodedMedia]] =
      States.deltas(media, "doc_id", 3)
    assert(parts.flatMap(_.collect().map(_.doc_id)).sorted == (0L until 7L))
  }

  test("property: every add/merge family merges random doc-disjoint deltas to add(whole)") {
    import org.apache.spark.sql.{DataFrame, Dataset}
    import graft.ext.{Cluster, Corpus, MinHash, Multimodal, Sim, Text, Web}
    import graft.operators.Hll

    // a random corpus over a small vocabulary, so every state key recurs
    // across documents and a merge has something to fold
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docs = sample(for {
      n <- Gen.chooseNum(0, 16); ws <- Gen.listOfN(n, Gen.oneOf(words))
      lang <- Gen.oneOf("en", "de", "fr"); src <- Gen.oneOf("s1", "s2")
      nChars <- Gen.chooseNum(0L, 600L)
    } yield (lang, src, nChars, ws.mkString(" ")), 36).zipWithIndex.map {
      case ((l, s, c, t), i) => (i.toLong * 5L + 2L, l, s, c, t)
    }.toDF("doc_id", "lang", "source", "n_chars", "text")
    val events = sample(for {
      typ <- Gen.oneOf("click", "view", "buy"); day <- Gen.chooseNum(0L, 3L)
      user <- Gen.chooseNum(0L, 40L)
    } yield (typ, day * 86400000000000L + user * 1000L, user), 150).zipWithIndex.map {
      case ((t, ts, u), i) => (i.toLong, t, ts, u)
    }.toDF("event_id", "event_type", "ts", "user_id")
    val emb = spark.range(60L).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 8), i -> " +
        "CAST(pmod(id * 2654435761 + i * 40503, 1000003) / 1000003.0 - 0.5 AS FLOAT))")
        .as("embedding"))
    val cen = Cluster.kmeansCentroids(emb, k = 4, iters = 2)
    val scale = Cluster.sampledGridScale(emb, 1).get
    val w = Text.hashWeights(docs)
    val png = Multimodal.encodePng(docs)
    val audio = Multimodal.encodeAudioTones(docs)

    // one family per add/merge pair; `idempotent` marks the max and
    // first-wins merges, which must absorb a delta ingested twice
    case class Family[T](name: String, input: Dataset[T], key: String)(
        val add: Dataset[T] => DataFrame, val merge: Seq[DataFrame] => DataFrame,
        val idempotent: Boolean = false)
    val families: Seq[Family[_]] = Seq(
      Family("postings", docs, "doc_id")(Text.postingsAdd, Text.mergePostings(_: _*)),
      Family("shingleCounts", docs, "doc_id")(
        Text.shingleCountAdd(_, 2), Text.mergeShingleCounts(_: _*)),
      Family("shingleFirsts", docs, "doc_id")(
        Text.shingleFirstAdd(_, 2), Text.mergeShingleFirsts(_: _*)),
      Family("wordFreqs", docs, "doc_id")(Text.wordFreqAdd, Text.mergeWordFreqs(_: _*)),
      Family("margins", docs, "doc_id")(Text.marginAdd(_, w), Text.mergeMargins(_: _*)),
      Family("trigrams", docs, "doc_id")(Text.trigramAdd, Text.mergeTrigrams(_: _*)),
      Family("fingerprints", docs, "doc_id")(
        Text.fingerprintAdd(_, 2, 2), Text.mergeFingerprints(_: _*), idempotent = true),
      Family("chunkCounts", docs, "doc_id")(
        Text.cdcChunkAdd(_, 2, 4L), Text.mergeChunkCounts(_: _*)),
      Family("ngrams", docs, "doc_id")(Text.ngramAdd, Text.mergeNgrams(_: _*)),
      Family("trigramLm", docs, "doc_id")(Text.trigramLmAdd, Text.mergeTrigramLm(_: _*)),
      Family("minhash", docs, "doc_id")(
        MinHash.minhashAdd(_, 2), MinHash.mergeMinhash(_: _*), idempotent = true),
      Family("simhash", docs, "doc_id")(
        MinHash.simhashAdd, MinHash.mergeSimhash(_: _*), idempotent = true),
      Family("urlStates", docs, "doc_id")(
        d => Web.urlDedupAdd(Web.urlTable(d)), Web.mergeUrlStates(_: _*)),
      Family("driftStates", docs, "doc_id")(Corpus.driftAdd, Corpus.mergeDriftStates(_: _*)),
      Family("phash", png, "doc_id")(
        Multimodal.phashAdd, Multimodal.mergePhash(_: _*), idempotent = true),
      Family("audioSketch", audio, "doc_id")(
        Multimodal.audioSketchAdd, Multimodal.mergeAudioSketch(_: _*), idempotent = true),
      Family("hll", events, "event_id")(
        Hll.hllAdd(_, "user_id"), Hll.mergeHll(_: _*), idempotent = true),
      Family("hllBy", events, "event_id")(
        Hll.hllAddBy(_, "event_type", "user_id"), Hll.mergeHllBy(_: _*), idempotent = true),
      Family("hllDaily", events, "event_id")(
        graft.dq.Profile.hllDailyAdd(_, "event_type", "ts", "user_id"),
        Hll.mergeHllBy(_: _*), idempotent = true),
      Family("occupancy", emb, "vec_id")(
        Cluster.indexAdd(_, cen, scale), Cluster.mergeOccupancy(_: _*)),
      Family("ivfIndex", emb, "vec_id")(
        Sim.ivfIndexAdd(_, cen, scale), Sim.mergeIvfIndex(_: _*), idempotent = true))

    def check[T](f: Family[T], rnd: scala.util.Random): Unit = {
      val whole = f.add(f.input)
      def rows(df: DataFrame) =
        df.select(whole.columns.map(col): _*).collect().map(_.toString).sorted.toSeq
      val want = rows(whole)
      assert(want.nonEmpty, s"${f.name}: empty state, nothing to check")
      val keys = f.input.select(col(f.key)).collect().map(_.getLong(0)).distinct
      // every key into one of 1-5 deltas at random; a delta may be empty
      val n = 1 + rnd.nextInt(5)
      val byDelta = keys.groupBy(_ => rnd.nextInt(n))
      val states = rnd.shuffle((0 until n).map(i =>
        f.add(f.input.filter(col(f.key).isin(byDelta.getOrElse(i, Array.empty[Long]): _*)))))
      def tree(xs: Seq[DataFrame]): DataFrame =
        if (xs.size == 1) f.merge(xs)
        else { val (l, r) = xs.splitAt(xs.size / 2); f.merge(Seq(tree(l), tree(r))) }
      val (grouping, merged) = rnd.nextInt(3) match {
        case 0 => "left fold" -> states.reduceLeft((a, b) => f.merge(Seq(a, b)))
        case 1 => "varargs" -> f.merge(states)
        case _ => "tree" -> tree(states)
      }
      val what = s"${f.name}: $n deltas merged by $grouping"
      assert(rows(merged) == want, s"$what differ from add(whole)")
      if (f.idempotent)
        assert(rows(f.merge(Seq(merged, states(rnd.nextInt(n))))) == want,
          s"$what: a delta ingested twice moved the state")
    }
    val rnd = new scala.util.Random(42L)
    for (_ <- 1 to 2; f <- families) check(f, rnd)
  }
}
