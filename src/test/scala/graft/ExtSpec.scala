package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.ext.{MinHash, Multimodal}
import graft.streaming.StreamingDpd

/** Specs for the second-wave extensions: MinHash/SimHash near-dup,
  * multimodal plumbing (incl. the decode stub's batch shape), and the
  * Structured-Streaming DPD operators driven through MemoryStream. */
class ExtSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
    (2L, "w1 w2 w3 w4 w5 w6 w7 w8"),   // exact dup of 1
    (3L, "w1 w2 w3 w4 w5 w6 w7 zz"),   // near dup of 1
    (4L, "completely different text with many other tokens here")
  ).toDF("doc_id", "text")

  test("minhash near-dup: exact dup scores 1.0, unrelated docs are not candidates") {
    val pairs = MinHash.nearDupPairs(docs, 3).collect()
      .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
        (r.getAs[Double]("sig_similarity"), r.getAs[Double]("jaccard")))).toMap
    assert(pairs.contains((1L, 2L)))
    assert(pairs((1L, 2L)) == ((1.0, 1.0)))
    // near-dup found via shared bands, jaccard strictly between 0 and 1
    assert(pairs.contains((1L, 3L)))
    val (_, j13) = pairs((1L, 3L))
    assert(j13 > 0.5 && j13 < 1.0)
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simhash: identical docs identical sketch; near-dups within small hamming distance") {
    val sh = MinHash.simHash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    val ham13 = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    val ham14 = java.lang.Long.bitCount(sh(1L) ^ sh(4L))
    assert(ham13 < ham14)
  }

  test("multimodal: media schema + metadata-only frame sampling") {
    val m = Multimodal.media(docs.withColumn("lang", lit("en")))
    assert(m.schema("bytes").dataType.typeName == "binary")
    val f = Multimodal.frameSamplePlan(m, 10L)
    val r = f.filter(col("doc_id") === 1L).collect().head
    assert(r.getAs[Long]("n_frames") == r.getAs[Long]("duration_s") * 24)
    assert(r.getAs[Long]("frames_sampled") == (r.getAs[Long]("duration_s") + 9) / 10)
  }

  test("multimodal byte features: per-partition batch shape, deterministic features") {
    val media = Multimodal.media(docs).select(col("doc_id"), col("kind"), col("bytes"))
      .as[Multimodal.MediaRow]
    val feats = Multimodal.byteFeatures(media).collect().map(f => f.doc_id -> f).toMap
    assert(feats(1L).byte_len == "w1 w2 w3 w4 w5 w6 w7 w8".length)
    assert(feats(1L).first_byte == 'w'.toInt)
    assert(feats(1L).byte_sum_mod == feats(2L).byte_sum_mod) // same bytes -> same features
  }

  test("multimodal decode: PPM/BMP round-trip matches the generator arithmetic") {
    val dec = Multimodal.decodeMedia(Multimodal.encodeMedia(docs))
      .collect().map(d => d.doc_id -> d).toMap
    assert(dec.nonEmpty)
    dec.foreach { case (id, d) =>
      val w = (1 + (id * 7) % 13).toInt
      val h = (1 + (id * 11) % 9).toInt
      assert(d.fmt == (if (id % 2 == 0) "ppm" else "bmp"))
      assert(d.width == w && d.height == h && d.channels == 3)
      assert(d.pixel_bytes == w.toLong * h * 3)
      val expSum = (0L until w.toLong * h * 3).map(i => (id + i) % 256).sum
      assert(d.pixel_sum == expSum)
    }
  }

  test("graft_nfc: composes decomposed sequences, passes NFC through, null-safe, SQL-callable") {
    import org.apache.spark.sql.graft.NfcNormalize
    val df = Seq(
      (1L, "caf\u00e9"),            // precomposed é — must pass through untouched
      (2L, "cafe\u0301"),           // decomposed e + U+0301 — must compose
      (3L, "u\u0308ber"),           // decomposed u + U+0308
      (4L, "plain ascii"),
      (5L, null.asInstanceOf[String]))
      .toDF("id", "t")
      .select(col("id"), NfcNormalize.nfc(col("t")).as("n"),
        length(NfcNormalize.nfc(col("t"))).as("len"))
    val r = df.collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getString(1) == "caf\u00e9" && r(1L).getInt(2) == 4)
    assert(r(2L).getString(1) == "caf\u00e9" && r(2L).getInt(2) == 4) // 5 codepoints -> 4
    assert(r(3L).getString(1) == "\u00fcber" && r(3L).getInt(2) == 4)
    assert(r(4L).getString(1) == "plain ascii")
    assert(r(5L).isNullAt(1))
    // idempotent: nfc(nfc(x)) == nfc(x)
    val twice = Seq("cafe\u0301").toDF("t")
      .select(NfcNormalize.nfc(NfcNormalize.nfc(col("t")))).head.getString(0)
    assert(twice == "caf\u00e9")
    // SQL surface via the extensions installer
    assert(spark.sql(s"SELECT graft_nfc('cafe\u0301')").head.getString(0) == "caf\u00e9")
  }

  test("shuffleOrder: a partition-independent permutation, one exchange") {
    import graft.ext.Corpus
    val ids = spark.range(0, 200).toDF("doc_id")
    val a = Corpus.shuffleOrder(ids, "doc_id", 8)
    val rows = a.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // bijection: every doc exactly once, per-shard positions contiguous 1..k
    assert(rows.map(_._1).toSet.size == 200)
    // CRT order keys are UNIQUE (coprime primes — no collisions below
    // ~1e12 ids), and the permutation actually shuffles: reading shards
    // in (shard, pos) order must not reproduce ascending id order
    val keyed = a.collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(0)))
    assert(keyed.map(k => (k._1, k._2)).toSet.size == 200, "duplicate (shard,pos)")
    val readOrder = keyed.sortBy(k => (k._1, k._2)).map(_._3).toSeq
    assert(readOrder != readOrder.sorted, "shuffle produced ascending id order")
    rows.groupBy(_._2).foreach { case (shard, g) =>
      assert(g.map(_._3).sorted.toSeq == (1L to g.length).toSeq, s"shard $shard positions")
    }
    // partition-layout independence: same (doc, shard, pos) under any input partitioning
    val b = Corpus.shuffleOrder(ids.repartition(13), "doc_id", 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows.toSet == b)
    // the scale contract: ONE hash exchange (per-shard window), no global
    // sort (fresh frame — an executed AQE plan prints initial+final twice)
    val plan = Corpus.shuffleOrder(ids, "doc_id", 8).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"expected one hash exchange in:\n$plan")
    assert(!plan.contains("rangepartitioning"), s"global sort leaked into:\n$plan")
  }

  test("multimodal resize: nearest-neighbor samples match the model; identity resize = decode") {
    val enc = Multimodal.encodeMedia(docs)
    val got = Multimodal.resizeMedia(enc, 4, 4).collect().map(r => r.doc_id -> r).toMap
    got.foreach { case (id, r) =>
      val w = (1 + (id * 7) % 13).toInt
      val h = (1 + (id * 11) % 9).toInt
      assert(r.src_width == w && r.src_height == h && r.width == 4 && r.height == 4)
      // model: target (tx,ty,c) samples source byte (id+(sy*w+sx)*3+c)%256
      val exp = (for {
        ty <- 0 until 4; tx <- 0 until 4; c <- 0 until 3
      } yield (id + ((ty * h / 4) * w + (tx * w / 4)) * 3 + c) % 256).sum
      assert(r.pixel_sum == exp, s"doc $id")
    }
    // identity resize touches every pixel exactly once -> decode's checksum
    val dec = Multimodal.decodeMedia(enc).collect().map(d => d.doc_id -> d).toMap
    dec.foreach { case (id, d) =>
      val idm = Multimodal.resizeMedia(enc.filter(col("doc_id") === id), d.width, d.height)
        .collect().head
      assert(idm.pixel_sum == d.pixel_sum && idm.pixel_bytes == d.pixel_bytes, s"doc $id")
    }
  }

  test("multimodal decode: spec fixtures the encoder never emits") {
    // PPM header with comment lines between fields (netpbm allows them)
    val ppm = "P6\n# width then height\n2 1\n# maxval\n255\n"
      .getBytes("US-ASCII") ++ Array[Byte](1, 2, 3, 4, 5, 6)
    // 32-bit top-down BMP (negative height), 1x2: rowSize 4, no padding
    val bmp = new Array[Byte](54 + 8)
    def le32(off: Int, v: Int): Unit = (0 to 3).foreach(k => bmp(off + k) = ((v >> (8 * k)) & 0xff).toByte)
    bmp(0) = 'B'; bmp(1) = 'M'; le32(2, 62); le32(10, 54); le32(14, 40)
    le32(18, 1); le32(22, -2); bmp(26) = 1; bmp(28) = 32; le32(30, 0)
    (0 until 8).foreach(k => bmp(54 + k) = (10 + k).toByte)
    val out = Multimodal.decodeMedia(Seq(
        Multimodal.EncodedMedia(7L, "ppm", ppm),
        Multimodal.EncodedMedia(8L, "bmp", bmp)).toDS())
      .collect().map(d => d.doc_id -> d).toMap
    assert(out(7L).width == 2 && out(7L).height == 1 && out(7L).channels == 3)
    assert(out(7L).pixel_sum == (1 + 2 + 3 + 4 + 5 + 6))
    assert(out(8L).width == 1 && out(8L).height == 2 && out(8L).channels == 4)
    assert(out(8L).pixel_bytes == 8 && out(8L).pixel_sum == (10 to 17).sum)
    // corrupt payloads fail loudly rather than passing silently
    val bad = Seq(Multimodal.EncodedMedia(9L, "ppm", "P6\n2 1\n255\n123".getBytes("US-ASCII")))
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodeMedia(bad.toDS()).collect()
    }
  }

  test("duplicateSpans: cross-doc phrase, intra-doc repeat, clean doc, maximal merge") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),     // shares a 4-token phrase with 2
      (2L, "x the quick brown fox y"),
      (3L, "completely different words here"), // clean -> no spans
      (4L, "a b c z w a b c")                  // repeats ITS OWN phrase
    ).toDF("doc_id", "text")
    val got = graft.ext.Text.duplicateSpans(docs, n = 3, minOccurrences = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    // doc 1: shingles (the,quick,brown)@1 and (quick,brown,fox)@2 both
    // duplicated -> ONE maximal span tokens 1..4; doc 2 same phrase at
    // offset 2..5; doc 4: (a,b,c) occurs at pos 1 and 6 -> two 3-token
    // spans, the intra-doc case the paper dedups against itself
    assert(got == Set(
      (1L, 1L, 4L, 4L, 2L),
      (2L, 2L, 5L, 4L, 2L),
      (4L, 1L, 3L, 3L, 1L),
      (4L, 6L, 8L, 3L, 1L)), s"spans: $got")
    // partition-layout invariance (exact hashes, keyed plan)
    val spread = graft.ext.Text.duplicateSpans(docs.repartition(5), n = 3,
      minOccurrences = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(spread == got)
  }

  test("shingleCountAdd: delta counts compose exactly and replay on a streaming ingest") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    def cnts(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def spans(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val full = cnts(graft.ext.Text.shingleCountAdd(docs, n = 3))
    assert(full.nonEmpty)
    // three arbitrary deltas merged in both association orders — the
    // int64 count sums make merge exact AND associative
    val parts = Seq(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 === 1),
      docs.filter(col("doc_id") % 3 === 2)
    ).map(p => graft.ext.Text.shingleCountAdd(p, n = 3))
    val leftAssoc = graft.ext.Text.mergeShingleCounts(
      graft.ext.Text.mergeShingleCounts(parts(0), parts(1)), parts(2))
    val rightAssoc = graft.ext.Text.mergeShingleCounts(
      parts(0), graft.ext.Text.mergeShingleCounts(parts(1), parts(2)))
    assert(cnts(leftAssoc) == full, "merged delta counts != full count")
    assert(cnts(rightAssoc) == full, "merge is not associative")
    // the span table derived from merged state IS the batch span table
    val batchSpans = spans(graft.ext.Text.duplicateSpans(docs, n = 3,
      minOccurrences = 2L))
    assert(spans(graft.ext.Text.duplicateSpansFromCounts(docs, leftAssoc,
      n = 3, minOccurrences = 2L)) == batchSpans,
      "spans from merged state != single-pass spans")
    // streaming ingest twin: micro-batches counted against nothing but
    // themselves and merged into the running state — chunk boundaries
    // cannot move a span
    val chunks = Seq(0, 1, 2).map(m =>
      docs.filter(col("doc_id") % 3 === m)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val c = graft.ext.Text.shingleCountAdd(batch.toDF(), n = 3)
        state = Some(state.fold(c)(s => graft.ext.Text.mergeShingleCounts(s, c))
          .localCheckpoint(true)) // materialize: the batch frame dies with the call
        ()
      }
      .outputMode(OutputMode.Update()).start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      assert(cnts(state.get) == full, "streaming ingest != batch count")
      assert(spans(graft.ext.Text.duplicateSpansFromCounts(docs, state.get,
        n = 3, minOccurrences = 2L)) == batchSpans,
        "spans from streamed state != single-pass spans")
    } finally q.stop()
  }

  test("cutDuplicateSpans: keep-first excision, clean doc untouched, self-dedup") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),      // first occurrence -> kept whole
      (2L, "x the quick brown fox y"),        // later occurrence -> excised
      (3L, "completely different words here"),
      (4L, "a b c z w a b c")                  // repeats itself -> 2nd cut
    ).toDF("doc_id", "text")
    val got = graft.ext.Text.cutDuplicateSpans(docs, n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("the quick brown fox jumps", 5L, 0L)), got(1L))
    assert(got(2L) == (("x y", 2L, 4L)), got(2L))
    assert(got(3L) == (("completely different words here", 4L, 0L)), got(3L))
    assert(got(4L) == (("a b c z w", 5L, 3L)), got(4L))
  }

  test("cutDuplicateSpans: overlapping self-repeat keeps the first occurrence intact") {
    // 'a a a a a' (n=3): (a,a,a) occurs at pos 1,2,3; cuts at 2,3
    // expand to tokens 2..5, which OVERLAP the kept occurrence's range
    // 1..3 — the protection anti-join must spare tokens 2,3 so the
    // first occurrence 'a a a' survives whole (without it the doc
    // collapses to a single 'a' and the phrase is lost entirely)
    val docs = Seq(
      (1L, "a a a a a"),
      (2L, "p q r s t"),   // later duplicate of doc 3's phrase
      (3L, "p q r s u")    // doc_id 3 > 2: doc 2 holds the firsts
    ).toDF("doc_id", "text")
    val got = graft.ext.Text.cutDuplicateSpans(docs, n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == (("a a a", 3L, 2L)), got(1L))
    // (p,q,r)@(2,1),(3,1) and (q,r,s)@(2,2),(3,2): firsts live in doc
    // 2 (protected 1..4); doc 3's cuts span 1..4 -> 'u' survives
    assert(got(2L) == (("p q r s t", 5L, 0L)), got(2L))
    assert(got(3L) == (("u", 1L, 4L)), got(3L))
  }

  private def cutRows(df: org.apache.spark.sql.DataFrame)
      : Map[Long, (String, Long, Long)] =
    df.collect().map(r => r.getLong(0) ->
      ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap

  private def firstState(df: org.apache.spark.sql.DataFrame)
      : Map[Long, (Long, Long, Int)] =
    df.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap

  test("shingleFirstAdd: first-occurrence state composes exactly and drives the cut") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    val full = firstState(graft.ext.Text.shingleFirstAdd(docs, n = 3))
    assert(full.nonEmpty)
    // three arbitrary deltas merged in both association orders — count
    // sums AND struct-min firsts are exact and associative
    val parts = Seq(0, 1, 2).map(m =>
      graft.ext.Text.shingleFirstAdd(docs.filter(col("doc_id") % 3 === m), n = 3))
    val leftAssoc = graft.ext.Text.mergeShingleFirsts(
      graft.ext.Text.mergeShingleFirsts(parts(0), parts(1)), parts(2))
    val rightAssoc = graft.ext.Text.mergeShingleFirsts(
      parts(0), graft.ext.Text.mergeShingleFirsts(parts(1), parts(2)))
    assert(firstState(leftAssoc) == full, "merged first-state != full state")
    assert(firstState(rightAssoc) == full, "merge is not associative")
    // the cut driven off merged state IS the single-pass cut, text and all
    val batchCut = cutRows(graft.ext.Text.cutDuplicateSpans(docs, n = 3))
    assert(cutRows(graft.ext.Text.cutDuplicateSpansFromCounts(docs, leftAssoc,
      n = 3)) == batchCut, "cut from merged state != single-pass cut")
  }

  test("shingleFirstAdd: streaming ingest replays the single-pass cut exactly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    val chunks = Seq(0, 1, 2).map(m =>
      docs.filter(col("doc_id") % 3 === m)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = graft.ext.Text.shingleFirstAdd(batch.toDF(), n = 3)
        state = Some(state.fold(s)(p => graft.ext.Text.mergeShingleFirsts(p, s))
          .localCheckpoint(true)) // materialize: the batch frame dies with the call
        ()
      }
      .outputMode(OutputMode.Update()).start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      assert(firstState(state.get) ==
        firstState(graft.ext.Text.shingleFirstAdd(docs, n = 3)),
        "streamed first-state != batch state")
      assert(cutRows(graft.ext.Text.cutDuplicateSpansFromCounts(docs, state.get,
        n = 3)) == cutRows(graft.ext.Text.cutDuplicateSpans(docs, n = 3)),
        "cut from streamed state != single-pass cut")
    } finally q.stop()
  }

  test("cutDuplicateSpansFromCounts: a first occurrence OUTSIDE the cleaned slice still wins") {
    // global state over both chunks; only chunk B is cleaned. The first
    // occurrence lives in chunk A, so no local protection row exists for
    // it in B — every B occurrence must be cut (global keep-first), and
    // cleaning chunk A alone must leave the first intact.
    val chunkA = Seq((1L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val chunkB = Seq(
      (2L, "x the quick brown fox y"),
      (3L, "unrelated words entirely here")
    ).toDF("doc_id", "text")
    val state = graft.ext.Text.mergeShingleFirsts(
      graft.ext.Text.shingleFirstAdd(chunkA, n = 3),
      graft.ext.Text.shingleFirstAdd(chunkB, n = 3))
    val gotB = cutRows(graft.ext.Text.cutDuplicateSpansFromCounts(chunkB, state, n = 3))
    assert(gotB(2L) == (("x y", 2L, 4L)), gotB(2L))
    assert(gotB(3L) == (("unrelated words entirely here", 4L, 0L)), gotB(3L))
    val gotA = cutRows(graft.ext.Text.cutDuplicateSpansFromCounts(chunkA, state, n = 3))
    assert(gotA(1L) == (("the quick brown fox jumps", 5L, 0L)), gotA(1L))
    // sanity: cleaning the union through the same state IS the single-pass cut
    val union = chunkA.unionByName(chunkB)
    assert(cutRows(graft.ext.Text.cutDuplicateSpansFromCounts(union, state, n = 3)) ==
      cutRows(graft.ext.Text.cutDuplicateSpans(union, n = 3)))
  }

  test("datasetMixTemperature: sqrt shares, exact per-source k, small source kept whole") {
    // 64/16/4/1 docs across four sources, target 20: weights √n =
    // 8/4/2/1, total 15 → k = ⌊8/15·20⌋=10, ⌊4/15·20⌋=5, ⌊2/15·20⌋=2,
    // min(1, ⌊1/15·20⌋=1)=1. The dominant source drops from 75% of the
    // corpus to 10/18 of the mix — the rebalancing the α=0.5 rule buys.
    val docs = (
      (0 until 64).map(i => (i.toLong, "big")) ++
      (0 until 16).map(i => (100L + i, "mid")) ++
      (0 until 4).map(i => (200L + i, "small")) ++
      Seq((300L, "tiny"))).toDF("doc_id", "source")
    val kept = graft.ext.Corpus.datasetMixTemperature(docs, 20L)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val bySrc = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc == Map("big" -> 10, "mid" -> 5, "small" -> 2, "tiny" -> 1),
      s"per-source keeps $bySrc")
    // deterministic and partition-layout-independent (hash rank, not rand)
    val again = graft.ext.Corpus.datasetMixTemperature(docs.repartition(7), 20L)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(again.toSet == kept.toSet, "selection changed with partition layout")
  }

  test("datasetMixTemperature: hash-band cutoff selects the exact rank-window set") {
    import org.apache.spark.sql.expressions.Window
    // 3000 docs over skewed sources so every source straddles many of
    // the 1024 hash bands — the band-prefix filter + one-band trim must
    // reproduce the per-source rank window's selection EXACTLY (bands
    // partition the hash order; ties share a band)
    val docs = spark.range(3000).select(
      (col("id") * 7919 % 100003).as("doc_id"),
      concat(lit("s"), pmod(col("id"), lit(3))).as("source"))
    val got = graft.ext.Corpus.datasetMixTemperature(docs, 500L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val total = counts.foldLeft(0.0)((a, c) => a + math.sqrt(c._2.toDouble))
    val kCol = counts.foldLeft(lit(0L)) { case (acc, (s, n)) =>
      when(col("source") === s,
        lit(math.min(n, math.floor(math.sqrt(n.toDouble) / total * 500L).toLong)))
        .otherwise(acc)
    }
    val w = Window.partitionBy(col("source"))
      .orderBy(graft.operators.Sampling.hashOrder(col("doc_id")).asc, col("doc_id").asc)
    val twin = docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= kCol)
      .select(col("doc_id"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == twin,
      s"band cutoff diverged from the window spelling: ${got.size} vs ${twin.size}")
  }

  test("video decode: Y4M round-trip matches the model; frame params; corrupt fails") {
    val ids = Seq(0L, 1L, 2L, 5L) // evens carry the FRAME-param hazard
    val got = Multimodal.decodeVideo(Multimodal.encodeVideo(
        ids.map(i => (i, s"doc$i")).toDF("doc_id", "text")), stride = 2)
      .collect().map(v => v.doc_id -> v).toMap
    ids.foreach { id =>
      val (w, h, n) = Multimodal.videoDims(id)
      val fb = 3 * w * h
      def fsum(f: Int) = (0 until fb).map(j => (id + f.toLong * 131L + j) % 256L).sum
      val v = got(id)
      assert(v.width == w && v.height == h && v.fps_num == 25 && v.fps_den == 1)
      assert(v.n_frames == n && v.frame_bytes == fb)
      assert(v.pixel_sum == (0 until n).map(fsum).sum)
      assert(v.sampled_frames == (0 until n).count(_ % 2 == 0))
      assert(v.sampled_sum == (0 until n).filter(_ % 2 == 0).map(fsum).sum)
    }
    // corrupt containers fail loudly
    val good = Multimodal.y4mBytes(3L)
    intercept[org.apache.spark.SparkException] { // truncated final frame
      Multimodal.decodeVideo(Seq(
        Multimodal.EncodedMedia(3L, "y4m", good.dropRight(5))).toDS()).collect()
    }
    intercept[org.apache.spark.SparkException] { // unsupported colorspace
      val c420 = new String(good.takeWhile(_ != '\n'), "US-ASCII")
        .replace("C444", "C420") + "\n"
      Multimodal.decodeVideo(Seq(Multimodal.EncodedMedia(3L, "y4m",
        c420.getBytes("US-ASCII") ++ good.dropWhile(_ != '\n').drop(1))).toDS()).collect()
    }
    intercept[org.apache.spark.SparkException] { // not Y4M at all
      Multimodal.decodeVideo(Seq(Multimodal.EncodedMedia(3L, "y4m",
        "MPEG4WHATEVER".getBytes("US-ASCII"))).toDS()).collect()
    }
  }

  test("audio decode: WAV round-trip matches the model; chunk walk; corrupt fails") {
    // independent model of the generator arithmetic — both parities, so
    // the even ids exercise the junk LIST chunk + RIFF odd-size pad
    val ids = Seq(0L, 1L, 2L, 7L)
    val got = Multimodal.decodeAudio(Multimodal.encodeAudio(
        ids.map(i => (i, s"doc$i")).toDF("doc_id", "text")))
      .collect().map(a => a.doc_id -> a).toMap
    ids.foreach { id =>
      val n = (256 + (id * 31) % 512).toInt
      val s = (0 until n).map(i =>
        (((id * 2654435761L + i.toLong * 40503L) % 65536L) - 32768L).toInt)
      val a = got(id)
      assert(a.channels == 1 && a.sample_rate == 8000 && a.n_samples == n)
      assert(a.duration_us == n.toLong * 1000000L / 8000L)
      assert(a.sample_sum == s.map(_.toLong).sum)
      assert(a.rms == math.sqrt(s.map(x => x.toLong * x).sum.toDouble / n))
      assert(a.zero_crossings ==
        s.sliding(2).count(p => (p.head < 0) != (p.last < 0)))
    }
    // a walker that forgets the odd-chunk pad byte misreads everything
    // after the LIST chunk — even ids passing above proves the pad is
    // honored; now the loud-failure contract:
    val wav = Multimodal.wavBytes(4L)
    val nonPcm = wav.clone()
    nonPcm(20) = 3 // fmt audioFormat -> IEEE float
    intercept[org.apache.spark.SparkException] {
      Multimodal.decodeAudio(Seq(
        Multimodal.EncodedMedia(4L, "wav", nonPcm)).toDS()).collect()
    }
    intercept[org.apache.spark.SparkException] { // truncated data chunk
      Multimodal.decodeAudio(Seq(
        Multimodal.EncodedMedia(4L, "wav", wav.dropRight(7))).toDS()).collect()
    }
    intercept[org.apache.spark.SparkException] { // not RIFF at all
      Multimodal.decodeAudio(Seq(
        Multimodal.EncodedMedia(4L, "wav", "JUNKJUNKJUNKJUNK".getBytes("US-ASCII"))).toDS()).collect()
    }
  }

  test("streaming dailyWorstDpd: tumbling day windows with watermark via MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Int)]
    val events = mem.toDF().toDF("loan_id", "ts", "dpd")
    val q = StreamingDpd.dailyWorstDpd(events)
      .writeStream.format("memory").queryName("dpd_daily_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        (1L, java.sql.Timestamp.valueOf("2021-01-01 10:00:00"), 3),
        (1L, java.sql.Timestamp.valueOf("2021-01-01 18:00:00"), 7),
        (2L, java.sql.Timestamp.valueOf("2021-01-01 12:00:00"), 0))
      q.processAllAvailable()
      // advance watermark past day 1 so its window closes (append mode)
      mem.addData((1L, java.sql.Timestamp.valueOf("2021-01-05 00:00:00"), 9))
      q.processAllAvailable()
      val got = spark.table("dpd_daily_stream")
        .select(col("loan_id"), col("as_of_date").cast("string"), col("worst_dpd"), col("dpd_bucket"))
        .as[(Long, String, Int, String)].collect().toSet
      assert(got.contains((1L, "2021-01-01", 7, "1-30")))
      assert(got.contains((2L, "2021-01-01", 0, "0")))
    } finally q.stop()
  }

  test("streaming dailyWorstDpd over a real file source (parquet, AvailableNow)") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString + "/in"
    Seq(
      (1L, java.sql.Timestamp.valueOf("2021-01-01 10:00:00"), 3),
      (1L, java.sql.Timestamp.valueOf("2021-01-01 18:00:00"), 7),
      (2L, java.sql.Timestamp.valueOf("2021-01-02 12:00:00"), 95))
      .toDF("loan_id", "ts", "dpd").write.parquet(dir)
    val stream = spark.readStream
      .schema("loan_id LONG, ts TIMESTAMP, dpd INT")
      .parquet(dir)
    // Complete mode emits every window regardless of watermark progress —
    // the finite AvailableNow run then yields a deterministic result
    // (append-mode watermark semantics are covered by the MemoryStream spec)
    val q = StreamingDpd.dailyWorstDpd(stream)
      .writeStream.format("memory").queryName("dpd_file_stream")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val got = spark.table("dpd_file_stream")
        .select(col("loan_id"), col("as_of_date").cast("string"), col("worst_dpd"), col("dpd_bucket"))
        .as[(Long, String, Int, String)].collect().toSet
      assert(got == Set(
        (1L, "2021-01-01", 7, "1-30"),
        (2L, "2021-01-02", 95, "90+")))
    } finally q.stop()
  }

  test("streaming stream-static join: DPD stream enriched with the loan dim") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Int)]
    val events = mem.toDF().toDF("loan_id", "ts", "dpd")
    val dim = Seq((1L, "consumer"), (2L, "auto")).toDF("loan_id", "product_type")
    // static side joins per micro-batch with no state store involved
    val q = StreamingDpd.dailyWorstDpd(events)
      .join(dim, Seq("loan_id"), "inner")
      .writeStream.format("memory").queryName("dpd_enriched_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        (1L, java.sql.Timestamp.valueOf("2021-01-01 10:00:00"), 40),
        (2L, java.sql.Timestamp.valueOf("2021-01-01 12:00:00"), 0))
      q.processAllAvailable()
      mem.addData((1L, java.sql.Timestamp.valueOf("2021-01-05 00:00:00"), 9))
      q.processAllAvailable()
      val got = spark.table("dpd_enriched_stream")
        .select(col("loan_id"), col("worst_dpd"), col("product_type"))
        .as[(Long, Int, String)].collect().toSet
      assert(got.contains((1L, 40, "consumer")))
      assert(got.contains((2L, 0, "auto")))
    } finally q.stop()
  }

  test("streaming dedupStream: re-delivered keys within the watermark are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val q = graft.streaming.StreamingDedup.dedupStream(docs, Seq("doc_id"), "ts")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        (1L, java.sql.Timestamp.valueOf("2021-01-01 10:00:00"), "first arrival"),
        (2L, java.sql.Timestamp.valueOf("2021-01-01 10:00:01"), "other doc"))
      q.processAllAvailable()
      // same key re-delivered in a later micro-batch, inside the horizon
      mem.addData((1L, java.sql.Timestamp.valueOf("2021-01-01 10:30:00"), "duplicate"))
      q.processAllAvailable()
      mem.addData((3L, java.sql.Timestamp.valueOf("2021-01-01 11:00:00"), "new doc"))
      q.processAllAvailable()
      val got = spark.table("dedup_stream")
        .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSet
      assert(got == Set((1L, "first arrival"), (2L, "other doc"), (3L, "new doc")))
    } finally q.stop()
  }

  test("stream-stream trailingWindowJoin matches its batch twin across chunked delivery") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // anchors = error events, probes = all events of the same user
    val anchorRows = Seq((100L, 1L, ts("2021-01-01 10:00:00")),
      (101L, 2L, ts("2021-01-01 12:00:00")))
    val probeRows = Seq(
      (1L, 1L, ts("2021-01-01 09:45:00"), "click"),   // in window of 100
      (2L, 1L, ts("2021-01-01 09:20:00"), "view"),    // outside (40 min)
      (3L, 2L, ts("2021-01-01 12:00:00"), "purchase"), // boundary: inclusive
      (4L, 2L, ts("2021-01-01 12:00:01"), "click"))   // after anchor: excluded
    val memA = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val memP = MemoryStream[(Long, Long, java.sql.Timestamp, String)]
    val anchors = memA.toDF().toDF("anchor_id", "user_id", "anchor_ts")
    val probes = memP.toDF().toDF("probe_id", "probe_user", "probe_ts", "probe_type")
    val joined = graft.streaming.StreamingJoin.trailingWindowJoin(
      anchors, probes, "user_id", "probe_user", "anchor_ts", "probe_ts",
      expr("INTERVAL 30 MINUTES"), "10 minutes")
    val q = joined.writeStream.format("memory").queryName("sj_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      // probes arrive first, anchors in a LATER micro-batch — the join
      // state must hold them until the match shows up
      memP.addData(probeRows.take(2))
      q.processAllAvailable()
      memA.addData(anchorRows.head)
      memP.addData(probeRows.drop(2))
      q.processAllAvailable()
      memA.addData(anchorRows(1))
      q.processAllAvailable()
      val got = spark.table("sj_stream")
        .select(col("anchor_id"), col("probe_id")).as[(Long, Long)].collect().toSet
      // identical plan over batch frames
      val want = graft.streaming.StreamingJoin.trailingWindowJoin(
          anchorRows.toDF("anchor_id", "user_id", "anchor_ts"),
          probeRows.toDF("probe_id", "probe_user", "probe_ts", "probe_type"),
          "user_id", "probe_user", "anchor_ts", "probe_ts",
          expr("INTERVAL 30 MINUTES"), "10 minutes")
        .select(col("anchor_id"), col("probe_id")).as[(Long, Long)].collect().toSet
      assert(want == Set((100L, 1L), (101L, 3L)), s"batch twin computed $want")
      assert(got == want, s"stream $got vs batch $want")
    } finally q.stop()
  }

  test("streaming withRunningState: running max, sticky NPL, cure signal") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingDpd.DpdEvent]
    val q = StreamingDpd.withRunningState(mem.toDS())
      .writeStream.format("memory").queryName("dpd_state_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(StreamingDpd.DpdEvent(7L, java.sql.Timestamp.valueOf("2021-01-01 00:00:00"), 95))
      q.processAllAvailable()
      mem.addData(StreamingDpd.DpdEvent(7L, java.sql.Timestamp.valueOf("2021-01-02 00:00:00"), 0))
      q.processAllAvailable()
      val got = spark.table("dpd_state_stream")
        .as[StreamingDpd.DpdUpdate].collect().sortBy(_.max_dpd)
      assert(got.exists(u => u.max_dpd == 95 && u.ever_npl && !u.cured))
      assert(got.exists(u => u.last_dpd == 0 && u.cured && u.ever_npl)) // NPL is sticky across batches
    } finally q.stop()
  }

  test("withRunningState final state equals finalStateBatch however the stream is chunked") {
    implicit val sqlCtx = spark.sqlContext
    def ev(l: Long, ts: String, d: Int) =
      StreamingDpd.DpdEvent(l, java.sql.Timestamp.valueOf(ts), d)
    // three loans, batch boundaries cutting across loans; loan 2 has a
    // same-timestamp tie (resolved by the shared (ts, dpd) order in both
    // the stateful kernel and the batch twin). Chunks respect per-loan
    // event-time order — the stateful path's in-order-arrival contract.
    val chunks = Seq(
      Seq(ev(1L, "2021-01-01 10:00:00", 10), ev(2L, "2021-01-01 08:00:00", 3)),
      Seq(ev(1L, "2021-01-05 09:00:00", 95),
        ev(2L, "2021-01-09 08:00:00", 50), ev(2L, "2021-01-09 08:00:00", 40)),
      Seq(ev(1L, "2021-02-01 00:00:00", 0), ev(3L, "2021-03-01 00:00:00", 120)))
    val emitted = scala.collection.mutable.ArrayBuffer[(Long, StreamingDpd.DpdUpdate)]()
    val mem = MemoryStream[StreamingDpd.DpdEvent]
    val q = StreamingDpd.withRunningState(mem.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[StreamingDpd.DpdUpdate], batchId: Long) =>
        emitted.synchronized { emitted ++= ds.collect().map((batchId, _)) }; ()
      }.start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val finalByLoan = emitted.groupBy(_._2.loan_id)
      .map { case (l, us) => l -> us.maxBy(_._1)._2 }
    val batch = StreamingDpd.finalStateBatch(chunks.flatten.toDS().toDF())
      .collect().map(r => r.getAs[Long]("loan_id") ->
        ((r.getAs[Int]("max_dpd"), r.getAs[Int]("last_dpd"), r.getAs[Boolean]("ever_npl"))))
      .toMap
    assert(finalByLoan.keySet == batch.keySet)
    finalByLoan.foreach { case (l, u) =>
      assert((u.max_dpd, u.last_dpd, u.ever_npl) == batch(l),
        s"loan $l: stateful $u vs batch ${batch(l)}")
    }
    // the known divergent field: `cured` compares consecutive batches
    assert(finalByLoan(1L).cured, "loan 1 cured in its final batch")
  }

  test("connectedComponents: transitive chains collapse to the min id; separate families stay apart") {
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = graft.ext.Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1-2-3-4 is one family (via transitivity the greedy pair view misses)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: a chain needs diameter rounds and still converges") {
    val pairs = (1L until 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = graft.ext.Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 8L).map(_ -> 1L).toMap)
  }

  test("connectedComponents: distributed fixpoint and local union-find agree on a random graph") {
    // deterministic pseudo-random graph with chains, merges, and singleton pairs
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
    val local = graft.ext.Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // maxLocalEdges = 0 forces the distributed min-label propagation path
    val dist = graft.ext.Dedup.connectedComponents(pairs, "doc_a", "doc_b",
        maxLocalEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist)
    assert(local.nonEmpty)
  }

  test("redactPii: email, +phone, and digit runs redact in order with per-pattern counts") {
    val rows = Seq(
      (1L, "mail jane.doe@example.com call +49 170 1234567 card 99887766 ok"),
      (2L, "no pii here at all"),
      (3L, "ids 0001 and 123 and +1 (415) 555-0123")
    ).toDF("id", "text")
    val got = graft.ext.Text.redactPii(rows, "id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got(1L) == (("mail <EMAIL> call <PHONE> card <ID> ok", 1L, 1L, 1L)))
    assert(got(2L) == (("no pii here at all", 0L, 0L, 0L)))
    // 123 is too short for a digit run; the parenthesized phone matches
    assert(got(3L) == (("ids <ID> and 123 and <PHONE>", 0L, 1L, 1L)))
  }

  test("repetitionStats: templated text flags repetitive, prose and short docs do not") {
    val rows = Seq(
      (1L, "src", "a b a b a b a b"),            // 6 shingles, 2 distinct
      (2L, "src", "one two three four five six"), // no repeats
      (3L, "src", "too short")                    // < n tokens -> 0 shingles
    ).toDF("doc_id", "source", "text")
    val got = graft.ext.Text.repetitionStats(rows, 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("total_ngrams"), r.getAs[Long]("distinct_ngrams"),
          r.getAs[Double]("repetition_ratio"), r.getAs[Boolean]("repetitive"))))
      .toMap
    assert(got(1L)._1 == 6L && got(1L)._2 == 2L && got(1L)._4)
    assert(math.abs(got(1L)._3 - (1.0 - 2.0 / 6.0)) < 1e-12)
    assert(got(2L) == ((4L, 4L, 0.0, false)))
    assert(got(3L) == ((0L, 0L, 0.0, false)))
  }

  test("contamination: eval-residue overlap counts distinct shingles and eval docs") {
    val rows = Seq(
      (0L, "q1 q2 q3 q4 q5 q6 q7 q8 q9"),  // eval (0 % 40 == 0)
      (1L, "q1 q2 q3 q4 q5 q6 q7 q8 q9"),  // identical -> 7 shared shingles
      (2L, "p1 q1 q2 q3 xx yy zz"),        // shares exactly 1 shingle (q1 q2 q3)
      (3L, "entirely unrelated words only") // no overlap -> absent
    ).toDF("doc_id", "text")
    val got = graft.ext.Corpus.contamination(rows, 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("eval_hits"), r.getAs[Long]("eval_docs"),
          r.getAs[Boolean]("contaminated"))))
      .toMap
    assert(got(1L) == ((7L, 1L, true)))
    assert(got(2L) == ((1L, 1L, false)))
    assert(!got.contains(3L) && !got.contains(0L))
  }

  test("chunkDocuments: overlapping windows cover every token; short docs get one chunk") {
    val rows = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), // 10 toks, chunk 4, stride 2 -> starts 0,2,4,6
      (2L, "a b c")                            // 3 toks -> single short chunk
    ).toDF("doc_id", "text")
    val got = graft.ext.Corpus.chunkDocuments(rows, chunkTokens = 4, overlap = 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
        ((r.getAs[Long]("start_tok"), r.getAs[Long]("n_tokens"), r.getAs[String]("chunk_text"))))
      .toMap
    assert(got.keySet.count(_._1 == 1L) == 4)
    assert(got((1L, 0L)) == ((0L, 4L, "t1 t2 t3 t4")))
    assert(got((1L, 1L)) == ((2L, 4L, "t3 t4 t5 t6")))
    assert(got((1L, 2L)) == ((4L, 4L, "t5 t6 t7 t8")))
    assert(got((1L, 3L)) == ((6L, 4L, "t7 t8 t9 t10")))
    assert(got((2L, 0L)) == ((0L, 3L, "a b c")))
    // an n=5 doc must NOT produce a chunk fully inside the previous one
    val five = graft.ext.Corpus.chunkDocuments(
      Seq((9L, "x1 x2 x3 x4 x5")).toDF("doc_id", "text"), 4, 2).collect()
    assert(five.map(_.getAs[Long]("chunk_id")).toSet == Set(0L, 1L))
    assert(five.find(_.getAs[Long]("chunk_id") == 1L).get
      .getAs[String]("chunk_text") == "x3 x4 x5")
  }

  test("packSequences: capacity quantization within (source, shard), shards reset the sum") {
    val rows = Seq(
      (1L, "s1", "t t t"),        // 3 tokens, cum 3  -> pack 0 (cap 5)
      (2L, "s1", "t t t"),        // cum 6            -> pack 1
      (3L, "s1", "t t t"),        // cum 9            -> pack 1
      (1L, "s2", "t t t t t t"),  // other source independent: cum 6 -> pack 1
      (105L, "s1", "t t t")       // shard 1 (shardSize 100): cum resets -> pack 0
    ).toDF("doc_id", "source", "text")
    val got = graft.ext.Corpus.packSequences(rows, capacity = 5L, shardSize = 100L)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source")) ->
        ((r.getAs[Long]("shard"), r.getAs[Long]("cum_tokens"), r.getAs[Long]("pack_id"))))
      .toMap
    assert(got((1L, "s1")) == ((0L, 3L, 0L)))
    assert(got((2L, "s1")) == ((0L, 6L, 1L)))
    assert(got((3L, "s1")) == ((0L, 9L, 1L)))
    assert(got((1L, "s2")) == ((0L, 6L, 1L)))
    assert(got((105L, "s1")) == ((1L, 3L, 0L)))
  }

  test("hashSplit: deterministic, partition-independent, respects the percentage knob") {
    val ids = (0L until 200L).map(Tuple1(_)).toDF("doc_id")
    val s90 = graft.ext.Corpus.hashSplit(ids, "doc_id", 90)
    val trainIds = s90.filter(col("split") === "train").select(col("doc_id"))
      .as[Long].collect().toSet
    // re-running under a different partitioning gives the identical set
    val s90b = graft.ext.Corpus.hashSplit(ids.repartition(7), "doc_id", 90)
    assert(s90b.filter(col("split") === "train").select(col("doc_id"))
      .as[Long].collect().toSet == trainIds)
    assert(trainIds.size > 150 && trainIds.size < 200) // ~90%, not all
    assert(graft.ext.Corpus.hashSplit(ids, "doc_id", 0)
      .filter(col("split") === "train").count() == 0)
    assert(graft.ext.Corpus.hashSplit(ids, "doc_id", 100)
      .filter(col("split") === "test").count() == 0)
  }

  test("KmvDistinct: exact below k, deterministic estimator above, merge-safe, SQL-callable") {
    import org.apache.spark.sql.graft.KmvDistinct
    // exact path: 5 distinct ids < k=8, spread over partitions (merges run)
    val small = (1L to 5L).flatMap(i => Seq(("a", i), ("a", i))).toDF("g", "id").repartition(4)
    val r1 = small.groupBy(col("g"))
      .agg(KmvDistinct.kmv(KmvDistinct.hashColumn(col("id")), 8).as("est"))
      .collect().head.getDouble(1)
    assert(r1 == 5.0)
    // estimator path: equals the closed form over the k-th smallest hash
    val M = KmvDistinct.M
    val ids = (1L to 1000L)
    val df = ids.map(i => ("b", i)).toDF("g", "id").repartition(7)
    val est = df.groupBy(col("g"))
      .agg(KmvDistinct.kmv(KmvDistinct.hashColumn(col("id")), 16).as("est"))
      .collect().head.getDouble(1)
    val hk = ids.map(i => ((i % M) * 2654435761L + 97L) % M + 1L).distinct.sorted.apply(15)
    assert(est == 15.0 * M.toDouble / hk.toDouble)
    assert(est > 100 && est < 10000, s"estimate $est wildly off for n=1000")
    // the injected SQL aggregate computes the identical value
    df.createOrReplaceTempView("v_kmv")
    val sqlEst = spark.sql(
      "SELECT graft_kmv(((id % 2147483648) * 2654435761 + 97) % 2147483648 + 1, 16) FROM v_kmv")
      .collect().head.getDouble(0)
    assert(sqlEst == est)
  }

  test("datasetMix: deterministic, partition-independent, weights honored at the extremes") {
    val d = (0L until 400L).map(i => (i, s"src${i % 4}", "en", "t")).toDF("doc_id", "source", "lang", "text")
    val picked = graft.ext.Corpus.datasetMix(d, Seq("src0" -> 100, "src1" -> 0), 50)
    val ids = picked.select("doc_id").as[Long].collect().toSet
    // weight 100 keeps every src0 row; weight 0 drops every src1 row
    assert((0L until 400L by 4L).forall(ids.contains))
    assert(!ids.exists(_ % 4 == 1))
    // default weight actually downsamples (not all, not none)
    val src2 = ids.count(_ % 4 == 2)
    assert(src2 > 0 && src2 < 100)
    // same selection regardless of physical layout
    val re = graft.ext.Corpus.datasetMix(d.repartition(13), Seq("src0" -> 100, "src1" -> 0), 50)
      .select("doc_id").as[Long].collect().toSet
    assert(re == ids)
    // mix-hash decorrelated from the train/test split hash: selection at
    // 50% is NOT the same subset as splitBucket < 50
    val splitLow = (0L until 400L).filter(i => ((i % 1000003L) * 2654435761L % 1000003L % 100L + 100L) % 100L < 50L).toSet
    val mixLow = ids.filter(_ % 4 == 2).map(identity)
    assert(mixLow.exists(!splitLow.contains(_)) || splitLow.exists(i => i % 4 == 2 && !ids.contains(i)))
  }

  test("curriculumBuckets: buckets are monotone in token count and span 0..3") {
    val d = (1L to 200L).map(i => (i, Seq.fill((i % 40 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = graft.ext.Corpus.curriculumBuckets(d)
      .collect().map(r => (r.getAs[Long]("token_cnt"), r.getAs[Int]("bucket")))
    assert(rows.map(_._2).toSet == Set(0, 1, 2, 3))
    // same token count -> same bucket; bucket non-decreasing in tokens
    val byTok = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(byTok.values.forall(_.size == 1))
    val sorted = byTok.toSeq.sortBy(_._1).map(_._2.head)
    assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b })
  }

  test("hotKeyReport: exact counts, shares against the true total, k bound") {
    val d = (Seq.fill(50)(7L) ++ Seq.fill(30)(8L) ++ (0L until 20L)).toDF("k")
    val rep = graft.operators.Skew.hotKeyReport(d, "k", 3, 0.2)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("cnt"),
        r.getAs[Double]("share"), r.getAs[Boolean]("hot")))
    assert(rep.length == 3)
    // 0..19 re-includes 7 and 8, so the hot keys count 51 and 31
    assert(rep.map(t => (t._1, t._2)).toSet == Set((7L, 51L), (8L, 31L), (0L, 1L)))
    val total = 100.0
    assert(rep.forall(t => t._3 == t._2 / total))
    assert(rep.count(_._4) == 2) // 0.5 and 0.3 above the 0.2 threshold
  }

  test("qualityPercentile: per-source, monotone, max pct is 1.0") {
    val d = Seq(
      (1L, "a", "x"), (2L, "a b", "x"), (3L, "a b c", "x"),
      (4L, "a", "y"), (5L, "a b c d", "y")
    ).map { case (id, t, s) => (id, t, s) }.toDF("doc_id", "text", "source")
    val rows = graft.ext.Corpus.qualityPercentile(d).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("token_cnt"), r.getAs[Double]("pct")))
    assert(rows.filter(_._1 == "x").map(_._3).toSet == Set(1.0 / 3, 2.0 / 3, 1.0))
    assert(rows.filter(_._1 == "y").map(_._3).toSet == Set(0.5, 1.0))
  }

  test("blockedMatches: in-block hits, cross-block misses, oversized blocks excluded") {
    val d = Seq(
      "red bolt", "rod bolt",      // distance 1, same block
      "red bolt",                  // duplicate mention collapses
      "red jolt",                  // edit in the BLOCKING token: documented miss
      "x gear", "y gear", "z gear" // oversized block under maxBlock = 2
    ).toDF("name")
    val m = graft.ext.Entity.blockedMatches(d, "name", 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getAs[Int]("distance")))
    // uncapped: the bolt pair plus all three gear pairs; never the
    // cross-block "red jolt" despite distance 1 from "red bolt"
    assert(m.toSet == Set(("red bolt", "rod bolt", 1),
      ("x gear", "y gear", 1), ("x gear", "z gear", 1), ("y gear", "z gear", 1)))
    val capped = graft.ext.Entity.blockedMatches(d, "name", 2, maxBlock = 2)
      .collect().map(r => (r.getString(0), r.getString(1)))
    // gear block (3 names) excluded wholesale by the cap; bolt pair stays
    assert(capped.toSet == Set(("red bolt", "rod bolt")))
  }

  test("foreachBatch streaming upsert maintains the SCD-2 dimension across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    // the standard streaming->warehouse loop: each micro-batch of
    // attribute updates is applied with the same Scd2.merge the batch
    // path uses; the evolving dimension must end bit-identical to
    // applying the updates by hand
    var dim = Seq((1L, "A", java.sql.Date.valueOf("2021-01-01"), null.asInstanceOf[java.sql.Date], true))
      .toDF("loan_id", "status", "valid_from", "valid_to", "is_current")
    val mem = MemoryStream[(Long, String, String)]
    val q = mem.toDF().toDF("loan_id", "status", "eff")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = batch.collect() // one effective date per micro-batch here
        if (rows.nonEmpty) {
          val eff = rows.head.getString(2)
          val inc = rows.map(r => (r.getLong(0), r.getString(1))).toSeq
            .toDF("loan_id", "status")
          // localCheckpoint cuts the plan chain — without it every batch
          // would stack another merge over the whole prior lineage
          dim = graft.operators.Scd2.merge(dim, inc, "loan_id", Seq("status"),
            lit(eff).cast("date")).localCheckpoint(true)
        }
        ()
      }.start()
    try {
      mem.addData((1L, "B", "2021-02-01"), (2L, "A", "2021-02-01"))
      q.processAllAvailable()
      // loan 1's second update is a no-op (same status); loan 2 changes
      mem.addData((1L, "B", "2021-03-01"), (2L, "C", "2021-03-01"))
      q.processAllAvailable()
    } finally q.stop()
    val got = dim.select(col("loan_id"), col("status"),
        col("valid_from").cast("string"), col("valid_to").cast("string"), col("is_current"))
      .as[(Long, String, String, Option[String], Boolean)].collect().toSet
    assert(got == Set(
      (1L, "A", "2021-01-01", Some("2021-02-01"), false),
      (1L, "B", "2021-02-01", None, true),
      (2L, "A", "2021-02-01", Some("2021-03-01"), false),
      (2L, "C", "2021-03-01", None, true)))
  }

  test("stream-static join: each micro-batch enriches against the static dimension") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "mortgage"), (2L, "auto")).toDF("loan_id", "product_type")
    val mem = MemoryStream[(Long, Int)]
    val q = mem.toDF().toDF("loan_id", "dpd")
      .join(dim, Seq("loan_id"), "left") // static side re-read per batch
      .writeStream.format("memory").queryName("enrich_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L, 5), (3L, 9))
      q.processAllAvailable()
      mem.addData((2L, 0))
      q.processAllAvailable()
      val got = spark.table("enrich_stream")
        .as[(Long, Int, Option[String])].collect().toSet
      assert(got == Set((1L, 5, Some("mortgage")), (3L, 9, None), (2L, 0, Some("auto"))))
    } finally q.stop()
  }

  test("streaming session_window: sessions close when the watermark passes; chunking-invariant") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val q = mem.toDF().toDF("user_id", "tss")
      .withWatermark("tss", "0 seconds")
      .groupBy(col("user_id"), session_window(col("tss"), "10 minutes").as("sw"))
      .agg(count(lit(1)).as("events"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("s"),
        unix_micros(col("sw.end")).as("e"), col("events"))
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode(OutputMode.Append()).start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // session A: two events 5 min apart (merge); delivered in two batches
      mem.addData((1L, ts("2021-01-01 10:00:00")))
      q.processAllAvailable()
      mem.addData((1L, ts("2021-01-01 10:05:00")))
      q.processAllAvailable()
      // watermark advance: a much later event closes session A
      mem.addData((1L, ts("2021-01-01 12:00:00")))
      q.processAllAvailable()
      val got = spark.table("sess_stream")
        .as[(Long, Long, Long, Long)].collect().toSet
      // one MERGED session despite chunked delivery: [10:00, 10:05+10min)
      val startUs = ts("2021-01-01 10:00:00").getTime * 1000L
      val endUs = ts("2021-01-01 10:15:00").getTime * 1000L
      assert(got == Set((1L, startUs, endUs, 2L)),
        s"expected the closed merged session, got $got")
    } finally q.stop()
  }

  test("blockedMatchesMulti: the first-token pass recovers cross-block typos") {
    val d = Seq("red bolt", "red jolt", "rod bolt").toDF("name")
    val single = graft.ext.Entity.blockedMatches(d, "name", 2)
      .select("name_a", "name_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    // head-noun blocking misses red bolt ~ red jolt (the typo IS the noun)
    assert(single == Set(("red bolt", "rod bolt")))
    val multi = graft.ext.Entity.blockedMatchesMulti(d, "name", 2)
      .select("name_a", "name_b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(multi == Set(("red bolt", "rod bolt"), ("red bolt", "red jolt")))
  }

  test("canonicalize: chains collapse to one family; unmatched names are self-canonical") {
    // aa bolt ~ ab bolt (1) ~ bb bolt (1), but aa~bb is distance 2 > 1:
    // only the transitive closure puts all three in one family
    val d = Seq((10L, "aa bolt"), (20L, "ab bolt"), (30L, "bb bolt"), (40L, "zz gear"))
      .toDF("id", "name")
    val got = graft.ext.Entity.canonicalize(d, "id", "name", 1)
      .select(col("id"), col("canonical_name"))
      .as[(Long, String)].collect().toMap
    // canonical = name of the minimum id in the family (10 -> "aa bolt")
    assert(got == Map(10L -> "aa bolt", 20L -> "aa bolt", 30L -> "aa bolt",
      40L -> "zz gear"))
  }

  test("CountMinSketch: estimates dominate exact counts, partition-invariant, linear merge") {
    import org.apache.spark.sql.graft.CountMinSketch
    val d = 3; val w = 8 // tiny width: collisions guaranteed over 40 keys
    val rows = (0L until 400L).map(i => i % 40L).toDF("k")
    def estimates(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val sk = df.agg(CountMinSketch.cms(col("k"), d, w).as("sketch"))
      df.distinct().join(broadcast(sk))
        .select(col("k"), CountMinSketch.estimate(col("sketch"), col("k"), d, w).as("est"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val est = estimates(rows)
    // every key occurs exactly 10 times; CMS never undercounts
    assert(est.values.forall(_ >= 10L))
    // width 8 over 40 keys MUST collide somewhere: some strict overcount
    assert(est.values.exists(_ > 10L))
    // the grid is a deterministic function of the multiset, not layout
    assert(estimates(rows.repartition(17)) == est)
    // linearity: grid(union) = grid(a) + grid(b), elementwise
    val half1 = rows.limit(200)
    val g = rows.agg(CountMinSketch.cms(col("k"), d, w)).collect().head.getSeq[Long](0)
    val g1 = half1.agg(CountMinSketch.cms(col("k"), d, w)).collect().head.getSeq[Long](0)
    val g2 = rows.exceptAll(half1).agg(CountMinSketch.cms(col("k"), d, w))
      .collect().head.getSeq[Long](0)
    assert(g.indices.forall(i => g(i) == g1(i) + g2(i)))
  }

  test("graft_cms is SQL-callable through the extensions installer, grid equals the DataFrame path") {
    import org.apache.spark.sql.graft.CountMinSketch
    val df = (0L until 100L).map(i => i % 11L).toDF("k")
    val viaApi = df.agg(CountMinSketch.cms(col("k"), 2, 16)).collect().head.getSeq[Long](0)
    df.createOrReplaceTempView("v_cms")
    val viaSql = spark.sql("SELECT graft_cms(k, 2, 16) FROM v_cms").collect().head.getSeq[Long](0)
    assert(viaSql == viaApi)
  }

  test("BloomFilter: no false negatives, false positives exist, partition-invariant, OR merge") {
    import org.apache.spark.sql.graft.BloomFilter
    val bits = 512; val k = 3 // tiny filter: ~300 of 512 bits set → FPs guaranteed
    val members = (0L until 100L).toDF("k")
    def words(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.agg(BloomFilter.bloom(col("k"), bits, k)).collect().head.getSeq[Long](0)
    val w = words(members)
    assert(w.length == bits / 32)
    // 32-bit packing contract: the high half of every word stays clear
    // (the property that keeps the DuckDB twin shift-overflow-safe)
    assert(w.forall(x => x >= 0L && x < (1L << 32)))
    def probe(df: org.apache.spark.sql.DataFrame): Map[Long, Boolean] = {
      val sk = members.agg(BloomFilter.bloom(col("k"), bits, k).as("sketch"))
      df.join(broadcast(sk))
        .select(col("k"), BloomFilter.mightContain(col("sketch"), col("k"), bits, k).as("m"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }
    // every member answers "maybe" — a Bloom filter never false-negatives
    assert(probe(members).values.forall(identity))
    val non = probe((1000L until 2000L).toDF("k"))
    // a half-full 512-bit filter MUST pass some stranger (the approximation)...
    assert(non.values.exists(identity))
    // ...and rejects most (the definitely-absent guarantee doing its job)
    assert(non.values.count(!_) > 500)
    // the bits are a function of the SET, not the partition layout
    assert(words(members.repartition(17)) == w)
    // merge is bitwise OR: words(a ∪ b) = words(a) | words(b)
    val half = members.limit(50)
    val w1 = words(half)
    val w2 = words(members.exceptAll(half))
    assert(w.indices.forall(i => w(i) == (w1(i) | w2(i))))
  }

  test("graft_bloom is SQL-callable through the extensions installer, words equal the DataFrame path") {
    import org.apache.spark.sql.graft.BloomFilter
    val df = (0L until 100L).map(i => i * 7L).toDF("k")
    val viaApi = df.agg(BloomFilter.bloom(col("k"), 256, 2)).collect().head.getSeq[Long](0)
    df.createOrReplaceTempView("v_bloom")
    val viaSql = spark.sql("SELECT graft_bloom(k, 256, 2) FROM v_bloom")
      .collect().head.getSeq[Long](0)
    assert(viaSql == viaApi)
  }

  test("stream-static bloom probe: streaming-ingest decontamination, batch-identical verdicts") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.graft.BloomFilter
    val bits = 4096; val k = 3
    // the held-out benchmark folds into one static bloom frame ONCE;
    // the ingest stream probes it per micro-batch (stream-static join
    // against one broadcast row — no streaming state at all)
    val evalDocs = Seq((1000L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val bf = graft.ext.MinHash.shingleHashes(evalDocs, 3)
      .select(explode(col("hashes")).as("s"))
      .agg(BloomFilter.bloom(col("s"), bits, k).as("bf"))
    val mem = MemoryStream[(Long, String)]
    val probed = graft.ext.MinHash.shingleHashes(mem.toDF().toDF("doc_id", "text"), 3)
      .join(broadcast(bf))
      .select(col("doc_id"),
        size(filter(col("hashes"),
          s => BloomFilter.mightContain(col("bf"), s, bits, k))).cast("long").as("bloom_hits"))
    val q = probed.writeStream.format("memory").queryName("bloom_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((1L, "xx alpha beta gamma yy"), (2L, "totally unrelated words here now"))
      q.processAllAvailable()
      mem.addData((3L, "beta gamma delta"))
      q.processAllAvailable()
      val got = spark.table("bloom_stream").as[(Long, Long)].collect().toMap
      assert(got(1L) >= 1L, s"shared shingle missed on the stream: $got") // no false negatives
      assert(got(2L) == 0L, s"clean doc flagged: $got") // definitely-absent holds per batch
      assert(got(3L) >= 1L, s"exact eval shingle missed: $got")
    } finally q.stop()
  }

  test("Profile: exact counts and min/max, KMV estimate tracks exact distinct, layout-invariant") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.dq.Profile.profile(df, Seq("doc_id", "n_chars"), Seq("lang", "source"))
    val rows = run(docs).collect()
    val p = rows.map(r => r.getString(0) -> r).toMap
    val nRows = docs.count()
    assert(p.keySet == Set("doc_id", "n_chars", "lang", "source"))
    assert(rows.forall(r => r.getLong(1) == nRows && r.getLong(2) == 0L))
    // the sketch estimate stays within sampling error of the truth
    // (k=64 → relative σ ≈ 1/√62 ≈ 13%)
    val exactIds = docs.select("doc_id").distinct().count().toDouble
    assert(math.abs(p("doc_id").getDouble(3) - exactIds) / exactIds < 0.4)
    // small-cardinality columns hold ALL their hashes → exact fallback
    val exactLang = docs.select("lang").distinct().count().toDouble
    assert(p("lang").getDouble(3) == exactLang)
    // min/max are the TRUE numeric extremes, cast after aggregating
    val Seq(mnS, mxS) = docs
      .select(min(col("n_chars")).cast("string"), max(col("n_chars")).cast("string"))
      .collect().head.toSeq.map(_.asInstanceOf[String])
    assert(p("n_chars").getString(4) == mnS && p("n_chars").getString(5) == mxS)
    // the profile is a function of the table, not the partition layout
    assert(run(docs.repartition(13)).collect().toSet == rows.toSet)
  }

  test("Profile: temporal min/max native-typed, histogram counts clamp and sum to n_nonnull") {
    import graft.dq.Profile
    val df = Seq(
      (1L, "2024-03-05", "2024-03-05 10:15:30", 50L),
      (2L, "2023-11-20", "2023-11-20 00:00:00", 150L),
      (3L, "2024-01-09", "2024-01-09 23:59:59", -17L), // clamps into bucket 0
      (4L, null, null, 9999L))                          // clamps into the last bucket
      .toDF("id", "d_raw", "ts_raw", "v")
      .withColumn("d", to_date(col("d_raw")))
      .withColumn("ts", to_timestamp(col("ts_raw")))
    val rows = Profile.profile(df, Seq("id", "v"), Nil,
        dateCols = Seq("d"), timestampCols = Seq("ts"),
        hist = Seq(Profile.HistSpec("v", 0.0, 100.0, 4),
          // DATE histogram in epoch days: 30-day buckets from 2023-11-01
          // (epoch day 19662) — 2023-11-20 → bucket 0, 2024-01-09 →
          // bucket 2, 2024-03-05 → clamps into the last bucket
          Profile.HistSpec("d", 19662.0, 30.0, 4))).collect()
    val p = rows.map(r => r.getString(0) -> r).toMap
    // native DATE ordering, ISO rendering
    assert(p("d").getString(4) == "2023-11-20" && p("d").getString(5) == "2024-03-05")
    assert(p("d").getLong(2) == 1L) // the null date is counted
    // native TIMESTAMP ordering, explicit second-precision rendering
    assert(p("ts").getString(4) == "2023-11-20 00:00:00")
    assert(p("ts").getString(5) == "2024-03-05 10:15:30")
    // three distinct dates → small-cardinality exact fallback
    assert(p("d").getDouble(3) == 3.0)
    // hist: -17 clamps into bucket 0, 9999 into bucket 3; sums to n_nonnull
    assert(p("v").getString(6) == "2,1,0,1")
    // date hist over epoch days: 19681→b0, 19731→b2, 19787→clamp b3;
    // the null date is excluded, so counts sum to n_nonnull = 3
    assert(p("d").getString(6) == "1,0,1,1")
    assert(p("id").isNullAt(6)) // no spec → NULL hist_cnts
    // hist-free call keeps the original six-column schema
    assert(Profile.profile(df, Seq("id"), Nil).columns.toSeq ==
      Seq("col_name", "n_rows", "n_nulls", "distinct_est", "min_str", "max_str"))
    // a spec naming an unprofiled column fails loudly
    intercept[IllegalArgumentException] {
      Profile.profile(df, Seq("id"), Nil, hist = Seq(Profile.HistSpec("v", 0, 1, 2)))
    }
  }

  test("bpePairCounts: pairs weighted by word frequency, 1-char words skipped, ordered ties") {
    val docs = Seq((1L, "ab ab cd x"), (2L, "ab")).toDF("doc_id", "text")
    // word frequencies ab=3, cd=1, x=1; pairs enumerated once per word
    // TYPE and weighted — "x" (1 char) contributes nothing
    val got = graft.ext.Text.bpePairCounts(docs, 10).as[(String, Long)].collect().toSeq
    assert(got == Seq(("ab", 3L), ("cd", 1L)))
    // the k cutoff follows the (cnt DESC, pair ASC) total order
    val cut = graft.ext.Text.bpePairCounts(Seq((1L, "zz aa")).toDF("doc_id", "text"), 1)
      .as[(String, Long)].collect().toSeq
    assert(cut == Seq(("aa", 1L)))
    // longer words emumerate every adjacent pair
    val tri = graft.ext.Text.bpePairCounts(Seq((1L, "abc")).toDF("doc_id", "text"), 10)
      .as[(String, Long)].collect().toSeq
    assert(tri == Seq(("ab", 1L), ("bc", 1L)))
  }

  test("invertedIndex: true df with capped smallest-id postings in numeric order") {
    val corpus = (1L to 30L).map(i => (i, s"common w$i")).toDF("doc_id", "text")
    val got = graft.ext.Text.invertedIndex(corpus, maxPostings = 5).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // df reports the TRUE frequency; the posting list caps at the
    // 5 smallest doc ids — truncation is visible, never silent
    assert(got("common") == ((30L, "1,2,3,4,5")))
    assert(got("w7") == ((1L, "7")))
    // numeric, not lexicographic, posting order ("9" > "10" as strings)
    val tie = Seq((9L, "shared"), (10L, "shared"), (100L, "shared")).toDF("doc_id", "text")
    val p = graft.ext.Text.invertedIndex(tie, 5).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(p("shared") == "9,10,100")
    // per-doc-distinct: a term repeated inside one doc counts once
    val rep = Seq((1L, "dup dup dup")).toDF("doc_id", "text")
    val r = graft.ext.Text.invertedIndex(rep, 5).collect().head
    assert(r.getLong(1) == 1L && r.getString(2) == "1")
  }

  test("bm25TopDocs: idf weighting, length normalization, absent-term zero slots") {
    // doc 1 carries the RARE query term; docs 2..9 carry only the
    // common one; doc 10 matches nothing. BM25 must rank the rare-term
    // doc first (idf dominates), include common-only docs after, and
    // exclude no-match docs entirely (no zero-score padding rows).
    val corpus = (Seq((1L, "rare common filler"), (10L, "nothing here")) ++
      (2L to 9L).map(i => (i, "common filler filler"))).toDF("doc_id", "text")
    val got = graft.ext.Text.bm25TopDocs(corpus, Seq("rare", "common"), k = 20)
      .as[(Int, Long, Double)].collect().toSeq
    assert(got.head._2 == 1L, s"rare-term doc not ranked first: $got")
    assert(got.map(_._2).toSet == (1L to 9L).toSet, s"wrong doc set: $got")
    assert(got.map(_._1) == (1 to 9), s"ranks not dense: $got")
    assert(got.map(_._3) == got.map(_._3).sorted.reverse, s"not score-desc: $got")
    // length normalization: same tf, shorter doc scores higher (b > 0)
    val lenCorpus = Seq((1L, "term pad"), (2L, "term pad pad pad pad pad"))
      .toDF("doc_id", "text")
    val byLen = graft.ext.Text.bm25TopDocs(lenCorpus, Seq("term"), k = 2)
      .as[(Int, Long, Double)].collect().sortBy(_._2)
    assert(byLen(0)._3 > byLen(1)._3,
      s"shorter doc did not outscore longer at equal tf: ${byLen.toSeq}")
    // empty corpus degrades to an empty frame, not a 0/0 avgdl
    assert(graft.ext.Text.bm25TopDocs(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), Seq("x"), 5).count() == 0L)
    // duplicate query terms would double-count their fixed-order slots
    intercept[IllegalArgumentException] {
      graft.ext.Text.bm25TopDocs(corpus, Seq("a", "a"), 5)
    }
  }

  test("sketches aggregate across streaming micro-batches: final state equals the batch sketch") {
    // micro-batch boundaries force buffer serialize→store→restore→merge
    // cycles through the state store — the merge-safety the sketches
    // claim, exercised on the streaming engine itself
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.graft.{BloomFilter, KmvDistinct}
    val mem = MemoryStream[(String, Long)]
    def sketchAgg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("event_type")).agg(
        KmvDistinct.kmv(KmvDistinct.hashColumn(col("user_id")), 16).as("est"),
        BloomFilter.bloom(col("user_id"), 256, 2).as("bf"))
    val q = sketchAgg(mem.toDF().toDF("event_type", "user_id"))
      .writeStream.format("memory").queryName("sketch_stream")
      .outputMode(OutputMode.Complete()).start()
    val rows = Seq(("a", 1L), ("a", 2L), ("b", 1L), ("a", 3L), ("a", 2L), ("b", 99L))
    try {
      mem.addData(rows.take(3): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3): _*) // second batch merges into restored state
      q.processAllAvailable()
      val got = spark.table("sketch_stream")
        .as[(String, Double, Seq[Long])].collect().map(t => t._1 -> (t._2, t._3)).toMap
      val batch = sketchAgg(rows.toDF("event_type", "user_id"))
        .as[(String, Double, Seq[Long])].collect().map(t => t._1 -> (t._2, t._3)).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("external-benchmark variants equal the residue-carved spelling on the same split") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs.filter(col("doc_id") % 40 =!= 0)
    val eval = docs.filter(col("doc_id") % 40 === 0)
    assert(graft.ext.Corpus.contaminationFrames(train, eval, 3).collect().toSet ==
      graft.ext.Corpus.contamination(docs, 3).collect().toSet)
    assert(graft.ext.Corpus.bloomContaminationFrames(train, eval, 3).collect().toSet ==
      graft.ext.Corpus.bloomContamination(docs, 3).collect().toSet)
  }

  test("Profile.topValues excludes NULLs and breaks count ties by value") {
    val df = Seq(
      ("a", "x"), ("a", "x"), ("a", "y"), ("a", null), // a: x=2, y=1
      ("b", "x"), ("c", "x"), ("c", "x"), ("d", "x"), ("e", "x"), ("f", "x"),
      ("g", "x")).toDF("u", "v")
    val got = graft.dq.Profile.topValues(df, Seq("u", "v"), k = 3)
      .as[(String, String, Long)].collect().toSet
    // u counts: a=4, c=2, then six singletons — the lexicographically
    // smallest singleton (b) takes the last slot deterministically
    assert(got.filter(_._1 == "u") == Set(("u", "a", 4L), ("u", "c", 2L), ("u", "b", 1L)))
    // v: the NULL is excluded, x=9, y=1
    assert(got.filter(_._1 == "v") == Set(("v", "x", 9L), ("v", "y", 1L)))
    assert(got.size == 5)
  }

  test("bloomContamination dominates the exact audit: bloom_hits >= eval_hits, no clean doc flagged dirty") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = graft.ext.Corpus.contamination(docs, 3)
      .select(col("doc_id"), col("eval_hits"))
    val bloom = graft.ext.Corpus.bloomContamination(docs, 3)
    val joined = bloom.join(exact, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bloom_hits"), col("flagged"),
        coalesce(col("eval_hits"), lit(0L)).as("eval_hits"))
      .collect()
    assert(joined.nonEmpty)
    // no false negatives: every exactly-shared shingle is also a probe hit,
    // and every exactly-contaminated doc is flagged
    assert(joined.forall(r => r.getLong(1) >= r.getLong(3)))
    assert(joined.forall(r => r.getLong(3) == 0L || r.getBoolean(2)))
  }

  test("cluster-routed semantic contamination: streaming probes match the batch twin bit-identically") {
    implicit val sqlCtx = spark.sqlContext
    // eval = 12 vectors in two tight 4-d blobs; probes = near-dups of
    // blob A (contaminated), plus orthogonal clean vectors
    val eval = (1 to 12).map { i =>
      val a = if (i % 2 == 0) 1.0f else 0.9f
      if (i <= 6) (1000L + i, Array(a, 1.0f, 0.0f, 0.05f * (i % 3)))
      else (1000L + i, Array(0.0f, 0.05f * (i % 3), a, 1.0f))
    }.toDF("vec_id", "embedding")
    val probeRows: Seq[(Long, Array[Float])] = Seq(
      (1L, Array(0.95f, 1.0f, 0.0f, 0.0f)),  // near blob A -> contaminated
      (2L, Array(0.0f, 0.0f, 1.0f, 0.95f)),  // near blob B -> contaminated
      (3L, Array(0.0f, 1.0f, 0.0f, -1.0f)),  // oblique -> below threshold
      (4L, Array(-1.0f, 0.0f, -1.0f, 0.0f))) // anti-aligned -> clean
    val batch = graft.ext.Cluster.semanticContamination(
        probeRows.toDF("vec_id", "embedding"), eval,
        k = 2, iters = 2, threshold = 0.8, nProbe = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(batch.nonEmpty)
    assert(batch.map(_._1).contains(1L) && batch.map(_._1).contains(2L))
    assert(!batch.map(_._1).contains(4L))
    // the SAME operator over a MemoryStream probe side: every probe step
    // is stateless-narrow + one stream-static broadcast join, so the
    // chunk boundaries cannot change a single bit of the verdicts
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.ext.Cluster.semanticContamination(
        mem.toDF().toDF("vec_id", "embedding"), eval,
        k = 2, iters = 2, threshold = 0.8, nProbe = 2)
      .writeStream.format("memory").queryName("sem_contam_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(probeRows.take(1))
      q.processAllAvailable()
      mem.addData(probeRows.drop(1))
      q.processAllAvailable()
      val streamed = spark.table("sem_contam_stream")
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
    } finally q.stop()
  }

  test("trained-IVF recall beats arithmetic-centroid IVF on a clustered corpus") {
    // The regime trained centroids exist for: REAL clusters. 200 vectors
    // in 8 tight 16-d clusters (cluster c spikes dims 2c+1/2c+2, plus
    // small deterministic noise). Arithmetic-derived cells split/merge
    // these clusters arbitrarily; k-means cells track them, so probing
    // the 2 nearest TRAINED cells recovers more true neighbors.
    val d = 16
    val df = spark.range(200).select(col("id").as("vec_id"),
      expr(s"""transform(sequence(1, $d), i -> CAST(
           CASE WHEN i = (id % 8) * 2 + 1 OR i = (id % 8) * 2 + 2 THEN 1.0
                ELSE pmod(id * 2654435761 + i * 40503, 1000003) / 1000003.0 * 0.2 - 0.1
           END AS FLOAT))""").as("embedding"))
    def pairs(res: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      res.select("vec_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(graft.ext.Sim.bruteTopK(df, 5))
    val untrained = pairs(graft.ext.Sim.ivfTopK(df, 5, 8, 2))
    val trained = pairs(graft.ext.Sim.ivfTopKTrained(df,
      graft.ext.Cluster.kmeansCentroids(df, k = 8, iters = 2), 5, 2))
    val recallUntrained = (truth intersect untrained).size.toDouble / truth.size
    val recallTrained = (truth intersect trained).size.toDouble / truth.size
    assert(recallTrained > recallUntrained,
      s"trained $recallTrained <= untrained $recallUntrained")
    assert(recallTrained >= 0.9, s"trained recall $recallTrained < 0.9")
    // IVF-PQ on the same fixture: identical routing, candidates scored
    // against 4-int codes instead of 16 floats — on tight clusters the
    // reconstruction tracks the cluster, so compression costs little
    // recall (and can never beat its own exact-scored routing ceiling)
    val pq = pairs(graft.ext.Sim.ivfPqTopK(df, m = 4, kSub = 8,
      coarseK = 8, nProbe = 2, k = 5))
    val recallPq = (truth intersect pq).size.toDouble / truth.size
    assert(recallPq >= 0.5, s"ivfpq recall $recallPq < 0.5")
    assert(recallPq <= recallTrained + 1e-9,
      s"ivfpq $recallPq exceeded its exact-scored routing ceiling $recallTrained")
    // RESIDUAL coding at the same bit budget: the codebook describes a
    // cell's diameter instead of the whole corpus, so recall must not
    // drop below raw coding (and still can't beat its routing ceiling)
    val pqRes = pairs(graft.ext.Sim.ivfPqResidualTopK(df, m = 4, kSub = 8,
      coarseK = 8, nProbe = 2, k = 5))
    val recallPqRes = (truth intersect pqRes).size.toDouble / truth.size
    assert(recallPqRes >= recallPq - 1e-9,
      s"residual coding $recallPqRes fell below raw coding $recallPq at equal bits")
    assert(recallPqRes <= recallTrained + 1e-9,
      s"ivfpq_res $recallPqRes exceeded its exact-scored routing ceiling $recallTrained")
    // IndexRefine: exact re-scoring of the ADC top-R can only PROMOTE
    // true neighbors (a truth pair in the ADC top-5 stays in the exact
    // top-5 of any superset — at most 4 corpus vectors beat it exactly),
    // so refined recall is sandwiched: ≥ raw ADC ranking, ≤ the ceiling
    val pqRefined = pairs(graft.ext.Sim.ivfPqRefinedTopK(df, m = 4, kSub = 8,
      coarseK = 8, nProbe = 2, k = 5, refineR = 25))
    val recallRefined = (truth intersect pqRefined).size.toDouble / truth.size
    assert(recallRefined >= recallPq - 1e-9,
      s"refine $recallRefined fell below the unrefined ranking $recallPq")
    assert(recallRefined <= recallTrained + 1e-9,
      s"refine $recallRefined exceeded its routing ceiling $recallTrained")
    // with R covering EVERY candidate the refine IS the exact-scored
    // routing: identical rows (ids, cosines, ranks) to trained-IVF —
    // the two plans are different spellings of one computation.
    // Fixture precondition for the exact set equality: every fixture
    // vector with exact nsq > 0 also has a nonzero PQ reconstruction
    // (rnsq > 0) — the refine path screens candidates on rnsq > 0 while
    // trained-IVF screens on nsq > 0, so a vector whose PQ
    // reconstruction collapsed to zero would drop a row here even
    // though the operator is correct. Holds on this spread fixture;
    // revisit if the fixture geometry changes.
    def rows(res: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
      res.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val refinedAll = rows(graft.ext.Sim.ivfPqRefinedTopK(df, m = 4, kSub = 8,
      coarseK = 8, nProbe = 2, k = 5, refineR = 200))
    val trainedRows = rows(graft.ext.Sim.ivfTopKTrained(df,
      graft.ext.Cluster.kmeansCentroids(df, k = 8, iters = 2), 5, 2))
    // (id, neighbor, rank) triples compare exactly; the cosines come
    // from two different expression pipelines over the same floats, so
    // they get a tolerance rather than bitwise set equality (a bitwise
    // match would hinge on both plans folding the arithmetic the same
    // way — a fixture coincidence, not the operator contract)
    def keyed(s: Set[(Long, Long, Double, Int)]): Map[(Long, Long, Int), Double] =
      s.map { case (v, nb, c, rk) => (v, nb, rk) -> c }.toMap
    val (rm, tm) = (keyed(refinedAll), keyed(trainedRows))
    assert(rm.keySet == tm.keySet,
      s"refine at R=all != exact-scored routing (${refinedAll.size} vs ${trainedRows.size} rows)")
    rm.foreach { case (kk, c) =>
      assert(math.abs(c - tm(kk)) <= 1e-12, s"cosine diverged at $kk: $c vs ${tm(kk)}")
    }
    // the tuning curve over the same corpus: recall must be monotone in
    // nProbe, candidates strictly so, the full-probe row must hit 1.0
    // (probing every cell IS brute force over same-cell candidates plus
    // the rest — with all 8 cells probed nothing is screened out), and
    // the nProbe=2 point must reproduce the trained-IVF recall exactly
    // (same routing, same scoring — two spellings of one number)
    val curve = graft.ext.Sim.ivfNprobeCurve(df, k = 5, coarseK = 8, iters = 2,
      nProbes = Seq(1, 2, 4, 8)).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(3), r.getDouble(4))))
      .sortBy(_._1)
    assert(curve.map(_._1).toSeq == Seq(1, 2, 4, 8))
    val recalls = curve.map(_._2._3)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b + 1e-12 },
      s"recall not monotone: ${recalls.mkString(",")}")
    val cands = curve.map(_._2._1)
    assert(cands.zip(cands.tail).forall { case (a, b) => a < b },
      s"candidates not strictly increasing: ${cands.mkString(",")}")
    assert(recalls.last == 1.0, s"full-probe recall ${recalls.last} != 1.0")
    val np2 = curve.find(_._1 == 2).get._2._3
    assert(math.abs(np2 - recallTrained) < 1e-12,
      s"curve np=2 recall $np2 != trained-IVF recall $recallTrained")
  }

  test("bpeTrainMerges: hand-traced merges, tie order, overlap convention, early stop") {
    def merges(texts: Seq[String], k: Int): Seq[(Int, String, String, String, Long)] =
      graft.ext.Text.bpeTrainMerges(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"), k)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).sortBy(_._1).toSeq
    // word types: "abab" freq 3, "cd" freq 3. Round 1: (a,b) weighted
    // 2·3=6 beats (b,a)=3 and (c,d)=3. Round 2: (ab,ab)=3 ties (c,d)=3,
    // tie order (l, r) picks ab < c. Round 3: (c,d). Round 4: no pairs
    // remain -> early stop at 3 rows though 6 were requested.
    assert(merges(Seq("abab abab cd", "abab cd cd"), 6) == Seq(
      (1, "a", "b", "ab", 6L),
      (2, "ab", "ab", "abab", 3L),
      (3, "c", "d", "cd", 3L)))
    // leftmost-non-overlapping: 'aaa' merges to (aa)(a), so round 2
    // sees the pair (aa, a) — never (a, aa)
    assert(merges(Seq("aaa"), 4) == Seq(
      (1, "a", "a", "aa", 2L),
      (2, "aa", "a", "aaa", 1L)))
  }

  test("bpeTrainMerges: right symbol that prefixes a longer merged symbol is NOT fused") {
    // 'ab abc bc bc': round 1 merges (b,c)→bc (cnt 3), so 'abc' is
    // [a, bc]. Round 2 merges (a,b) (tie with (a,bc) at cnt 1, r
    // order 'b' < 'bc') — it must apply ONLY to 'ab', never to
    // [a, bc] whose right symbol merely STARTS with b: a
    // leading-marker-only encoding fuses a+bc there, inventing a
    // symbol no merge produced and killing round 3's (a,bc) pair.
    val docs = Seq((0L, "ab abc bc bc")).toDF("doc_id", "text")
    val got = graft.ext.Text.bpeTrainMerges(docs, merges = 6)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1, "b", "c", "bc", 3L),
      (2, "a", "b", "ab", 1L),
      (3, "a", "bc", "abc", 1L)), s"merge table diverged: $got")
    // at merges=2 'abc' must still be the two symbols [a, bc]:
    // 1 (ab) + 2 (a,bc) + 1 + 1 = 5 bpe tokens over 9 chars
    val enc = graft.ext.Text.bpeEncodeCounts(docs, merges = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).head
    assert(enc == ((5L, 9L)), s"encode counts diverged: $enc")
  }

  test("bpeTrainMergesBatched: batch=1 replays the sequential trainer; batched invariants hold") {
    def table(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1).toSeq
    // batch=1: every round IS the sequential argmax (the candidate
    // window is a prefix of the same total order), so the two trainers
    // must emit the identical merge table — counts included
    for (corpus <- Seq(Seq("abab abab cd", "abab cd cd"), Seq("ab abc bc bc"), Seq("aaa"))) {
      val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      assert(table(graft.ext.Text.bpeTrainMergesBatched(docs, rounds = 6, batch = 1)) ==
        table(graft.ext.Text.bpeTrainMerges(docs, merges = 6)),
        s"batch=1 diverged from sequential on $corpus")
    }
    // batched over the driver corpus: a round's picks are pairwise
    // symbol-disjoint (what makes their replaces order-independent)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val vocab0 = graft.ext.Text.bpeVocabFromFreqs(graft.ext.Text.wordFreqAdd(docs))
    val (r1, _) = graft.ext.Text.bpeCoreBatched(vocab0, rounds = 1, batch = 8)
    assert(r1.nonEmpty && r1.length <= 8)
    val symSets = r1.map(m => Set(m._2, m._3, m._4)).toIndexedSeq
    for (a <- symSets.indices; b <- a + 1 until symSets.length)
      assert((symSets(a) intersect symSets(b)).isEmpty,
        s"round-1 picks share a symbol: ${symSets(a)} vs ${symSets(b)}")
    // four rounds deep: ranks are consecutive, the vocabulary's symbols
    // still partition every word exactly, and every multi-char symbol
    // is the `merged` of an emitted row (no invented symbols — the
    // invariant the prefix-collision bug broke)
    val (merges, vocab) = graft.ext.Text.bpeCoreBatched(vocab0, rounds = 4, batch = 8)
    assert(merges.map(_._1) == (1 to merges.length), "ranks not consecutive")
    assert(merges.length > 8, s"4 rounds yielded only ${merges.length} merges")
    val mergedSyms = merges.map(_._4).toSet
    vocab.select(col("term"), col("repr")).collect().foreach { r =>
      val syms = r.getString(1).split('\u001f').filter(_.nonEmpty)
      assert(syms.mkString("") == r.getString(0),
        s"symbols no longer partition '${r.getString(0)}': ${syms.toSeq}")
      syms.filter(_.length > 1).foreach(sym =>
        assert(mergedSyms.contains(sym), s"invented symbol '$sym'"))
    }
  }

  private def encRows(df: org.apache.spark.sql.DataFrame)
      : Map[Long, (Long, Long, Double)] =
    df.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap

  test("bpeEncodeWith: a shipped sequential merge table reproduces the inline encode") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    // merges=20 crosses the encoder's 16-replaces-per-checkpoint chunk
    // boundary — rank order must survive the chunked replay
    for (k <- Seq(6, 20)) {
      val table = graft.ext.Text.bpeTrainMerges(docs, merges = k)
      assert(encRows(graft.ext.Text.bpeEncodeWith(table, docs)) ==
        encRows(graft.ext.Text.bpeEncodeCounts(docs, merges = k)),
        s"table-driven encode != inline encode at merges=$k")
    }
  }

  test("bpeEncodeWith: batch=1 batched table encodes like the sequential trainer; bound enforced") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    // rounds=6/batch=1 IS the sequential trainer (prefix of the same
    // total order), so its table through the encoder must match the
    // sequential inline encode
    val table = graft.ext.Text.bpeTrainMergesBatched(docs, rounds = 6, batch = 1)
    assert(encRows(graft.ext.Text.bpeEncodeWith(table, docs)) ==
      encRows(graft.ext.Text.bpeEncodeCounts(docs, merges = 6)),
      "batched-table encode != sequential inline encode")
    // the bounded-driver-state contract is ENFORCED: a table past the
    // trainer's own 2048·64 ceiling fails loud instead of OOMing
    val huge = spark.range(2048L * 64L + 1L)
      .select((col("id") + 1).cast("int").as("merge_rank"),
        lit("a").as("left_sym"), lit("b").as("right_sym"))
    val err = intercept[IllegalArgumentException] {
      graft.ext.Text.bpeEncodeWith(huge, docs)
    }
    assert(err.getMessage.contains("bounded-driver-state"))
  }

  test("PNG codec: real zlib round-trip, multi-IDAT, CRC and malformation fail loud") {
    import graft.ext.Multimodal
    // id 6 hits the multi-IDAT split (6 % 3 == 0); id 7 the single-IDAT
    // path; both must reconstruct the exact generator arithmetic through
    // inflate + all five row filters (h >= 5 by construction)
    for (id <- Seq(6L, 7L)) {
      val (w, h) = (Multimodal.pngW(id), Multimodal.pngH(id))
      assert(h >= 5, "fixture must exercise every filter type")
      val d = Multimodal.decodePngBytes(id, Multimodal.pngBytes(id, w, h))
      assert((d.width, d.height, d.channels) == ((w, h, 3)))
      val expected = (0L until w.toLong * h * 3).map(i => (id + i) % 256).sum
      assert(d.pixel_sum == expected, s"id $id: ${d.pixel_sum} != $expected")
    }
    val good = Multimodal.pngBytes(9L, Multimodal.pngW(9L), Multimodal.pngH(9L))
    // flip one byte inside the first IDAT's data: CRC must catch it
    val corrupt = good.clone(); corrupt(8 + 12 + 13 + 12) =
      (corrupt(8 + 12 + 13 + 12) ^ 0x01).toByte
    val crcErr = intercept[IllegalArgumentException] {
      Multimodal.decodePngBytes(9L, corrupt) }
    assert(crcErr.getMessage.contains("CRC mismatch"), crcErr.getMessage)
    // truncation fails loud, never a silent partial decode
    val truncErr = intercept[IllegalArgumentException] {
      Multimodal.decodePngBytes(9L, good.take(good.length - 6)) }
    assert(truncErr.getMessage.contains("truncated"), truncErr.getMessage)
    // an unsupported color type is refused, not misparsed (rebuild the
    // IHDR with color type 6 and a RECOMPUTED CRC so only the type check
    // can object)
    val rgba = good.clone(); rgba(8 + 8 + 9) = 6.toByte
    val crc = new java.util.zip.CRC32(); crc.update(rgba, 12, 4 + 13)
    val cv = crc.getValue.toInt
    rgba(8 + 8 + 13) = ((cv >> 24) & 0xff).toByte
    rgba(8 + 8 + 13 + 1) = ((cv >> 16) & 0xff).toByte
    rgba(8 + 8 + 13 + 2) = ((cv >> 8) & 0xff).toByte
    rgba(8 + 8 + 13 + 3) = (cv & 0xff).toByte
    val typeErr = intercept[IllegalArgumentException] {
      Multimodal.decodePngBytes(9L, rgba) }
    assert(typeErr.getMessage.contains("unsupported PNG"), typeErr.getMessage)
  }

  test("HLL: register state is max-mergeable and IDEMPOTENT; estimate inside the error band") {
    import graft.operators.Hll
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .localCheckpoint(true)
    def state(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = state(Hll.hllAdd(ev, "event_id"))
    assert(full.nonEmpty && full.keySet.forall(b => b >= 0 && b < 256))
    // disjoint three-way split, both association orders
    val parts = Seq(0, 1, 2).map(m => Hll.hllAdd(ev.filter(col("event_id") % 3 === m), "event_id"))
    assert(state(Hll.mergeHll(Hll.mergeHll(parts(0), parts(1)), parts(2))) == full)
    assert(state(Hll.mergeHll(parts(0), Hll.mergeHll(parts(1), parts(2)))) == full)
    // OVERLAPPING deltas — the property the count-sum states do NOT
    // have: max absorbs duplicates, so replays/overlaps are harmless
    val a = Hll.hllAdd(ev.filter(col("event_id") % 3 =!= 2), "event_id") // thirds 0,1
    val b = Hll.hllAdd(ev.filter(col("event_id") % 3 =!= 0), "event_id") // thirds 1,2
    assert(state(Hll.mergeHll(a, b)) == full, "overlapping deltas must merge to the full sketch")
    assert(state(Hll.mergeHll(parts(0), parts(0))) == state(parts(0)), "merge must be idempotent")
    // estimate accuracy: within 3 standard errors (3·1.04/√256 ≈ 20%)
    val r = Hll.hllDistinct(ev, "event_id").collect().head
    val (est, exact) = (r.getDouble(2), r.getLong(3))
    assert(math.abs(est - exact) / exact < 0.20,
      s"raw HLL estimate $est vs exact $exact outside the 3σ band")
  }

  test("PNG ancillary chunks: skipped when valid, CRC-enforced when corrupt") {
    import graft.ext.Multimodal
    val good = Multimodal.pngBytes(7L, Multimodal.pngW(7L), Multimodal.pngH(7L))
    val base = Multimodal.decodePngBytes(7L, good)
    // splice a tEXt chunk (ancillary — decoders must skip unknown types)
    // right after IHDR (signature 8 + IHDR 25 = offset 33)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(java.nio.ByteBuffer.allocate(4).putInt(data.length).array())
      val tb = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.write(tb); out.write(data)
      val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(data)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
      out.toByteArray
    }
    val tExt = chunk("tEXt", "Comment spliced".getBytes("US-ASCII"))
    val spliced = good.take(33) ++ tExt ++ good.drop(33)
    assert(Multimodal.decodePngBytes(7L, spliced) == base,
      "a valid ancillary chunk must be skipped without changing the decode")
    // even a SKIPPED chunk's CRC is verified — corrupt media fails loud
    val bad = spliced.clone()
    bad(33 + 8 + 2) = (bad(33 + 8 + 2) ^ 0x01).toByte
    val err = intercept[IllegalArgumentException] {
      Multimodal.decodePngBytes(7L, bad) }
    assert(err.getMessage.contains("CRC mismatch"), err.getMessage)
  }

  test("GIF codec: LZW round-trip across width growth; hand-packed spec fixture decodes") {
    import graft.ext.Multimodal
    // round-trip: every fixture crosses the 9->10-bit code-width growth
    // (>= 256 pixels of period-256 content) and multi-sub-block packing;
    // id 10 ships INTERLACED (10 % 5 == 0) — the order-sensitive fold
    // proves its rows land back in logical positions, which the
    // order-invariant sum cannot
    for (id <- Seq(3L, 10L)) {
      val (w, h) = (Multimodal.gifW(id), Multimodal.gifH(id))
      assert(w * h >= 256, "fixture must cross a code-width growth")
      val d = Multimodal.decodeGifBytes(id, Multimodal.gifBytes(id, w, h))
      assert((d.width, d.height, d.channels) == ((w, h, 1)))
      val expected = (0L until w.toLong * h).map(i => (id + i) % 256).sum
      assert(d.pixel_sum == expected, s"id $id: ${d.pixel_sum} != $expected")
      val fold = (0L until w.toLong * h).foldLeft(0L)((a, i) =>
        (a * 1000003L + (id + i) % 256) % 2147483629L)
      assert(d.pixel_fold == fold, s"id $id: row placement broken (fold mismatch)")
    }
    // the interlaced container really is interlaced on the wire: its
    // image-descriptor flag byte carries 0x40
    val ibytes = Multimodal.gifBytes(10L, Multimodal.gifW(10L), Multimodal.gifH(10L))
    val descOff = 13 + 3 * 256 // header + screen descriptor + 256-entry GCT
    assert((ibytes(descOff) & 0xff) == 0x2c && (ibytes(descOff + 9) & 0x40) != 0,
      "id 10 should set the interlace flag")
    // HAND-PACKED fixture (indices [0,1,0], min code 2): codes
    // clear(100) 0(000) 1(001) 0(000 at STILL 3 bits — the decoder's
    // dictionary lags one entry) then EOI(0101 at 4 bits) packed
    // LSB-first = 0x44 0x50. Pins the bit-level format independently of
    // the encoder, so a symmetric encoder/decoder bug cannot hide.
    val bs = new java.io.ByteArrayOutputStream()
    bs.write("GIF87a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    bs.write(Array[Byte](3, 0, 1, 0)) // 3x1, little-endian
    bs.write(0xf1); bs.write(0); bs.write(0) // GCT present, 4 entries
    for (j <- 0 until 4) { bs.write(j * 80); bs.write(j * 80); bs.write(j * 80) }
    bs.write(0x2c); bs.write(Array[Byte](0, 0, 0, 0, 3, 0, 1, 0)); bs.write(0)
    bs.write(2) // LZW min code size
    bs.write(2); bs.write(0x44); bs.write(0x50) // one 2-byte sub-block
    bs.write(0); bs.write(0x3b)
    val d = Multimodal.decodeGifBytes(42L, bs.toByteArray)
    assert((d.width, d.height, d.pixel_sum) == ((3, 1, 1L)), d)
    // and the encoder produces EXACTLY those data bytes for [0,1,0]
    assert(Multimodal.lzwCompress(Array(0, 1, 0), 2).toSeq ==
      Seq(0x44.toByte, 0x50.toByte), "encoder bit packing drifted from the spec fixture")
    // truncation fails loud
    val good = Multimodal.gifBytes(3L, Multimodal.gifW(3L), Multimodal.gifH(3L))
    val err = intercept[IllegalArgumentException] {
      Multimodal.decodeGifBytes(3L, good.take(good.length - 3)) }
    assert(err.getMessage.contains("truncated") || err.getMessage.contains("trailer"),
      err.getMessage)
  }

  private def postState(df: org.apache.spark.sql.DataFrame)
      : Map[(Long, String), Long] =
    df.collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap

  private def bm25Rows(df: org.apache.spark.sql.DataFrame)
      : Seq[(Int, Long, Double)] =
    df.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq

  test("postingsAdd: the retrieval index composes exactly and searches bit-identically") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    val full = postState(graft.ext.Text.postingsAdd(docs))
    assert(full.nonEmpty)
    val parts = Seq(0, 1, 2).map(m =>
      graft.ext.Text.postingsAdd(docs.filter(col("doc_id") % 3 === m)))
    val leftAssoc = graft.ext.Text.mergePostings(
      graft.ext.Text.mergePostings(parts(0), parts(1)), parts(2))
    val rightAssoc = graft.ext.Text.mergePostings(
      parts(0), graft.ext.Text.mergePostings(parts(1), parts(2)))
    assert(postState(leftAssoc) == full, "merged postings != full postings")
    assert(postState(rightAssoc) == full, "merge is not associative")
    // the search off the merged state IS the single-pass search — ranks,
    // ids, AND the IEEE scores
    val qs = Seq("hash", "join", "vector", "window")
    assert(bm25Rows(graft.ext.Text.bm25TopDocsFromCounts(leftAssoc, qs, k = 20)) ==
      bm25Rows(graft.ext.Text.bm25TopDocs(docs, qs, k = 20)),
      "search from merged state != single-pass search")
    // the SAME state serves the other two read sides of the retrieval
    // family bit-identically
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(graft.ext.Text.tfIdfTopTermsFromCounts(leftAssoc,
        nDocs = docs.count(), k = 3)) ==
      rows(graft.ext.Text.tfIdfTopTerms(docs, 3)),
      "tf-idf from merged state != single pass")
    assert(rows(graft.ext.Text.invertedIndexFromCounts(leftAssoc, 20)) ==
      rows(graft.ext.Text.invertedIndex(docs, 20)),
      "inverted index from merged state != single pass")
  }

  test("postingsAdd: streaming ingest replays the single-pass search exactly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    val chunks = Seq(0, 1, 2).map(m =>
      docs.filter(col("doc_id") % 3 === m)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = graft.ext.Text.postingsAdd(batch.toDF())
        state = Some(state.fold(s)(p => graft.ext.Text.mergePostings(p, s))
          .localCheckpoint(true)) // materialize: the batch frame dies with the call
        ()
      }
      .outputMode(OutputMode.Update()).start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      val qs = Seq("hash", "join", "vector", "window")
      assert(bm25Rows(graft.ext.Text.bm25TopDocsFromCounts(state.get, qs, k = 20)) ==
        bm25Rows(graft.ext.Text.bm25TopDocs(docs, qs, k = 20)),
        "search from streamed state != single-pass search")
    } finally q.stop()
  }

  test("keep-best survivor: quality argmax per near-dup family, ties to min doc_id") {
    // the dedup_keep_best aggregation idiom on crafted frames (the full
    // composition is hash-proven by its oracle): min(struct(-margin,
    // doc_id)) must pick the highest margin, NEGATIVE margins included,
    // and break ties on the minimum id — never a per-component window
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("doc_id", "component_id")
    val margin = Seq((1L, 5L), (2L, 9L), (3L, 9L), (7L, -4L), (9L, -4L))
      .toDF("doc_id", "margin")
    val got = comp.join(margin, Seq("doc_id"))
      .groupBy(col("component_id"))
      .agg(count(lit(1)).as("members"),
        min(struct((-col("margin")).as("nm"), col("doc_id").as("d"))).as("w"))
      .select(col("component_id"), col("members"),
        col("w.d").as("keep_doc"), (-col("w.nm")).as("keep_margin"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      1L -> ((3L, 2L, 9L)),   // margin 9 beats 5; tie 2 vs 3 -> min id 2
      7L -> ((2L, 7L, -4L))), // all-negative family: keep min id at -4
      got)
  }

  test("cutContaminatedSpans: overlap spans excised, clean docs intact, covered docs drop") {
    val eval = Seq((100L, "the quick brown fox")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "x the quick brown fox y"),      // interior overlap -> "x y"
      (2L, "clean text entirely here"),     // no overlap -> unchanged
      (3L, "the quick brown fox")           // fully covered -> drops out
    ).toDF("doc_id", "text")
    val got = cutRows(graft.ext.Text.cutContaminatedSpans(train, eval, n = 3))
    assert(got == Map(
      1L -> (("x y", 2L, 4L)),
      2L -> (("clean text entirely here", 4L, 0L))), got)
    // the doc-drop rule is the degenerate case: doc 3 has no output row
    assert(!got.contains(3L))
    // overlapping matches merge into ONE span (no double-cutting): a
    // 5-token eval phrase cuts exactly its 5 tokens from a 7-token doc
    val eval2 = Seq((200L, "a b c d e")).toDF("doc_id", "text")
    val train2 = Seq((4L, "p a b c d e q")).toDF("doc_id", "text")
    assert(cutRows(graft.ext.Text.cutContaminatedSpans(train2, eval2, n = 3)) ==
      Map(4L -> (("p q", 2L, 5L))))
  }

  private def chunkState(df: org.apache.spark.sql.DataFrame)
      : Map[(Long, Long), (Long, Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) ->
      ((r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5)))).toMap

  test("cdcChunkAdd: chunk state composes exactly and replays the duplicate report") {
    // divisor=4 gives many chunk boundaries on the small corpus, so the
    // duplicate report is non-trivial (shared group prefixes — the
    // ScaleProof fixture rationale)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    val full = chunkState(graft.ext.Text.cdcChunkAdd(docs, n = 3, divisor = 4L))
    assert(full.nonEmpty)
    val parts = Seq(0, 1, 2).map(m =>
      graft.ext.Text.cdcChunkAdd(docs.filter(col("doc_id") % 3 === m),
        n = 3, divisor = 4L))
    val leftAssoc = graft.ext.Text.mergeChunkCounts(
      graft.ext.Text.mergeChunkCounts(parts(0), parts(1)), parts(2))
    val rightAssoc = graft.ext.Text.mergeChunkCounts(
      parts(0), graft.ext.Text.mergeChunkCounts(parts(1), parts(2)))
    assert(chunkState(leftAssoc) == full, "merged chunk state != full state")
    assert(chunkState(rightAssoc) == full, "merge is not associative")
    // the report off the merged state IS the single-pass report
    def report(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5)))).toMap
    val single = report(graft.ext.Text.cdcDupChunks(docs, n = 3, divisor = 4L))
    assert(single.nonEmpty, "fixture produced no duplicate chunks")
    assert(report(graft.ext.Text.cdcDupChunksFromCounts(leftAssoc)) == single,
      "report from merged state != single-pass report")
  }

  test("cdcChunkAdd: streaming ingest replays the duplicate-chunk report exactly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    val chunks = Seq(0, 1, 2).map(m =>
      docs.filter(col("doc_id") % 3 === m)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = graft.ext.Text.cdcChunkAdd(batch.toDF(), n = 3, divisor = 4L)
        state = Some(state.fold(s)(p => graft.ext.Text.mergeChunkCounts(p, s))
          .localCheckpoint(true)) // materialize: the batch frame dies with the call
        ()
      }
      .outputMode(OutputMode.Update()).start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      assert(chunkState(state.get) ==
        chunkState(graft.ext.Text.cdcChunkAdd(docs, n = 3, divisor = 4L)),
        "streamed chunk state != batch state")
    } finally q.stop()
  }

  test("qualityMargin: hand-traced int64 margins, sparse weights, threshold verdict") {
    val fx = Seq(
      (1L, "good good bad"),        // 5 + 5 - 3 = 7, all 3 tokens scored
      (2L, "neutral unknown"),      // nothing in the weight table -> zeros
      (3L, "bad bad bad")           // -9, rejected
    ).toDF("doc_id", "text")
    val w = Seq(("good", 5L), ("bad", -3L)).toDF("term", "weight")
    def rows(threshold: Long): Map[Long, (Long, Long, Int)] =
      graft.ext.Text.qualityMargin(fx, w, threshold).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(rows(0L) == Map(1L -> ((3L, 7L, 1)), 2L -> ((0L, 0L, 0)),
      3L -> ((3L, -9L, 0))), rows(0L))
    // threshold is strict: margin 7 rejected at threshold 7
    assert(rows(7L)(1L) == ((3L, 7L, 0)), rows(7L))
    // the stand-in weight table: sparse (no zero weights), bounded range
    val hw = graft.ext.Text.hashWeights(fx).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hw.values.forall(v => v != 0L && v >= -20L && v <= 20L), hw)
    assert(hw.keySet.subsetOf(Set("good", "bad", "neutral", "unknown")), hw)
  }

  test("wordpieceTrainMerges: likelihood ranking diverges from BPE, hand-traced") {
    // "ab"×4 + "cd"×1: pair (a,b) cnt=4 with sym counts a=4,b=4 scores
    // 4/16 = 0.25; pair (c,d) cnt=1 with c=1,d=1 scores 1/1 = 1.0 —
    // WordPiece picks the mutually-informative RARE pair first, BPE the
    // frequent one. Round 2 leaves only (a,b); round 3 has no pairs and
    // stops early (2 rows at merges=6).
    val fx = Seq((0L, "ab ab ab ab cd")).toDF("doc_id", "text")
    val wp = graft.ext.Text.wordpieceTrainMerges(fx, merges = 6).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4), r.getDouble(5)))
    assert(wp.toSeq == Seq((1, "c", "d", "cd", 1L, 1.0),
      (2, "a", "b", "ab", 4L, 0.25)), wp.toSeq)
    val bpe1 = graft.ext.Text.bpeTrainMerges(fx, merges = 1).collect().head
    assert((bpe1.getString(1), bpe1.getString(2)) == (("a", "b")),
      "BPE rank-1 should be the frequent pair — fixture lost its divergence")
  }

  test("wordpiece table is policy-agnostic: FromCounts twin matches, tokenize decodes") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    def table(df: org.apache.spark.sql.DataFrame): Seq[(Int, String, String)] =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
        .sortBy(_._1).toSeq
    // the trainer off a merged two-delta word-frequency ingest state is
    // bit-identical to the direct corpus scan (the wordFreqAdd contract
    // extended to the WordPiece policy)
    val state = graft.ext.Text.mergeWordFreqs(
      graft.ext.Text.wordFreqAdd(corpus.filter(col("doc_id") % 2 <=> 0)),
      graft.ext.Text.wordFreqAdd(corpus.filter(!(col("doc_id") % 2 <=> 0))))
    assert(table(graft.ext.Text.wordpieceTrainMergesFromCounts(state, merges = 4)) ==
      table(graft.ext.Text.wordpieceTrainMerges(corpus, merges = 4)),
      "ingest-state WordPiece table != direct-scan table")
    // cross-family composition: the shared encoder/tokenizer consumes a
    // WORDPIECE table unchanged, and the decode loop closes
    val fx = Seq((0L, "ab ab ab ab cd"), (1L, "xyz cd")).toDF("doc_id", "text")
    val wpTable = graft.ext.Text.wordpieceTrainMerges(fx, merges = 6)
    val vocab = graft.ext.Text.bpeVocabulary(wpTable, fx).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val texts = Map(0L -> "ab ab ab ab cd", 1L -> "xyz cd")
    graft.ext.Text.bpeTokenize(wpTable, fx).collect()
      .map(r => (r.getLong(0), r.getString(2)))
      .foreach { case (docId, ids) =>
        val decoded = ids.split(",").map(i => vocab(i.toLong)).mkString("")
        assert(decoded == texts(docId).replace(" ", ""),
          s"doc $docId decodes to '$decoded'")
      }
  }

  test("bpeTokenize: hand-traced ids, alphabet-then-merges convention, n_tokens = encode") {
    // 'ab abc bc bc', sequential trainer: rank1 (b,c)->bc, rank2
    // (a,b)->ab, rank3 (a,bc)->abc. Alphabet a,b,c -> ids 0,1,2;
    // merges take 3,4,5 in rank order.
    val docs = Seq((0L, "ab abc bc bc")).toDF("doc_id", "text")
    def tok(merges: Int): (Long, String) = {
      val t = graft.ext.Text.bpeTokenize(
        graft.ext.Text.bpeTrainMerges(docs, merges), docs)
      val r = t.collect().head
      (r.getLong(1), r.getString(2))
    }
    // full table: every word is one symbol — bc=3, ab=4, abc=5
    assert(tok(6) == ((4L, "4,5,3,3")), tok(6))
    // one merge: ab=[a,b]=0,1; abc=[a,bc]=0,3; bc=[bc]=3
    assert(tok(1) == ((6L, "0,1,0,3,3,3")), tok(1))
    // corpus-level: n_tokens must equal the encode report's bpe_tokens
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    val table = graft.ext.Text.bpeTrainMerges(corpus, merges = 6)
    val n = graft.ext.Text.bpeTokenize(table, corpus)
      .select(col("doc_id"), col("n_tokens")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val enc = graft.ext.Text.bpeEncodeCounts(corpus, merges = 6)
      .select(col("doc_id"), col("bpe_tokens")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(n == enc, "tokenize n_tokens != encode bpe_tokens")
  }

  test("bpeVocabulary: the dictionary decodes bpeTokenize id sequences back to the text") {
    val docs = Seq((0L, "ab abc bc bc"), (1L, "xyz ab")).toDF("doc_id", "text")
    val table = graft.ext.Text.bpeTrainMerges(docs, merges = 4)
    val vocab = graft.ext.Text.bpeVocabulary(table, docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    // ids are dense, alphabet ids strictly precede merge ids
    assert(vocab.keySet == (0L until vocab.size.toLong).toSet)
    val nAlpha = vocab.count(!_._2._2)
    vocab.foreach { case (id, (_, isMerge)) =>
      assert(isMerge == (id >= nAlpha), s"id $id flag wrong") }
    // decoding each doc's id sequence reproduces its text minus spaces
    // (word boundaries are not tokens) — the closed decode loop
    val texts = Map(0L -> "ab abc bc bc", 1L -> "xyz ab")
    graft.ext.Text.bpeTokenize(table, docs).collect()
      .map(r => (r.getLong(0), r.getString(2)))
      .foreach { case (docId, ids) =>
        val decoded = ids.split(",").map(i => vocab(i.toLong)._1).mkString("")
        assert(decoded == texts(docId).replace(" ", ""),
          s"doc $docId decodes to '$decoded'")
      }
  }

  test("wordFreqAdd: word-frequency state composes exactly and trains bit-identically") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    def freqs(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def table(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1).toSeq
    val full = freqs(graft.ext.Text.wordFreqAdd(docs))
    assert(full.nonEmpty)
    val parts = Seq(0, 1, 2).map(m =>
      graft.ext.Text.wordFreqAdd(docs.filter(col("doc_id") % 3 === m)))
    val leftAssoc = graft.ext.Text.mergeWordFreqs(
      graft.ext.Text.mergeWordFreqs(parts(0), parts(1)), parts(2))
    val rightAssoc = graft.ext.Text.mergeWordFreqs(
      parts(0), graft.ext.Text.mergeWordFreqs(parts(1), parts(2)))
    assert(freqs(leftAssoc) == full, "merged word freqs != full count")
    assert(freqs(rightAssoc) == full, "merge is not associative")
    // the trainer off merged state emits the identical merge table —
    // counts included — to the direct corpus scan
    assert(table(graft.ext.Text.bpeTrainMergesBatchedFromCounts(leftAssoc,
      rounds = 3, batch = 8)) ==
      table(graft.ext.Text.bpeTrainMergesBatched(docs, rounds = 3, batch = 8)),
      "training from merged state != direct scan")
  }

  test("wordFreqAdd: streaming ingest trains the identical merge table") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    def table(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1).toSeq
    val chunks = Seq(0, 1, 2).map(m =>
      docs.filter(col("doc_id") % 3 === m)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].collect().toSeq)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val f = graft.ext.Text.wordFreqAdd(batch.toDF())
        state = Some(state.fold(f)(p => graft.ext.Text.mergeWordFreqs(p, f))
          .localCheckpoint(true))
        ()
      }
      .outputMode(OutputMode.Update()).start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      assert(table(graft.ext.Text.bpeTrainMergesBatchedFromCounts(state.get,
        rounds = 3, batch = 8)) ==
        table(graft.ext.Text.bpeTrainMergesBatched(docs, rounds = 3, batch = 8)),
        "training from streamed state != direct scan")
    } finally q.stop()
  }

  test("jlProject: exact model match; refine at R=all IS brute; refined >= raw recall") {
    val d = 8
    val df = spark.range(60).select(col("id").as("vec_id"),
      expr(s"""transform(sequence(1, $d), i -> CAST(
           pmod(id * 2654435761 + i * 40503, 1000003) / 1000003.0 - 0.5 AS FLOAT))""")
        .as("embedding")).localCheckpoint(true)
    // independent model: maxabs grid, floor quantize, signed sums
    val rows = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val scale = rows.flatMap(_._2.map(x => math.abs(x.toDouble))).max / 127.0
    val outDim = 4
    val exp = rows.map { case (id, e) =>
      val q = e.map(x => math.floor(x.toDouble / scale + 0.5).toLong)
      id -> (1 to outDim).map(kk =>
        (1 to d).map(i => q(i - 1) * graft.ext.Sim.jlSign(i, kk)).sum.toFloat).toArray
    }.toMap
    val got = graft.ext.Sim.jlProject(df, outDim)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    exp.foreach { case (id, v) =>
      assert(got(id).toSeq == v.toSeq, s"projection diverges on vec $id")
    }
    // refine with R covering every candidate IS brute force (exact
    // scoring of the full candidate set) — precondition: no nonzero
    // vector projects to zero norm on this fixture
    def rows5(res: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Int)] =
      res.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rows5(graft.ext.Sim.jlRefinedTopK(df, outDim, 5, refineR = 60)) ==
      rows5(graft.ext.Sim.bruteTopK(df, 5)),
      "refine at R=all != brute")
    // and a bounded refine can only improve on the raw projected ranking
    def pairs(res: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      res.select("vec_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(graft.ext.Sim.bruteTopK(df, 5))
    val raw = (truth intersect pairs(graft.ext.Sim.jlTopK(df, outDim, 5))).size
    val refined = (truth intersect
      pairs(graft.ext.Sim.jlRefinedTopK(df, outDim, 5, refineR = 20))).size
    assert(refined >= raw, s"refined $refined fell below raw $raw")
  }

  test("bpeEncodeCounts: trained merges compress the fixture to hand-counted tokens") {
    // after the 3 effective merges of the abab/cd fixture (see the
    // trainer test) both word types collapse to ONE symbol each:
    // doc 0 "abab abab cd" -> 3 bpe tokens vs 10 chars, doc 1
    // "abab cd cd" -> 3 vs 8
    val docs = Seq((0L, "abab abab cd"), (1L, "abab cd cd")).toDF("doc_id", "text")
    val got = graft.ext.Text.bpeEncodeCounts(docs, merges = 6)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(0L) == ((3L, 10L, 10.0 / 3.0)), s"doc 0: ${got(0L)}")
    assert(got(1L) == ((3L, 8L, 8.0 / 3.0)), s"doc 1: ${got(1L)}")
  }

  test("docCentrality: hub outranks periphery; exact-int ranks are layout-invariant") {
    // Star + isolated pair: the hub doc shares one trigram with each of
    // 5 spokes (bridge trigrams inside the hub text are df=1 → pruned);
    // docs 6/7 share exactly one trigram with each other. The hub sits
    // on 5 informative shingles, the pair docs on 1 — three damped
    // rounds must rank the hub strictly above a pair doc and above
    // every spoke.
    val docs = ((0L, (1 to 5).map(i => s"hub$i x$i y$i").mkString(" ")) +:
      (1 to 5).map(i => (i.toLong, s"hub$i x$i y$i pad${i}a pad${i}b")) :+
      (6L, "iso a b c6 d6") :+ (7L, "iso a b c7 d7"))
      .toDF("doc_id", "text")
    val ranks = graft.ext.Graph.docCentrality(docs, n = 3, minDf = 2,
      maxDf = 20, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L),
      s"every doc touches an in-window shingle, got ${ranks.keySet}")
    assert(ranks(0L) > ranks(6L), s"hub ${ranks(0L)} <= pair doc ${ranks(6L)}")
    (1 to 5).foreach(i => assert(ranks(0L) > ranks(i.toLong),
      s"hub ${ranks(0L)} <= spoke $i ${ranks(i.toLong)}"))
    // rank mass is conserved up to floor shedding: every rank >= the
    // damping base, total <= the mass budget
    assert(ranks.values.forall(_ > 0) && ranks.values.sum <= 1000000000000L)
    // exact integer iteration => bit-identical under any partition layout
    val spread = graft.ext.Graph.docCentrality(docs.repartition(7), n = 3,
      minDf = 2, maxDf = 20, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spread == ranks, "ranks drifted under repartitioning")
  }

  test("OPQ-lite permutation spreads variance and lifts PQ recall on a skewed corpus") {
    val d = 16; val m = 4; val dsub = 4
    // 16 clusters sign-coded on dims 1-4 — ALL inside the first
    // contiguous subspace — tiny deterministic noise elsewhere:
    // contiguous slicing hands subspace 0 sixteen sign patterns to
    // cover with kSub=8 cells (structurally impossible) while the
    // other three subspaces quantize noise; variance-ranked
    // round-robin deals one sign dim to EACH subspace, so every
    // subspace separates its ± split with cells to spare. Coarse
    // routing is permutation-invariant (exact int64 distances sum
    // order-free), so the comparison isolates the subspace grouping.
    val df = spark.range(200).select(col("id").as("vec_id"),
      expr(s"""transform(sequence(1, $d), i -> CAST(
           CASE WHEN i <= 4 THEN
             CASE WHEN shiftright(CAST(id % 16 AS INT), CAST(i - 1 AS INT)) % 2 = 0
                  THEN 1.0 ELSE -1.0 END
           ELSE pmod(id * 2654435761 + i * 40503, 1000003) / 1000003.0 * 0.2 - 0.1
           END AS FLOAT))""").as("embedding")).localCheckpoint(true)
    // the permutation is a value bijection per row, and each dsub-slice
    // of the permuted frame holds exactly one sign dim (|x| = 1)
    val permRow = graft.ext.Cluster.opqPermute(df, m)
      .filter(col("vec_id") === 0).head().getSeq[Float](1)
    val origRow = df.filter(col("vec_id") === 0).head().getSeq[Float](1)
    assert(permRow.sorted == origRow.sorted, "permutation is not a value bijection")
    (0 until m).foreach { s =>
      val slice = permRow.slice(s * dsub, (s + 1) * dsub)
      assert(slice.count(x => math.abs(x) == 1.0f) == 1,
        s"subspace $s got ${slice.count(x => math.abs(x) == 1.0f)} sign dims, want 1")
    }
    def pairs(res: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      res.select("vec_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(graft.ext.Sim.bruteTopK(df, 5))
    val raw = pairs(graft.ext.Sim.ivfPqTopK(df, m = m, kSub = 8,
      coarseK = 8, nProbe = 2, k = 5))
    val opq = pairs(graft.ext.Sim.ivfPqOpqTopK(df, m = m, kSub = 8,
      coarseK = 8, nProbe = 2, k = 5))
    val ceiling = pairs(graft.ext.Sim.ivfTopKTrained(df,
      graft.ext.Cluster.kmeansCentroids(df, k = 8, iters = 2), 5, 2))
    val recallRaw = (truth intersect raw).size.toDouble / truth.size
    val recallOpq = (truth intersect opq).size.toDouble / truth.size
    val recallCeil = (truth intersect ceiling).size.toDouble / truth.size
    assert(recallOpq > recallRaw,
      s"opq recall $recallOpq did not beat contiguous slicing $recallRaw at equal bits")
    assert(recallOpq <= recallCeil + 1e-9,
      s"opq recall $recallOpq exceeded its exact-scored routing ceiling $recallCeil")
  }

  test("indexAdd: delta encodes compose exactly and replay on a streaming ingest") {
    val d = 16
    val emb = spark.range(120).select(col("id").as("vec_id"),
      expr(s"""transform(sequence(1, $d), i -> CAST(
           CASE WHEN i = (id % 4) * 4 + 1 THEN 1.0
                ELSE pmod(id * 2654435761 + i * 40503, 1000003) / 1000003.0 * 0.2 - 0.1
           END AS FLOAT))""").as("embedding")).localCheckpoint(true)
    // quantizer trained once, on the vec_id % 3 residue class
    val cen = graft.ext.Cluster.kmeansCentroids(
      emb.filter(col("vec_id") % 3 === 0), k = 4, iters = 2).localCheckpoint(true)
    val scale = graft.ext.Cluster.sampledGridScale(emb, 3).get
    def occRows(df: org.apache.spark.sql.DataFrame): Set[(Int, Int, Long, Long, Double)] =
      df.collect().map(r =>
        (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    val full = occRows(graft.ext.Cluster.indexAdd(emb, cen, scale))
    assert(full.nonEmpty)
    // three arbitrary deltas, added in two different association orders —
    // the merge must be exact (int64 sums), so both equal the full encode
    val parts = Seq(
      emb.filter(col("vec_id") < 40),
      emb.filter(col("vec_id") >= 40 && col("vec_id") < 80),
      emb.filter(col("vec_id") >= 80)
    ).map(p => graft.ext.Cluster.indexAdd(p, cen, scale))
    val leftAssoc = graft.ext.Cluster.mergeOccupancy(
      graft.ext.Cluster.mergeOccupancy(parts(0), parts(1)), parts(2))
    val rightAssoc = graft.ext.Cluster.mergeOccupancy(
      parts(0), graft.ext.Cluster.mergeOccupancy(parts(1), parts(2)))
    assert(occRows(leftAssoc) == full, "merged delta encodes != full encode")
    assert(occRows(rightAssoc) == full, "merge is not associative")
    // streaming ingest twin: the SAME operator in a foreachBatch loop,
    // each micro-batch encoded against the fixed quantizer and merged
    // into the running occupancy — chunk boundaries cannot move a bit
    val chunks = Seq(0L until 50L, 50L until 95L, 95L until 120L)
      .map(r => emb.filter(col("vec_id").isin(r: _*))
        .as[(Long, Array[Float])].collect().toSeq)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = mem.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val occ = graft.ext.Cluster.indexAdd(batch.toDF(), cen, scale)
        state = Some(state.fold(occ)(s => graft.ext.Cluster.mergeOccupancy(s, occ))
          .localCheckpoint(true)) // materialize: the batch frame dies with the call
        ()
      }
      .outputMode(OutputMode.Update()).start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      assert(occRows(state.get) == full, "streaming ingest != batch encode")
    } finally q.stop()
  }

  test("near-dup/ANN operators register nothing in the session cache manager") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def ops() = Seq(
      graft.ext.MinHash.nearDupPairs(docs, 3),
      graft.ext.MinHash.simHashNearDups(docs),
      graft.ext.Sim.ivfTopK(emb, 5, 8, 2),
      graft.ext.Sim.lshTopKTables(emb, 5, 10, 3),
      graft.ext.Text.ngramJaccardPairs(docs, 3))
    ops().foreach(_.count()) // a library-internal .cache() would register plans HERE
    // re-derive each operator: a CacheManager entry left by the first run
    // would resolve the identical (canonicalized) subplan to an
    // InMemoryRelation; the internal reuse points are localCheckpoints
    // (RDD-owned blocks, GC/ContextCleaner-released), so a long-lived
    // session never needs clearCache after embedding these operators
    ops().foreach { df =>
      assert(!df.queryExecution.optimizedPlan.exists(_.isInstanceOf[InMemoryRelation]),
        s"operator left a session cache entry:\n${df.queryExecution.optimizedPlan}")
    }
  }

  test("PNG/GIF containers reject trailing junk; empty LZW input fails loud") {
    import graft.ext.Multimodal
    // appended garbage after the terminal structure must fail as loudly
    // as truncation — a silently-ignored tail is a smuggling channel
    val png = Multimodal.pngBytes(7L, Multimodal.pngW(7L), Multimodal.pngH(7L))
    val pngErr = intercept[IllegalArgumentException] {
      Multimodal.decodePngBytes(7L, png ++ Array[Byte](1, 2, 3)) }
    assert(pngErr.getMessage.contains("trailing bytes after IEND"), pngErr.getMessage)
    val gif = Multimodal.gifBytes(3L, Multimodal.gifW(3L), Multimodal.gifH(3L))
    val gifErr = intercept[IllegalArgumentException] {
      Multimodal.decodeGifBytes(3L, gif ++ Array[Byte](0x3b)) }
    assert(gifErr.getMessage.contains("trailing bytes after GIF trailer"), gifErr.getMessage)
    // the clean containers still decode after the stricter walk
    assert(Multimodal.decodePngBytes(7L, png).width == Multimodal.pngW(7L))
    assert(Multimodal.decodeGifBytes(3L, gif).width == Multimodal.gifW(3L))
    // an empty index stream is a labeled require, not a bare AIOOBE
    val emptyErr = intercept[IllegalArgumentException] {
      Multimodal.lzwCompress(Array.empty[Int], 8) }
    assert(emptyErr.getMessage.contains("LZW input is empty"), emptyErr.getMessage)
  }

  test("language-ID: trained profiles rank deterministically; scoring, und fallback, tie-break") {
    import graft.ext.Text
    val corpus = Seq(
      (1L, "aa", "ababa"),  // trigrams aba:2, bab:1
      (2L, "bb", "cdcdc"),  // cdc:2, dcd:1
      (3L, "aa", "xy"),     // too short: no trigrams
      (4L, "bb", "abacd")   // aba, bac, acd
    ).toDF("doc_id", "lang", "text")
    val prof = Text.langProfiles(corpus, k = 2)
    val pm = prof.collect().map(r =>
      (r.getString(0), r.getInt(1)) -> (r.getString(2), r.getLong(3))).toMap
    // aa counts: aba 2, bab 1; bb counts: cdc 2 then cnt-1 ties break
    // on the gram itself -> aba beats acd/bac/dcd
    assert(pm(("aa", 1)) == (("aba", 2L)) && pm(("aa", 2)) == (("bab", 1L)))
    assert(pm(("bb", 1)) == (("cdc", 2L)) && pm(("bb", 2)) == (("aba", 1L)))
    assert(pm.size == 4)
    val ids = Text.languageId(corpus, prof, k = 2).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getInt(4)))).toMap
    // weights: k+1-rank -> aa: aba 2, bab 1; bb: cdc 2, aba 1
    assert(ids(1L) == (("aa", 5L, 1)), s"doc 1: ${ids(1L)}") // 2*2 + 1
    assert(ids(2L) == (("bb", 4L, 1)), s"doc 2: ${ids(2L)}") // 2*2 (dcd unlisted)
    assert(ids(3L) == (("und", 0L, 0)), s"doc 3: ${ids(3L)}") // no trigram
    assert(ids(4L) == (("aa", 2L, 0)), s"doc 4: ${ids(4L)}") // aba: aa 2 > bb 1
    // exact score tie -> language code ascending wins
    val handProf = Seq(("bb", 1, "xxy", 9L), ("aa", 1, "xxy", 9L))
      .toDF("lang", "rank", "gram", "cnt")
    val tied = Text.languageId(
      Seq((7L, "bb", "xxy")).toDF("doc_id", "lang", "text"), handProf, k = 1)
      .collect().head
    assert((tied.getString(1), tied.getLong(2)) == (("aa", 1L)), tied)
  }

  test("quality-margin state: merge associative both orders; streaming ingest == batch") {
    import graft.ext.Text
    val docsP = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    val w = Text.hashWeights(docsP).localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, Int)] =
      df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    val full = rows(Text.qualityMargin(docsP, w))
    assert(full.nonEmpty && full.values.exists(_._2 != 0L))
    // three doc-disjoint deltas, merged in both association orders
    val parts = Seq(0, 1, 2).map(m =>
      Text.marginAdd(docsP.filter(col("doc_id") % 3 === m), w))
    val la = Text.mergeMargins(Text.mergeMargins(parts(0), parts(1)), parts(2))
    val ra = Text.mergeMargins(parts(0), Text.mergeMargins(parts(1), parts(2)))
    assert(rows(Text.qualityMarginFromCounts(docsP, la)) == full)
    assert(rows(Text.qualityMarginFromCounts(docsP, ra)) == full)
    // streaming ingest twin: the SAME marginAdd in a foreachBatch loop,
    // each micro-batch merged into the running state — chunk boundaries
    // cannot move a margin
    val chunks = docsP.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().toSeq.grouped(250).toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val add = Text.marginAdd(batch.toDF(), w)
        state = Some(state.fold(add)(s => Text.mergeMargins(s, add))
          .localCheckpoint(true)) // materialize: the batch frame dies with the call
        ()
      }
      .outputMode(OutputMode.Update()).start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      assert(rows(Text.qualityMarginFromCounts(docsP, state.get)) == full,
        "streaming ingest != batch classifier")
    } finally q.stop()
  }

  test("JPEG codec: round-trip vs pinned IDCT arithmetic; stuffing exercised; malformations fail loud") {
    import graft.ext.Jpeg
    // independent expectation: the oracle's 3-sparse-term IDCT replay
    // (the decoder runs the dense 64-term loop — different code path,
    // shared pinned constants)
    def expected(id: Long): (Long, Long) = {
      val (w, h) = (Jpeg.jpegW(id), Jpeg.jpegH(id))
      val mcusX = w / 8
      val planes = Array.fill(3)(Array.ofDim[Int](w * h))
      for (m <- 0 until mcusX * (h / 8); c <- 0 until 3) {
        val b = m * 3 + c
        val mx = m % mcusX; val my = m / mcusX
        def q(z: Int) = if (c == 0) Jpeg.qLum(z) else Jpeg.qChr(z)
        val terms = Seq(
          (0, Jpeg.coefDc(id, b) * q(0)),
          (Jpeg.coefZ1(id, b), Jpeg.coefV1(id, b) * q(Jpeg.coefZ1(id, b))),
          (Jpeg.coefZ2(id, b), Jpeg.coefV2(id, b) * q(Jpeg.coefZ2(id, b))))
        for (y <- 0 until 8; x <- 0 until 8) {
          val s = terms.map { case (z, fq) =>
            Jpeg.Idct8k(Jpeg.zigRow(z) * 8 + y).toLong *
              Jpeg.Idct8k(Jpeg.zigCol(z) * 8 + x) * fq }.sum
          val p0 = Math.floorDiv(s + Jpeg.IdctHalf, Jpeg.IdctDiv) + 128L
          planes(c)((my * 8 + y) * w + (mx * 8 + x)) =
            math.max(0L, math.min(255L, p0)).toInt
        }
      }
      val all = planes.flatten
      (all.map(_.toLong).sum,
        all.foldLeft(0L)((a, p) => (a * 1000003L + p) % 2147483629L))
    }
    var sawStuffing = false
    for (id <- 0L until 24L) {
      val bytes = Jpeg.jpegBytes(id, Jpeg.jpegW(id), Jpeg.jpegH(id))
      // count 0xFF 0x00 pairs AFTER the scan start to prove the
      // stuffing path runs somewhere in the fixture range
      sawStuffing ||= bytes.sliding(2).exists(p =>
        (p(0) & 0xff) == 0xff && p(1) == 0x00)
      val d = Jpeg.decodeJpegBytes(id, bytes)
      val (sum, fold) = expected(id)
      assert((d.width, d.height, d.channels) ==
        ((Jpeg.jpegW(id), Jpeg.jpegH(id), 3)), s"id $id dims")
      assert(d.pixel_sum == sum, s"id $id: sum ${d.pixel_sum} != $sum")
      assert(d.pixel_fold == fold, s"id $id: fold (block/plane placement) broken")
    }
    assert(sawStuffing, "fixture range never exercised 0xFF00 byte stuffing")
    val good = Jpeg.jpegBytes(5L, Jpeg.jpegW(5L), Jpeg.jpegH(5L))
    // truncated entropy data fails loud
    val trunc = intercept[IllegalArgumentException] {
      Jpeg.decodeJpegBytes(5L, good.take(good.length - 6)) }
    assert(trunc.getMessage.contains("truncated") ||
      trunc.getMessage.contains("missing EOI"), trunc.getMessage)
    // trailing junk after EOI fails loud (the PNG/GIF posture)
    val junk = intercept[IllegalArgumentException] {
      Jpeg.decodeJpegBytes(5L, good ++ Array[Byte](7)) }
    assert(junk.getMessage.contains("trailing bytes after EOI"), junk.getMessage)
    // progressive frames are refused BY NAME, not misparsed
    // a BASELINE container mislabeled SOF2 routes to the progressive
    // decoder (r17: SOF2 decodes for real now) and fails ITS
    // constraints loudly — id 5 ships DRI, which the progressive path
    // refuses by name (the Se=0 scan-shape check is covered in the
    // progressive test)
    val prog = good.clone()
    val sofAt = good.indices.find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    val perr = intercept[IllegalArgumentException] {
      Jpeg.decodeJpegBytes(5L, prog) }
    assert(perr.getMessage.contains("restart intervals in progressive"),
      perr.getMessage)
    // bad SOI fails loud
    val soi = intercept[IllegalArgumentException] {
      Jpeg.decodeJpegBytes(5L, good.drop(2)) }
    assert(soi.getMessage.contains("SOI"), soi.getMessage)
    // id 5 ships DRI=2 over 6 MCUs: the container carries real RST0/RST1
    // (already round-tripped above); corrupting the first RST's index
    // must fail the restart sequence check, not decode garbage
    assert(Jpeg.restartInterval(5L) == 2 && Jpeg.jpegW(5L) / 8 * (Jpeg.jpegH(5L) / 8) == 6)
    val rstAt = good.indices.find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xd0).get
    val badRst = good.clone(); badRst(rstAt + 1) = 0xd3.toByte
    val rerr = intercept[IllegalArgumentException] {
      Jpeg.decodeJpegBytes(5L, badRst) }
    assert(rerr.getMessage.contains("expected RST0"), rerr.getMessage)
  }

  test("JPEG progressive: eight scans reconstruct the baseline image bit-for-bit") {
    import graft.ext.Jpeg
    // every geometry (1-3 MCUs wide, 1-2 tall) and coefficient shape in
    // the first 30 ids: progressive decode must equal baseline decode
    // EXACTLY — same dims, sums, and order-sensitive fold
    (0L to 29L).foreach { id =>
      val base = Jpeg.decodeJpegBytes(id,
        Jpeg.jpegBytes(id, Jpeg.jpegW(id), Jpeg.jpegH(id)))
      val prog = Jpeg.decodeJpegProgressiveBytes(id,
        Jpeg.jpegProgressiveBytes(id, Jpeg.jpegW(id), Jpeg.jpegH(id)))
      assert(prog == base, s"id $id: progressive != baseline\n$prog\n$base")
    }
    // the baseline walk auto-routes SOF2 containers (a curation run
    // decodes whatever arrives)
    val id1 = 1L // no DRI at id 1
    val pbytes = Jpeg.jpegProgressiveBytes(id1, Jpeg.jpegW(id1), Jpeg.jpegH(id1))
    assert(Jpeg.decodeJpegBytes(id1, pbytes) ==
      Jpeg.decodeJpegBytes(id1, Jpeg.jpegBytes(id1, Jpeg.jpegW(id1), Jpeg.jpegH(id1))))
    // malformed progressive scan shapes fail loud by name: flip the
    // first SOS of a progressive container to a full-band DC scan
    val sosAt = pbytes.indices.find(i =>
      (pbytes(i) & 0xff) == 0xff && (pbytes(i + 1) & 0xff) == 0xda).get
    val seOff = sosAt + 4 + 1 + 2 * 3 + 1 // len(2) + ns + comps + Ss, -> Se byte
    val badSe = pbytes.clone(); badSe(seOff) = 63
    val e1 = intercept[IllegalArgumentException] {
      Jpeg.decodeJpegProgressiveBytes(id1, badSe) }
    assert(e1.getMessage.contains("DC scan must have Se=0"), e1.getMessage)
    // refinement must step one bit: Ah=2/Al=0 on the DC refinement scan
    val sos2 = pbytes.indices.find(i =>
      (pbytes(i) & 0xff) == 0xff && (pbytes(i + 1) & 0xff) == 0xda && i > sosAt).get
    val ahOff = sos2 + 4 + 1 + 2 * 3 + 2
    val badAh = pbytes.clone(); badAh(ahOff) = 0x20
    val e2 = intercept[IllegalArgumentException] {
      Jpeg.decodeJpegProgressiveBytes(id1, badAh) }
    assert(e2.getMessage.contains("must step by one bit"), e2.getMessage)
  }

  test("JPEG EXIF walk: both endiannesses, offset tags, absence vs corruption") {
    import graft.ext.Jpeg
    // fixture containers: every orientation 1-8 and both byte orders
    (0L to 15L).foreach { id =>
      val bytes = Jpeg.jpegExifBytes(id, Jpeg.jpegW(id), Jpeg.jpegH(id))
      val (o, ord) = Jpeg.exifMeta(id, bytes)
      assert(o == (1 + id % 8).toInt, s"id $id orientation $o")
      assert(ord == (if (id % 2 == 0) "II" else "MM"), s"id $id order $ord")
      // APP1 is metadata: the pixel decode must equal the plain container
      val withExif = Jpeg.decodeJpegBytes(id, bytes)
      val plain = Jpeg.decodeJpegBytes(id,
        Jpeg.jpegBytes(id, Jpeg.jpegW(id), Jpeg.jpegH(id)))
      assert(withExif == plain, s"id $id: APP1 changed the decode")
    }
    // a container with no APP1 at all: orientation-unknown, not an error
    val plain7 = Jpeg.jpegBytes(7L, Jpeg.jpegW(7L), Jpeg.jpegH(7L))
    assert(Jpeg.exifMeta(7L, plain7) == ((0, "")))
    // EXIF present but no orientation tag: strip the 0x0112 entry by
    // hand-packing an APP1 with only the Make entry (count 1)
    val app1 = Jpeg.exifApp1(4L) // little-endian fixture
    val tiffOff = 4 + 6 // marker+len, then "Exif\0\0"
    val noTag = app1.clone()
    noTag(tiffOff + 8) = 1 // IFD0 entry count 2 -> 1 (LE low byte)
    val spliced = plain7.take(2) ++ noTag ++ plain7.drop(2)
    assert(Jpeg.exifMeta(7L, spliced) == ((0, "II")))
    // corruption fails loud BY NAME: bad byte-order mark / bad magic /
    // IFD overrun / out-of-range orientation
    def corrupt(mut: Array[Byte] => Unit, msg: String): Unit = {
      val a = Jpeg.exifApp1(4L).clone(); mut(a)
      val c = plain7.take(2) ++ a ++ plain7.drop(2)
      val e = intercept[IllegalArgumentException] { Jpeg.exifMeta(7L, c) }
      assert(e.getMessage.contains(msg), s"$msg: ${e.getMessage}")
    }
    corrupt(a => a(tiffOff) = 'X'.toByte, "byte-order mark")
    corrupt(a => a(tiffOff + 2) = 43, "TIFF magic")
    corrupt(a => a(tiffOff + 8) = 99, "overruns the APP1") // entry count 99
    corrupt(a => a(tiffOff + 10 + 12 + 8) = 9, "out of range") // orientation 9
  }

  test("JPEG hand-packed grayscale fixture pins the bit-level format") {
    import graft.ext.Jpeg
    // minimal 8x8 single-component JPEG built byte by byte: flat quant
    // table (all 1), custom 1-bit Huffman tables (DC: category 3 ->
    // code '0'; AC: EOB -> code '0'), scan bits 0|101|0 padded with 1s
    // = 0x57. DC=5, q=1 -> flat block: round(5/8) + 128 = 129.
    val bs = new java.io.ByteArrayOutputStream()
    def mk(m: Int): Unit = { bs.write(0xff); bs.write(m) }
    def seg(m: Int, payload: Seq[Int]): Unit = {
      mk(m); bs.write(0); bs.write(payload.length + 2); payload.foreach(bs.write)
    }
    mk(0xd8)
    seg(0xdb, Seq(0) ++ Seq.fill(64)(1))
    seg(0xc0, Seq(8, 0, 8, 0, 8, 1, 1, 0x11, 0))
    seg(0xc4, Seq(0x00, 1) ++ Seq.fill(15)(0) ++ Seq(3) ++   // DC: '0' -> cat 3
      Seq(0x10, 1) ++ Seq.fill(15)(0) ++ Seq(0x00))          // AC: '0' -> EOB
    seg(0xda, Seq(1, 1, 0x00, 0, 63, 0))
    bs.write(0x57)
    mk(0xd9)
    val d = Jpeg.decodeJpegBytes(99L, bs.toByteArray)
    assert((d.width, d.height, d.channels) == ((8, 8, 1)), d)
    assert(d.pixel_sum == 64L * 129, s"flat DC-only block decoded wrong: ${d.pixel_sum}")
    val fold = (1 to 64).foldLeft(0L)((a, _) => (a * 1000003L + 129) % 2147483629L)
    assert(d.pixel_fold == fold)
  }

  test("unigram-LM: hand-traced 2-round Viterbi-EM fixture; DP tie-breaks") {
    import graft.ext.Text
    // word types: abab (freq 2), ab (freq 1); vocabMulti=2 selects
    // multi pieces {ab:5, aba:2} beside chars {a:5, b:5} (T=17).
    // Round 1 (hand-traced): 'abab' -> ab|ab (j3 prefers aba at 2/17
    // over a-extension at 25/289, but j4 backtracks through j2),
    // 'ab' -> ab. E-step leaves ONLY {ab:5} — chars a, b and piece aba
    // all prune, and round 2 still segments everything (coverage via
    // the surviving round-1 pieces, never re-derived from chars).
    val corpus = Seq((1L, "abab ab"), (2L, "abab")).toDF("doc_id", "text")
    val train = Text.unigramTrain(corpus, vocabMulti = 2, rounds = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(train == Map("ab" -> 5L), s"final model drifted: $train")
    val segs = Text.unigramSegments(corpus, vocabMulti = 2, rounds = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(segs == Map(
      "abab" -> ((2L, 2L, "ab|ab")),
      "ab" -> ((1L, 1L, "ab"))), s"segmentations drifted: $segs")
    // DP tie-breaks, exact-double ties: equal product -> FEWER pieces
    assert(Text.viterbiSeg("ab",
      Map("a" -> 0.5, "b" -> 0.5, "ab" -> 0.25), 4).toSeq == Seq("ab"))
    assert(Text.viterbiSeg("aa",
      Map("a" -> 0.5, "aa" -> 0.25), 4).toSeq == Seq("aa"))
    // strictly better split wins over the single piece
    assert(Text.viterbiSeg("ab",
      Map("a" -> 0.5, "b" -> 0.5, "ab" -> 0.2), 4).toSeq == Seq("a", "b"))
    // unsegmentable word fails loud
    val err = intercept[IllegalArgumentException] {
      Text.viterbiSeg("ax", Map("a" -> 1.0), 4) }
    assert(err.getMessage.contains("not segmentable"), err.getMessage)
  }

  test("unigram *With family: shipped final-model application, decodable ids, cross-corpus") {
    import graft.ext.Text
    val corpus = Seq((1L, "abab ab"), (2L, "abab")).toDF("doc_id", "text")
    // the hand-traced fixture's final model is exactly {ab: 5}
    val model = Text.unigramTrain(corpus, vocabMulti = 2, rounds = 2)
      .localCheckpoint(true)
    // With-family semantics: segment under the SHIPPED final counts
    val segs = Text.unigramSegmentsWith(model, corpus).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(segs == Map("abab" -> "ab|ab", "ab" -> "ab"), s"segs drifted: $segs")
    // zero-retraining cross-corpus application: an UNSEEN word of seen
    // pieces segments under the shipped model (the deployment contract)
    val other = Seq((9L, "ababab")).toDF("doc_id", "text")
    assert(Text.unigramSegmentsWith(model, other).collect()
      .map(_.getString(3)).toSeq == Seq("ab|ab|ab"))
    // tokenize ids follow the model's own frequency-ranked dictionary
    // ({ab} -> id 0), so shipped sequences decode against the artifact
    val toks = Text.unigramTokenizeWith(model, corpus).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(toks == Map(1L -> ((3L, "0,0,0")), 2L -> ((2L, "0,0"))),
      s"token ids drifted: $toks")
    // encode counts + compression off the same segmentations
    val enc = Text.unigramEncodeWith(model, corpus).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(enc == Map(1L -> ((3L, 6L)), 2L -> ((2L, 4L))), s"encode drifted: $enc")
    // a word with a character outside the model fails loud (the
    // bpeEncodeWith fail-on-unknown posture)
    val bad = Seq((3L, "ax")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      Text.unigramSegmentsWith(model, bad).collect() }
    assert(e.getMessage.contains("not segmentable"), e.getMessage)
  }

  test("codec path runs under foreachBatch: streamed PNG decode == batch decode") {
    import graft.ext.Multimodal
    val docsP = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Int, Long)] =
      df.collect().map(r => (r.getLong(0), r.getAs[Int]("width"),
        r.getAs[Int]("height"), r.getAs[Long]("pixel_sum"))).toSet
    val full = rows(Multimodal.decodePng(Multimodal.encodePng(docsP)).toDF())
    assert(full.nonEmpty)
    // the multimodal family's streaming twin: encode+decode each
    // micro-batch inside foreachBatch (decode is stateless per row, so
    // the accumulated union must equal the batch pass bit-for-bit) —
    // proves the codec closures serialize into streaming tasks
    val chunks = docsP.select(col("doc_id")).as[Long].collect().toSeq.grouped(200).toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = mem.toDF().toDF("doc_id")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val dec = Multimodal.decodePng(Multimodal.encodePng(batch.toDF())).toDF()
        state = Some(state.fold(dec)(_.unionByName(dec)).localCheckpoint(true))
        ()
      }
      .outputMode(OutputMode.Update()).start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      assert(rows(state.get) == full, "streamed codec decode != batch decode")
    } finally q.stop()
  }

  test("pHash: deterministic, scale-invariant under NN, locality vs inversion") {
    import graft.ext.Multimodal
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val base = Array.tabulate(8 * 8 * 3)(i => (i * 37 + 11) % 256)
    val (h1, bits1) = Multimodal.phash64(8, 8, base)
    assert(bits1 > 0 && bits1 < 63, s"degenerate hash: $bits1 bits")
    // deterministic on an identical raster
    assert(Multimodal.phash64(8, 8, base.clone())._1 == h1)
    // scale invariance: a 2x nearest-neighbor upscale floor-samples
    // back to the identical 8x8 grid, so the hash cannot move
    val up = Array.tabulate(16 * 16 * 3) { i =>
      val p = i / 3; val ch = i % 3
      base(((p / 16 / 2) * 8 + (p % 16) / 2) * 3 + ch)
    }
    assert(Multimodal.phash64(16, 16, up)._1 == h1, "NN upscale moved the hash")
    // locality: a tiny single-channel blip flips at most a few bits
    val blip = base.clone(); blip(0) = (blip(0) + 4) % 256
    assert(ham(Multimodal.phash64(8, 8, blip)._1, h1) <= 12,
      "tiny perturbation moved the hash too far")
    // inversion negates every AC coefficient AND the mean, so nearly
    // every bit flips — far rasters must land far apart
    val inv = base.map(255 - _)
    assert(ham(Multimodal.phash64(8, 8, inv)._1, h1) >= 40,
      "inverted raster landed too close")
  }

  test("gopher repetition rules: hand-computed fractions, integer-edge verdicts, short-doc edges") {
    import graft.ext.Text
    val docs = Seq(
      (1L, "a a a b"),                     // top bigram 'a a'x2 -> frac 1.0, reject
      (2L, (0 until 22).map(i => ('a' + i).toChar.toString).mkString(" ")), // clean
      (3L, "x"),                           // 1 word: no n-grams, accept
      (4L, "a b c d e f g h i j a c e g i b d f h j"), // every word twice, unique bigrams
      (5L, "x y z x y z")                  // repeated trigram
    ).toDF("doc_id", "text")
    val out = Text.gopherRepetition(docs).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getInt(5)))).toMap
    assert(out(1L) == ((4L, 0.75, 1.0, 0.0, 0)), s"doc1: ${out(1L)}")
    // 22 distinct words: dup 0, top bigram 1 (2/22), all rules pass —
    // top_bigram_cnt*20 == 20 <= 22 exercises the integer comparison
    assert(out(2L)._1 == 22L && out(2L)._5 == 1, s"doc2: ${out(2L)}")
    assert(out(3L) == ((1L, 0.0, 0.0, 0.0, 1)), s"doc3: ${out(3L)}")
    // doc4: n=20, every word twice -> dup_frac 1.0 > 0.9 rejects; the
    // bigram rule sits EXACTLY at its edge (1*20 <= 20 passes)
    assert(out(4L)._1 == 20L && out(4L)._2 == 1.0 && out(4L)._3 == 0.1 &&
      out(4L)._5 == 0, s"doc4: ${out(4L)}")
    // doc5: trigrams xyz,yzx,zxy,xyz -> occ 4, distinct 3, frac 0.25
    assert(out(5L)._4 == 0.25 && out(5L)._5 == 0, s"doc5: ${out(5L)}")
  }

  test("language-ID abstain rule: tie, exact-threshold, single-candidate, and no-match edges") {
    import graft.ext.Text
    // hand-built profile table, k=2 -> rank-1 weight = 2
    val profiles = Seq(("aa", 1, "abc", 10L), ("bb", 1, "xyz", 10L))
      .toDF("lang", "rank", "gram", "cnt")
    val docs = Seq(
      (1L, "aa", "abc"),       // single candidate: margin = full score 2
      (2L, "aa", "abcxyz"),    // clean tie (aa 2, bb 2): margin 0 -> abstain
      (3L, "und", "qqqq"),     // no profile gram: 'und', score 0, margin 0
      (4L, "aa", "abcabcxyz")  // aa 4, bb 2: margin exactly == threshold
    ).toDF("doc_id", "lang", "text")
    val out = Text.languageIdConfident(docs, profiles, k = 2, minMargin = 2L)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getInt(5)))).toMap
    assert(out(1L) == (("aa", 2L, 2L, 1)), s"single-candidate edge: ${out(1L)}")
    assert(out(2L) == (("und", 2L, 0L, 0)), s"tie edge: ${out(2L)}")
    assert(out(3L) == (("und", 0L, 0L, 1)), s"no-match edge: ${out(3L)}")
    // >= semantics: a margin exactly at the threshold KEEPS the label
    assert(out(4L) == (("aa", 4L, 2L, 1)), s"exact-threshold edge: ${out(4L)}")
    // raising the threshold by 1 flips the boundary doc to abstain
    val strict = Text.languageIdConfident(docs, profiles, k = 2, minMargin = 3L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(strict(4L) == "und" && strict(1L) == "und", s"strict: $strict")
  }

  test("language-ID trigram state: merge associative both orders; streaming ingest == batch") {
    import graft.ext.Text
    val docsP = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint(true)
    def profRows(state: org.apache.spark.sql.DataFrame): Set[(String, Int, String, Long)] =
      Text.langProfilesFromCounts(state, k = 40).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
    val full = profRows(Text.trigramAdd(docsP))
    assert(full.nonEmpty)
    val parts = Seq(0, 1, 2).map(m => Text.trigramAdd(docsP.filter(col("doc_id") % 3 === m)))
    assert(profRows(Text.mergeTrigrams(Text.mergeTrigrams(parts(0), parts(1)), parts(2))) == full)
    assert(profRows(Text.mergeTrigrams(parts(0), Text.mergeTrigrams(parts(1), parts(2)))) == full)
    // streaming ingest twin: trigramAdd per micro-batch, merged into
    // the running state — chunk boundaries cannot move a profile rank
    val chunks = docsP.select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect().toSeq.grouped(250).toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = mem.toDF().toDF("doc_id", "lang", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val add = Text.trigramAdd(batch.toDF())
        state = Some(state.fold(add)(s => Text.mergeTrigrams(s, add))
          .localCheckpoint(true))
        ()
      }
      .outputMode(OutputMode.Update()).start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      assert(profRows(state.get) == full, "streaming trigram ingest != batch profiles")
    } finally q.stop()
  }

  test("JPEG 4:2:0: four-Y-block MCU interleave, half-res chroma planes, independent replay") {
    import graft.ext.Jpeg
    def expected(id: Long): (Long, Long, Long) = {
      val (w, h) = (Jpeg.jpeg420W(id), Jpeg.jpeg420H(id))
      val mcusX = w / 16
      val yPlane = Array.ofDim[Int](w * h)
      val cb = Array.ofDim[Int]((w / 2) * (h / 2))
      val cr = Array.ofDim[Int]((w / 2) * (h / 2))
      for (m <- 0 until mcusX * (h / 16); j <- 0 until 6) {
        val b = m * 6 + j
        val mx = m % mcusX; val my = m / mcusX
        val c = if (j < 4) 0 else j - 3
        def q(z: Int) = if (c == 0) Jpeg.qLum(z) else Jpeg.qChr(z)
        val terms = Seq(
          (0, Jpeg.coefDc(id, b) * q(0)),
          (Jpeg.coefZ1(id, b), Jpeg.coefV1(id, b) * q(Jpeg.coefZ1(id, b))),
          (Jpeg.coefZ2(id, b), Jpeg.coefV2(id, b) * q(Jpeg.coefZ2(id, b))))
        for (y <- 0 until 8; x <- 0 until 8) {
          val s = terms.map { case (z, fq) =>
            Jpeg.Idct8k(Jpeg.zigRow(z) * 8 + y).toLong *
              Jpeg.Idct8k(Jpeg.zigCol(z) * 8 + x) * fq }.sum
          val p = math.max(0L, math.min(255L,
            Math.floorDiv(s + Jpeg.IdctHalf, Jpeg.IdctDiv) + 128L)).toInt
          if (c == 0)
            yPlane((my * 16 + (j / 2) * 8 + y) * w + (mx * 16 + (j % 2) * 8 + x)) = p
          else if (c == 1) cb((my * 8 + y) * (w / 2) + (mx * 8 + x)) = p
          else cr((my * 8 + y) * (w / 2) + (mx * 8 + x)) = p
        }
      }
      val all = yPlane ++ cb ++ cr
      (all.map(_.toLong).sum,
        all.foldLeft(0L)((a, p) => (a * 1000003L + p) % 2147483629L),
        all.length.toLong)
    }
    for (id <- 0L until 12L) {
      val d = Jpeg.decodeJpegBytes(id,
        Jpeg.jpeg420Bytes(id, Jpeg.jpeg420W(id), Jpeg.jpeg420H(id)))
      val (sum, fold, bytes) = expected(id)
      assert((d.width, d.height, d.channels) ==
        ((Jpeg.jpeg420W(id), Jpeg.jpeg420H(id), 3)), s"id $id dims")
      assert(d.pixel_bytes == bytes, s"id $id: chroma planes not half-res")
      assert(d.pixel_sum == sum, s"id $id: sum ${d.pixel_sum} != $sum")
      assert(d.pixel_fold == fold,
        s"id $id: Y-block interleave or plane placement broken")
    }
    // sampling factors above 2 are refused by name, not misparsed
    val good = Jpeg.jpeg420Bytes(1L, 32, 16)
    val sofAt = good.indices.find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc0).get
    val bad = good.clone(); bad(sofAt + 11) = 0x33.toByte // Y sampling 3x3
    val err = intercept[IllegalArgumentException] {
      Jpeg.decodeJpegBytes(1L, bad) }
    assert(err.getMessage.contains("sampling 3x3 unsupported"), err.getMessage)
  }

  test("grouped HLL: per-key max-merge, idempotent, per-key accuracy band") {
    import graft.operators.Hll
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .localCheckpoint(true)
    def st(df: org.apache.spark.sql.DataFrame): Map[(String, Long), Long] =
      df.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val full = st(Hll.hllAddBy(ev, "event_type", "event_id"))
    assert(full.nonEmpty && full.keySet.map(_._1).size > 1)
    val parts = Seq(0, 1, 2).map(m =>
      Hll.hllAddBy(ev.filter(col("event_id") % 3 === m), "event_type", "event_id"))
    assert(st(Hll.mergeHllBy(Hll.mergeHllBy(parts(0), parts(1)), parts(2))) == full)
    assert(st(Hll.mergeHllBy(parts(0), Hll.mergeHllBy(parts(1), parts(2)))) == full)
    assert(st(Hll.mergeHllBy(parts(0), parts(0))) == st(parts(0)), "grouped merge must be idempotent")
    // per-key accuracy measured where raw HLL is VALID (n >= ~4m; the
    // sketch carries no linear-counting correction — ln is banned — so
    // sf0.001's ~200-distinct keys sit in the documented small-range
    // bias regime and are not gated): sf0.01 keys are ~2000 distinct
    val ev01 = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    Hll.hllDistinctBy(ev01, "event_type", "event_id").collect().foreach { r =>
      val (est, exact) = (r.getDouble(3), r.getLong(4))
      assert(exact >= 1000, s"key ${r.getString(0)} unexpectedly small ($exact)")
      assert(math.abs(est - exact) / exact < 0.26,
        s"key ${r.getString(0)}: estimate $est vs exact $exact outside 4 sigma")
    }
  }

  test("daily HLL profile: streaming ingest == batch; exact audit column is exact") {
    import graft.dq.Profile
    import graft.operators.Hll
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .localCheckpoint(true)
    val evN = graft.Tables(spark, "/root/testdata/sf0.001").events
      .localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(3), r.getLong(5))).toSet
    val full = rows(Profile.hllDailyDistinct(evN, "event_type", "ts", "user_id"))
    assert(full.nonEmpty && full.map(_._2).size > 1, "expected multiple day buckets")
    // streaming ingest twin: hllDailyAdd per micro-batch, idempotent
    // max-merge into the running state — chunk boundaries (and even
    // replayed chunks) cannot move a register
    val chunks = evN.select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[(Long, Long, Long, String)].collect().toSeq.grouped(200).toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String)]
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = mem.toDF().toDF("event_id", "ts", "user_id", "event_type")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val add = Profile.hllDailyAdd(batch.toDF(), "event_type", "ts", "user_id")
        state = Some(state.fold(add)(s => Hll.mergeHllBy(s, add))
          .localCheckpoint(true))
        ()
      }
      .outputMode(OutputMode.Update()).start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      // replay the LAST chunk: idempotence means the state cannot move
      mem.addData(chunks.last); q.processAllAvailable()
      assert(rows(Profile.hllDailyFromCounts(state.get, evN,
        "event_type", "ts", "user_id")) == full,
        "streamed daily-HLL ingest != batch profile")
    } finally q.stop()
    // the exact_distinct audit column really is exact per (type, day)
    val exact = evN.groupBy(col("event_type"),
        expr("(ts div 1000) div 86400000000").as("day_bucket"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    Profile.hllDailyDistinct(evN, "event_type", "ts", "user_id").collect()
      .foreach { r =>
        assert(r.getLong(5) == exact((r.getString(0), r.getLong(1))),
          s"exact audit drifted for ${r.getString(0)}/${r.getLong(1)}")
      }
  }

  test("lmPerplexity: hand-traced integer-bits surprisals, power-of-two edges exact") {
    import graft.ext.Text
    // model: V = |{x, y, z}| + 1 = 4; ctx totals <s>->3, x->3
    val state = Seq(("<s>", "x", 3L), ("x", "y", 1L), ("x", "z", 2L))
      .toDF("ctx", "w", "cnt")
    val docs = Seq(
      (1L, "x y"), // (<s>,x): a=7,b=4 -> s=0; (x,y): a=7,b=2 -> s=1
      (2L, "x z"), // (<s>,x): s=0;            (x,z): a=7,b=3 -> s=1
      (3L, "q q")  // both ctx/word unseen: a=0+4=4, b=1 -> s=2 exactly
    ).toDF("doc_id", "text")
    val out = Text.lmPerplexityFromCounts(docs, state).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(4))).toMap
    assert(out(1L) == ((2L, 1L, 1)), s"doc 1: ${out(1L)}")
    assert(out(2L) == ((2L, 1L, 1)), s"doc 2: ${out(2L)}")
    // a = b<<k EXACTLY (4 = 1<<2) must score k, not k-1 — the bit-length
    // off-by-one the shift compare exists to prevent
    assert(out(3L) == ((2L, 4L, 1)), s"doc 3: ${out(3L)}")
  }

  test("lmPerplexity: keep verdict splits on the 13/3 rational threshold, empty doc drops") {
    import graft.ext.Text
    // high-V model: every unseen token costs floor(log2(33)) = 5 bits
    // > 13/3 -> keep 0; low-V model: 2 bits < 13/3 -> keep 1
    val stateHi = (1 to 32).map(i => ("c", s"w$i", 1L)).toDF("ctx", "w", "cnt")
    val stateLo = Seq(("c", "w1", 1L), ("c", "w2", 1L), ("c", "w3", 1L))
      .toDF("ctx", "w", "cnt")
    val docs = Seq((1L, "q r"), (2L, "")).toDF("doc_id", "text")
    val hi = Text.lmPerplexityFromCounts(docs, stateHi).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(4))).toMap
    val lo = Text.lmPerplexityFromCounts(docs, stateLo).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(4))).toMap
    assert(hi(1L) == ((2L, 0)), s"high-V: ${hi(1L)}")
    assert(lo(1L) == ((2L, 1)), s"low-V: ${lo(1L)}")
    // empty docs score nothing and DROP (keep 0, null display ratio)
    assert(hi(2L) == ((0L, 0)))
    val emptyRow = Text.lmPerplexityFromCounts(docs, stateHi)
      .filter(col("doc_id") === 2L).collect().head
    assert(emptyRow.isNullAt(3), "empty doc must carry null bits_per_token")
  }

  test("lm state ingests through Structured Streaming foreachBatch, scores == batch") {
    import graft.ext.Text
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val docs = Seq.tabulate(90)(i =>
      (i.toLong, s"w${i % 5} w${(i * 2) % 5} w${(i * 3) % 5} u$i"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(4))).toMap
    val batch = rows(Text.lmPerplexity(docs))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val d = Text.ngramAdd(b.toDF())
        state = Some(state.fold(d)(s => Text.mergeNgrams(s, d)).localCheckpoint(true))
        ()
      }
      .outputMode(OutputMode.Update()).start()
    try {
      docs.as[(Long, String)].collect().toSeq.grouped(25)
        .foreach { c => mem.addData(c); q.processAllAvailable() }
      assert(rows(Text.lmPerplexityFromCounts(docs, state.get)) == batch,
        "streamed LM state != batch scores")
    } finally q.stop()
  }

  test("lmPerplexity: merged ngramAdd deltas score bit-identically to the batch pass") {
    import graft.ext.Text
    val docs = Seq.tabulate(60)(i =>
      (i.toLong, s"tok${i % 7} tok${(i * 3) % 7} tok${(i * 5) % 7} tail$i"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(4))).toMap
    val batch = rows(Text.lmPerplexity(docs))
    val merged = Text.mergeNgrams(
      (0 to 2).map(k => Text.ngramAdd(docs.filter(col("doc_id") % 3 === k))): _*)
    assert(rows(Text.lmPerplexityFromCounts(docs, merged)) == batch,
      "merged LM state != batch")
  }

  test("phashAdd/mergePhash: merged sketch state == batch pairs, idempotent under overlap") {
    import graft.ext.Multimodal
    val media = spark.range(12L).as[Long].map(id =>
      Multimodal.EncodedMedia(id, "png",
        // groups of 3 share a raster (id div 3 keys the pixel ramp)
        Multimodal.pngBytesWith(id, 6, 6, i => (((id / 3) * 37 + i) % 256).toInt)))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = pairs(Multimodal.phashNearDups(media, 3))
    assert(batch.nonEmpty)
    val evens = media.filter(_.doc_id % 2 == 0); val odds = media.filter(_.doc_id % 2 == 1)
    val merged = Multimodal.mergePhash(
      Multimodal.phashAdd(evens), Multimodal.phashAdd(odds))
    assert(pairs(Multimodal.phashNearDupsFromState(merged, 3)) == batch)
    // overlap: docs 0-5 ingested twice — first-wins merge, still == batch
    val overlapped = Multimodal.mergePhash(
      Multimodal.phashAdd(media.filter(_.doc_id <= 5)),
      Multimodal.phashAdd(media))
    assert(pairs(Multimodal.phashNearDupsFromState(overlapped, 3)) == batch)
  }

  test("phashNearDupDeltaPairs == batch pairs restricted to delta-touching, both orientations") {
    import graft.ext.Multimodal
    val media = spark.range(12L).as[Long].map(id =>
      Multimodal.EncodedMedia(id, "png",
        Multimodal.pngBytesWith(id, 6, 6, i => (((id / 3) * 37 + i) % 256).toInt)))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = pairs(Multimodal.phashNearDups(media, 3))
    // delta = {4}: its raster group is (3, 4, 5), so the delta doc is the
    // GREATER id in (3,4) and the SMALLER in (4,5) — a naive a.id < b.id
    // delta join would drop one orientation
    val delta = pairs(Multimodal.phashNearDupDeltaPairs(
      Multimodal.phashAdd(media.filter(_.doc_id != 4L)),
      media.filter(_.doc_id == 4L), 3))
    assert(delta == batch.filter(p => p._1 == 4L || p._2 == 4L), delta.toString)
    assert(delta.exists(_._2 == 4L) && delta.exists(_._1 == 4L), delta.toString)
  }

  test("minhash signature state ingests through Structured Streaming foreachBatch, pairs == batch") {
    import graft.ext.MinHash
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val docs = Seq.tabulate(60)(i =>
      (i.toLong, if (i % 4 == 0) "shared near dup body of text one two three"
                 else s"unique body $i with tokens t${i}a t${i}b t${i}c t${i}d"))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Double]("jaccard"))).toSet
    val batch = pairs(MinHash.nearDupPairs(docs, 3))
    assert(batch.nonEmpty)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val d = MinHash.minhashAdd(b.toDF(), 3)
        state = Some(state.fold(d)(s => MinHash.mergeMinhash(s, d)).localCheckpoint(true))
        ()
      }
      .outputMode(OutputMode.Update()).start()
    try {
      docs.as[(Long, String)].collect().toSeq.grouped(20)
        .foreach { c => mem.addData(c); q.processAllAvailable() }
      assert(pairs(MinHash.nearDupPairsFromState(state.get)) == batch,
        "streamed signature state != batch pairs")
    } finally q.stop()
  }

  test("ngramPrune: state shrinks, pruned scoring is deterministic with both verdicts live, prune-after-merge semantics") {
    import graft.ext.Text
    // 'common' bigrams repeat across docs (survive minCnt=3); each doc's
    // taili token forms singleton bigrams (pruned)
    val docs = Seq.tabulate(30)(i =>
      (i.toLong, if (i % 3 == 0) "common common common common common common"
                 else s"common common tail$i tail${i}b"))
      .toDF("doc_id", "text")
    val full = Text.ngramAdd(docs)
    val pruned = Text.ngramPrune(full, 3L)
    val nFull = full.count(); val nPruned = pruned.count()
    assert(nPruned > 0 && nPruned < nFull, s"prune must shrink: $nFull -> $nPruned")
    assert(pruned.filter(col("cnt") < 3).count() == 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(4))).toMap
    // 3/2 bits/token: the fixture's vocabulary is tiny, so even pruned
    // (unseen) bigrams cost only ~7 bits/doc — a tight rational
    // threshold splits the all-common docs (0 bits) from the
    // singleton-tailed ones (7 bits / 4 tokens)
    val s1 = rows(Text.lmPerplexityFromCounts(docs, pruned, thrNum = 3L, thrDen = 2L))
    val s2 = rows(Text.lmPerplexityFromCounts(docs, pruned, thrNum = 3L, thrDen = 2L))
    assert(s1 == s2, "pruned scoring must be deterministic")
    // the all-common docs stay predictable (keep=1); singleton-tailed
    // docs score their pruned bigrams as unseen and drop — both verdict
    // branches live under the pruned model
    assert(s1.values.exists(_._3 == 1) && s1.values.exists(_._3 == 0),
      s"degenerate verdict under pruned state: $s1")
    // prune-after-merge == prune of the batch state (the documented
    // order: pruning does NOT commute with merging, so the contract is
    // prune the MERGED state)
    val mergedPruned = Text.ngramPrune(Text.mergeNgrams(
      Text.ngramAdd(docs.filter(col("doc_id") % 2 === 0)),
      Text.ngramAdd(docs.filter(col("doc_id") % 2 === 1))), 3L)
    def stateRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(stateRows(mergedPruned) == stateRows(pruned))
  }

  test("audioSketch: one-hot per segment; tone variants land at Hamming 0/2/4 exactly") {
    import graft.ext.Multimodal
    val docs = spark.range(60L).select(col("id").as("doc_id"))
    val media = Multimodal.encodeAudioTones(docs)
      .unionByName(Multimodal.encodeAudioTones(docs, variant = true))
    val sk = Multimodal.audioSketch(media).collect().map(a => a.doc_id -> a.sketch).toMap
    assert(sk.size == 120)
    // exactly one bit per segment nibble
    assert(sk.values.forall(s => java.lang.Long.bitCount(s) == 16), "not one-hot per segment")
    // base vs variant Hamming is exactly 2 * (base % 3)
    (0L until 60L).foreach { b =>
      val h = java.lang.Long.bitCount(sk(b) ^ sk(b + Multimodal.AudioVariantOffset))
      assert(h == 2 * (b % 3), s"base $b: hamming $h != ${2 * (b % 3)}")
    }
    // no cross-base sketch near-collisions at <= 3 (the quadratic tone
    // mix must keep unrelated clips apart)
    val ids = sk.keys.toSeq.sorted
    for (i <- ids.indices; j <- (i + 1) until ids.size) {
      val (a, b2) = (ids(i), ids(j))
      if (b2 - a != Multimodal.AudioVariantOffset)
        assert(java.lang.Long.bitCount(sk(a) ^ sk(b2)) > 3,
          s"cross pair ($a,$b2) collides")
    }
    // banded pairs == expected set == brute truth (recall 1.0 by pigeonhole)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val banded = pairs(Multimodal.audioNearDups(media, 3))
    val expected = (0L until 60L).filter(_ % 3 <= 1)
      .map(b => (b, b + Multimodal.AudioVariantOffset, 2 * (b % 3))).toSet
    assert(banded == expected, s"banded=${banded.size} expected=${expected.size}")
    val skDf = Multimodal.audioSketchAdd(media)
    assert(pairs(Multimodal.bruteAudioPairs(skDf, 3)) == banded)
  }

  test("audioSketchAdd/mergeAudioSketch: merged state == batch pairs, idempotent under overlap") {
    import graft.ext.Multimodal
    val docs = spark.range(30L).select(col("id").as("doc_id"))
    val media = Multimodal.encodeAudioTones(docs)
      .unionByName(Multimodal.encodeAudioTones(docs, variant = true))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = pairs(Multimodal.audioNearDups(media, 3))
    assert(batch.nonEmpty)
    val evens = media.filter(_.doc_id % 2 == 0); val odds = media.filter(_.doc_id % 2 == 1)
    val merged = Multimodal.mergeAudioSketch(
      Multimodal.audioSketchAdd(evens), Multimodal.audioSketchAdd(odds))
    assert(pairs(Multimodal.audioNearDupsFromState(merged, 3)) == batch)
    val overlapped = Multimodal.mergeAudioSketch(
      Multimodal.audioSketchAdd(media.filter(_.doc_id <= 5)),
      Multimodal.audioSketchAdd(media))
    assert(pairs(Multimodal.audioNearDupsFromState(overlapped, 3)) == batch)
  }

  test("audioNearDupDeltaPairs == batch pairs restricted to delta-touching, both orientations") {
    import graft.ext.Multimodal
    val docs = spark.range(30L).select(col("id").as("doc_id"))
    val media = Multimodal.encodeAudioTones(docs)
      .unionByName(Multimodal.encodeAudioTones(docs, variant = true))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = pairs(Multimodal.audioNearDups(media, 3))
    // delta = clip id % 7 = 0 over BOTH base and variant ids: bases
    // 0/7/21/28 put the delta doc on the SMALLER side of its pair;
    // variant ids ≡ base + offset can land it on the GREATER side
    val delta = pairs(Multimodal.audioNearDupDeltaPairs(
      Multimodal.audioSketchAdd(media.filter(_.doc_id % 7 != 0)),
      media.filter(_.doc_id % 7 == 0), 3))
    assert(delta == batch.filter(p => p._1 % 7 == 0 || p._2 % 7 == 0), delta.toString)
    // offset ≡ 3 (mod 7): base 0/7/21/28 pairs carry the delta doc as
    // the SMALLER id, base-≡-4 pairs (variant id ≡ 0) as the GREATER
    assert(delta.exists(p => p._1 % 7 == 0 && p._2 % 7 != 0), delta.toString)
    assert(delta.exists(p => p._1 % 7 != 0 && p._2 % 7 == 0), delta.toString)
  }

  test("audioSketch: refuses non-16-segment clips and wrong stream shapes by name") {
    import graft.ext.Multimodal
    def msgOf(e: Throwable): String =
      e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    // the noise fixture's id=1 clip has 287 samples (not 16-divisible)
    val bad = spark.createDataset(Seq(
      Multimodal.EncodedMedia(1L, "wav", Multimodal.wavBytes(1L))))(
      org.apache.spark.sql.Encoders.product[Multimodal.EncodedMedia])
    val e = intercept[org.apache.spark.SparkException](
      Multimodal.audioSketch(bad).collect())
    assert(msgOf(e).contains("needs 16 equal segments"), msgOf(e))
  }

  test("lmPerplexityBackoff: hand-traced three-level backoff, per-order prune changes the level") {
    import graft.ext.Text
    // state corpus: "x y z x y z" -> trigram (x,y,z) seen twice, all
    // others once; bigrams (x,y) and (y,z) twice; N=6, V=4
    val corpus = Seq((100L, "x y z x y z")).toDF("doc_id", "text")
    val state = Text.trigramLmAdd(corpus)
    def bitsOf(text: String, min3: Long = 1L, min2: Long = 1L): Long =
      Text.lmPerplexityBackoffFromCounts(
        Seq((1L, text)).toDF("doc_id", "text"), state, min3, min2, 1L)
        .collect().head.getLong(2)
    // "x y z w": three trigram hits (surprisal 0 each: cnt == tot in
    // this corpus) + one OOV unigram event: a=25*(6+4)=250, b=4*1=4,
    // floor(log2(62.5)) = 5
    assert(bitsOf("x y z w") == 5L, "trigram hits + OOV floor")
    // "z x w": unigram z (a=250, b=4*(2+1)=12 -> 4) + bigram (z,x)
    // (a=5*1, b=2*1 -> 1) + OOV (5) = 10
    assert(bitsOf("z x w") == 10L, "unigram + bigram + OOV levels")
    // pruning trigram singletons forces (<s>,<s>,x) down to the
    // bigram level: was 0 bits (cnt==tot at order 3), now
    // a=5*tot2(<s>)=5, b=2*cnt2(<s>,x)=2 -> 1 bit
    assert(bitsOf("x", min3 = 1L) == 0L)
    assert(bitsOf("x", min3 = 2L) == 1L, "pruned trigram must back off")
    // empty doc: zero tokens, keep = 0
    val empty = Text.lmPerplexityBackoffFromCounts(
      Seq((1L, "   ")).toDF("doc_id", "text"), state).collect().head
    assert(empty.getLong(1) == 0L && empty.getInt(4) == 0)
  }

  test("lmPerplexityBackoff: merged trigramLmAdd deltas score bit-identically to the batch pass") {
    import graft.ext.Text
    val docs = Seq.tabulate(60)(i =>
      // every 5th doc is all-unique tokens (pure OOV tail -> high
      // bits/token, drops); the rest repeat a 7-token vocabulary
      (i.toLong, if (i % 5 == 0) s"u${i}a u${i}b u${i}c u${i}d u${i}e"
                 else s"tok${i % 7} tok${(i * 3) % 7} tok${(i * 5) % 7} tok${i % 7}"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(4))).toMap
    val batch = rows(Text.lmPerplexityBackoff(docs, min3 = 2L, min2 = 2L))
    val kept = batch.values.map(_._3).toSet
    assert(kept == Set(0, 1), s"both verdict branches must be live, got $kept")
    val merged = Text.mergeTrigramLm(
      (0 to 2).map(k => Text.trigramLmAdd(docs.filter(col("doc_id") % 3 === k))): _*)
    assert(rows(Text.lmPerplexityBackoffFromCounts(docs, merged,
      min3 = 2L, min2 = 2L)) == batch, "merged trigram LM state != batch")
  }

  test("fingerprintAdd/mergeFingerprints: merged postings == batch pairs and spans, idempotent") {
    import graft.ext.Text
    // 5-doc groups share a 12-token prefix (winnow candidates); unique tails
    val docs = Seq.tabulate(30)(i =>
      (i.toLong, s"c${i / 5}t1 c${i / 5}t2 c${i / 5}t3 c${i / 5}t4 c${i / 5}t5 " +
        s"c${i / 5}t6 c${i / 5}t7 c${i / 5}t8 c${i / 5}t9 c${i / 5}t10 " +
        s"c${i / 5}t11 c${i / 5}t12 u${i}a u${i}b u${i}c"))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    def spans(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getString(5))).toSet
    val batchPairs = pairs(Text.fingerprintNearDups(docs))
    val batchSpans = spans(Text.exactDupSpans(docs))
    assert(batchPairs.nonEmpty && batchSpans.nonEmpty)
    val merged = Text.mergeFingerprints(
      (0 to 2).map(k => Text.fingerprintAdd(docs.filter(col("doc_id") % 3 === k))): _*)
    assert(pairs(Text.fingerprintNearDupsFromState(merged)) == batchPairs,
      "merged postings != batch pairs")
    assert(spans(Text.exactDupSpansFromState(docs, merged)) == batchSpans,
      "merged postings != batch spans")
    // overlap: docs 0-9 ingested twice — distinct-merge, still == batch
    val overlapped = Text.mergeFingerprints(
      Text.fingerprintAdd(docs.filter(col("doc_id") <= 9)),
      Text.fingerprintAdd(docs))
    assert(pairs(Text.fingerprintNearDupsFromState(overlapped)) == batchPairs)
  }

  test("ivfIndexAdd/mergeIvfIndex: delta-vs-state search == full trained search on the delta slice") {
    import graft.ext.{Cluster, Sim}
    val emb = spark.range(120L).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 8), i -> " +
        "CAST(pmod(id * 2654435761 + i * 40503, 1000003) / 1000003.0 - 0.5 AS FLOAT))")
        .as("embedding"))
    val cen = Cluster.kmeansCentroids(emb, k = 4, iters = 2)
    val scale = Cluster.sampledGridScale(emb, 1).get
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // the contract directly: delta search over the maintained state ==
    // the full trained search restricted to delta probes
    val full = rows(Sim.ivfTopKTrained(emb, cen, k = 3, nProbe = 2)
      .filter(col("vec_id") % 3 === 1))
    val state = Sim.ivfIndexAdd(emb.filter(col("vec_id") % 3 =!= 1), cen, scale)
    val delta = emb.filter(col("vec_id") % 3 === 1)
    assert(rows(Sim.knnDeltaVsState(state, delta, cen, scale, k = 3, nProbe = 2)) == full)
    assert(full.nonEmpty)
    // merge: two-delta ingest == one-shot state, idempotent under overlap
    val merged = Sim.mergeIvfIndex(
      Sim.ivfIndexAdd(emb.filter(col("vec_id") % 3 === 0), cen, scale),
      Sim.ivfIndexAdd(emb.filter(col("vec_id") % 3 === 2), cen, scale))
    assert(rows(Sim.knnDeltaVsState(merged, delta, cen, scale, k = 3, nProbe = 2)) == full)
    val overlapped = Sim.mergeIvfIndex(
      Sim.ivfIndexAdd(emb.filter(col("vec_id") % 3 === 0), cen, scale),
      Sim.ivfIndexAdd(emb.filter(col("vec_id") % 3 =!= 1), cen, scale))
    assert(rows(Sim.knnDeltaVsState(overlapped, delta, cen, scale, k = 3, nProbe = 2)) == full)
  }

  test("semDedupDeltaPairs == full-corpus same-cell threshold pairs restricted to delta-touching") {
    import graft.ext.{Cluster, Sim}
    import org.apache.spark.sql.graft.DotProduct.dot
    val emb = spark.range(120L).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 8), i -> " +
        "CAST(pmod(id div 6 * 2654435761 + i * 40503, 1000003) / 1000003.0 - 0.5 AS FLOAT))")
        .as("embedding")) // groups of 6 share a vector: same-cell dups exist
    val cen = Cluster.kmeansCentroids(emb, k = 4, iters = 2)
    val scale = Cluster.sampledGridScale(emb, 1).get
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the batch reference: everything assigned under the SAME fixed
    // quantizer, same-cell pairs above threshold
    val idx = Sim.ivfIndexAdd(emb, cen, scale)
    val ref = rows(idx.as("a")
      .join(idx.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("keep_id"), col("b.vec_id").as("dup_id"),
        (dot(col("a.embedding"), col("b.embedding")) /
          (sqrt(col("a.nsq")) * sqrt(col("b.nsq")))).as("cosine"))
      .filter(col("cosine") >= 0.30))
      .filter(p => p._1 % 3 == 1 || p._2 % 3 == 1)
    assert(ref.nonEmpty)
    val got = rows(Sim.semDedupDeltaPairs(
      Sim.ivfIndexAdd(emb.filter(col("vec_id") % 3 =!= 1), cen, scale),
      emb.filter(col("vec_id") % 3 === 1), cen, scale, threshold = 0.30))
    assert(got == ref, s"got ${got.size} ref ${ref.size}")
    // both orientations live: delta docs appear as keep AND as dup ids
    assert(got.exists(_._1 % 3 == 1) && got.exists(_._2 % 3 == 1))
  }
}
