package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.States

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract /
  * frame-sample stages.
  *
  * The decode path is REAL for the pure-JVM image containers this
  * sandbox can ship — binary PPM (P6), uncompressed 24/32-bit BMP, and
  * COMPRESSED PNG (zlib is JVM-built-in — see [[decodePng]]: chunk
  * CRCs, inflate, all five filter reconstructions): [[decodeMedia]]
  * parses the actual header bytes (magic, dimensions, bit depth,
  * pixel-array offset, 4-byte row padding) and checksums the pixel
  * payload, all inside a narrow `mapPartitions`. Codec formats needing
  * native libraries absent here (JPEG/MP3/H.264) remain behind the
  * seam; [[byteFeatures]] is the labeled placeholder for those —
  * identical signature and per-partition batch shape, so swapping its
  * body for JNI/FFI codec calls changes nothing upstream or downstream.
  *
  * Scale posture: media rows are heavy (MB-scale blobs at production) —
  * decode and feature extraction are narrow `mapPartitions` (no shuffle,
  * no driver collect, one codec context per partition), metadata-only
  * transforms never deserialize the blob, and frame sampling is pure
  * arithmetic on metadata.
  */
object Multimodal {

  /** Derive a deterministic media table from `documents`: the text bytes
    * stand in for an encoded payload; kind/width/height/duration are
    * arithmetic off doc_id (oracle-reproducible). */
  def media(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast(IntegerType)).as("kind"),
      col("text").cast(BinaryType).as("bytes"),
      (lit(64L) + (col("doc_id") * 37) % 1856).as("width"),
      (lit(64L) + (col("doc_id") * 53) % 1016).as("height"),
      (lit(1L) + (col("doc_id") * 17) % 600).as("duration_s"),
      lit(24L).as("fps"))

  /** Metadata-only frame sampling: every `strideS` seconds, never touching
    * the payload. Output is scalar metadata (count + first/last frame
    * index) so it stays cheap and oracle-comparable. */
  def frameSamplePlan(media: DataFrame, strideS: Long): DataFrame =
    media
      .withColumn("n_frames", col("duration_s") * col("fps"))
      .withColumn("frames_sampled", expr(s"(duration_s + ${strideS - 1}) div $strideS"))
      .select(
        col("doc_id"), col("kind"),
        length(col("bytes")).cast(LongType).as("byte_len"),
        col("width"), col("height"), col("duration_s"), col("n_frames"),
        col("frames_sampled").cast(LongType).as("frames_sampled"),
        lit(0L).as("first_frame"),
        ((col("frames_sampled").cast(LongType) - 1) * strideS * col("fps")).as("last_frame"))

  final case class MediaRow(doc_id: Long, kind: String, bytes: Array[Byte])
  final case class MediaFeatures(doc_id: Long, kind: String, byte_len: Int,
      first_byte: Int, last_byte: Int, byte_sum_mod: Long)

  /** Placeholder feature extractor for codec-compressed formats (see
    * object doc): derives deterministic features from raw bytes with the
    * SAME signature and batch shape a JNI/FFI decoder would use
    * (per-partition iterator — one codec context per partition, not per
    * row). The pure-JVM formats have a real decoder: [[decodeMedia]]. */
  def byteFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      // codec-backed decoder: init codec context here, once per partition
      rows.map { m =>
        val bs = m.bytes
        val sum = bs.foldLeft(0L)((a, b) => (a + (b & 0xff)) % 1000003L)
        MediaFeatures(m.doc_id, m.kind, bs.length,
          if (bs.nonEmpty) bs.head & 0xff else -1,
          if (bs.nonEmpty) bs.last & 0xff else -1,
          sum)
      }
    }
  }

  // ---------------------------------------------------------------------
  // Real decode: binary PPM (P6) and uncompressed BMP, pure JVM.
  // ---------------------------------------------------------------------

  final case class EncodedMedia(doc_id: Long, fmt: String, bytes: Array[Byte])

  /** Decoded image metadata + a pixel checksum proving the parser found
    * the pixel array at the right offset (padding handled, header
    * skipped). `pixel_sum` = Σ payload bytes (BMP row padding excluded),
    * order-independent so PPM top-down and BMP bottom-up agree. */
  final case class DecodedMedia(doc_id: Long, fmt: String, width: Int,
      height: Int, channels: Int, pixel_bytes: Long, pixel_sum: Long)

  /** Encode a deterministic tiny image per document: even doc_ids as
    * binary PPM (P6), odd as 24-bit uncompressed BMP (bottom-up rows,
    * 4-byte row padding — the format's actual layout). Dimensions and
    * pixel bytes are arithmetic off doc_id so a SQL oracle can replay
    * the expected decode output without parsing bytes:
    * w = 1+(id*7)%13, h = 1+(id*11)%9, payload byte i = (id+i)%256. */
  def encodeMedia(documents: DataFrame): Dataset[EncodedMedia] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions(_.map { id =>
      val w = (1 + (id * 7) % 13).toInt
      val h = (1 + (id * 11) % 9).toInt
      if (id % 2 == 0) EncodedMedia(id, "ppm", ppmBytes(id, w, h))
      else EncodedMedia(id, "bmp", bmpBytes(id, w, h))
    })
  }

  /** Binary PPM: ASCII "P6\n<w> <h>\n255\n" header, then w*h*3 raw RGB
    * bytes row-major top-down. */
  private[graft] def ppmBytes(id: Long, w: Int, h: Int): Array[Byte] = {
    val header = s"P6\n$w $h\n255\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val n = w * h * 3
    val out = new Array[Byte](header.length + n)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = 0
    while (i < n) { out(header.length + i) = ((id + i) % 256).toByte; i += 1 }
    out
  }

  /** Uncompressed 24-bit BMP: 14-byte file header + 40-byte
    * BITMAPINFOHEADER, rows stored bottom-up and zero-padded to 4-byte
    * boundaries. Payload byte value at logical row y, in-row index x is
    * (id + y*w*3 + x) % 256 — same linearization as PPM, so both formats
    * share one oracle expression. */
  private[graft] def bmpBytes(id: Long, w: Int, h: Int): Array[Byte] = {
    val rowSize = ((w * 3 + 3) / 4) * 4
    val pixelArray = rowSize * h
    val out = new Array[Byte](54 + pixelArray)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte; out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    le32(2, 54 + pixelArray)       // file size
    le32(10, 54)                   // pixel-array offset
    le32(14, 40)                   // BITMAPINFOHEADER size
    le32(18, w); le32(22, h)       // positive height = bottom-up
    out(26) = 1                    // planes
    out(28) = 24                   // bits per pixel
    le32(30, 0)                    // BI_RGB, uncompressed
    le32(34, pixelArray)
    var y = 0
    while (y < h) {
      val storedRow = h - 1 - y    // bottom-up storage
      var x = 0
      while (x < w * 3) {
        out(54 + storedRow * rowSize + x) = ((id + y.toLong * w * 3 + x) % 256).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** REAL decoder for PPM (P6) and uncompressed 24/32-bit BMP: parses
    * the actual container bytes — magic, whitespace/comment-tolerant PPM
    * header, little-endian BMP fields, pixel-array offset, row padding —
    * and checksums the pixel payload. Narrow mapPartitions; malformed
    * payloads fail loudly (corrupt media must not silently pass). */
  def decodeMedia(media: Dataset[EncodedMedia]): Dataset[DecodedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val bs = m.bytes
      require(bs.length >= 2, s"doc ${m.doc_id}: payload too short")
      if (bs(0) == 'P' && bs(1) == '6') decodePpm(m.doc_id, bs)
      else if (bs(0) == 'B' && bs(1) == 'M') decodeBmp(m.doc_id, bs)
      else throw new IllegalArgumentException(
        s"doc ${m.doc_id}: unknown magic 0x${(bs(0) & 0xff).toHexString}${(bs(1) & 0xff).toHexString}")
    })
  }

  /** PPM (P6) header scan per the netpbm spec: fields separated by
    * whitespace, '#' starts a comment running to end-of-line. Returns
    * (width, height, raster offset); validates the raster length. */
  private def ppmLayout(id: Long, bs: Array[Byte]): (Int, Int, Int) = {
    var pos = 2
    def nextInt(): Int = {
      while (pos < bs.length &&
             (bs(pos).toChar.isWhitespace || bs(pos) == '#')) {
        if (bs(pos) == '#') while (pos < bs.length && bs(pos) != '\n') pos += 1
        else pos += 1
      }
      var v = 0
      require(pos < bs.length && bs(pos) >= '0' && bs(pos) <= '9', s"doc $id: bad PPM header")
      while (pos < bs.length && bs(pos) >= '0' && bs(pos) <= '9') {
        v = v * 10 + (bs(pos) - '0'); pos += 1
        // bound the accumulator so a hostile oversized header field fails
        // loudly instead of wrapping Int and possibly colliding with the
        // actual raster byte count
        require(v <= (1 << 24), s"doc $id: PPM header field exceeds 2^24")
      }
      v
    }
    val w = nextInt(); val h = nextInt(); val maxVal = nextInt()
    require(maxVal == 255, s"doc $id: only 8-bit PPM supported, maxval=$maxVal")
    pos += 1 // exactly one whitespace byte separates the header from raster data
    require(bs.length - pos == w * h * 3,
      s"doc $id: PPM raster ${bs.length - pos} bytes, expected ${w * h * 3}")
    (w, h, pos)
  }

  private def decodePpm(id: Long, bs: Array[Byte]): DecodedMedia = {
    val (w, h, pos) = ppmLayout(id, bs)
    var sum = 0L
    var i = pos
    while (i < bs.length) { sum += bs(i) & 0xff; i += 1 }
    DecodedMedia(id, "ppm", w, h, 3, (w * h * 3).toLong, sum)
  }

  /** BMP layout: (width, height, channels, pixel-array offset, padded
    * row size, topDown). Validates depth/compression/length. */
  private def bmpLayout(id: Long, bs: Array[Byte]): (Int, Int, Int, Int, Int, Boolean) = {
    def le32(off: Int): Int =
      (bs(off) & 0xff) | ((bs(off + 1) & 0xff) << 8) |
      ((bs(off + 2) & 0xff) << 16) | ((bs(off + 3) & 0xff) << 24)
    require(bs.length >= 54, s"doc $id: BMP shorter than headers")
    val pixelOffset = le32(10)
    val w = le32(18)
    val rawH = le32(22)
    val h = math.abs(rawH) // negative height = top-down
    val bitCount = (bs(28) & 0xff) | ((bs(29) & 0xff) << 8)
    require(bitCount == 24 || bitCount == 32, s"doc $id: unsupported bit depth $bitCount")
    require(le32(30) == 0, s"doc $id: compressed BMP unsupported")
    // Hostile headers: a negative/zero width or a pixel offset inside the
    // headers must fail loudly, not produce a "successful" DecodedMedia
    // with negative dimensions and pixel_sum 0
    require(w > 0 && h > 0, s"doc $id: non-positive BMP dimensions ${w}x$rawH")
    require(pixelOffset >= 54, s"doc $id: BMP pixel offset $pixelOffset inside headers")
    val channels = bitCount / 8
    val rowSize = ((w * channels + 3) / 4) * 4
    // length check in Long: pixelOffset + rowSize*h can wrap Int for
    // hostile (huge-but-positive) header fields
    require(bs.length >= pixelOffset.toLong + rowSize.toLong * h,
      s"doc $id: truncated BMP pixel array")
    (w, h, channels, pixelOffset, rowSize, rawH < 0)
  }

  private def decodeBmp(id: Long, bs: Array[Byte]): DecodedMedia = {
    val (w, h, channels, pixelOffset, rowSize, _) = bmpLayout(id, bs)
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      val base = pixelOffset + y * rowSize
      while (x < w * channels) { sum += bs(base + x) & 0xff; x += 1 } // padding excluded
      y += 1
    }
    DecodedMedia(id, "bmp", w, h, channels, w.toLong * h * channels, sum)
  }

  /** PNG is NOT behind the codec seam: its compression is zlib, which
    * the JVM ships (`java.util.zip.Deflater`/`Inflater`/`CRC32`), so
    * both sides of the codec are REAL here — no native library needed.
    * [[encodePng]] writes spec-correct containers: the 8-byte
    * signature, IHDR (8-bit RGB, color type 2, non-interlaced),
    * zlib-deflated scanlines with the per-row filter CYCLING through
    * all five spec filter types (None/Sub/Up/Average/Paeth — so a
    * decoder that botches any reconstruction function hash-fails),
    * per-chunk CRC32s, and for every third image the IDAT stream SPLIT
    * across two chunks (legal and common; decoders must concatenate).
    * Pixel byte i (row-major, filter bytes excluded) is (id + i) % 256
    * — the same linearization as PPM/BMP, so the SQL oracle replays
    * the decode arithmetically. */
  def encodePng(documents: DataFrame): Dataset[EncodedMedia] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions(_.map { id =>
      EncodedMedia(id, "png", pngBytes(id, pngW(id), pngH(id)))
    })
  }

  /** Dimensions chosen so every image has ≥ 5 rows — all five filter
    * types appear in every container. */
  private[graft] def pngW(id: Long): Int = (3 + (id * 7) % 13).toInt
  private[graft] def pngH(id: Long): Int = (5 + (id * 11) % 9).toInt

  /** PNG Paeth predictor (spec §9, Filter type 4). */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def pngFilterPredict(ft: Int, a: Int, b: Int, c: Int): Int = ft match {
    case 0 => 0
    case 1 => a
    case 2 => b
    case 3 => (a + b) / 2
    case 4 => paeth(a, b, c)
  }

  private[graft] def pngBytes(id: Long, w: Int, h: Int): Array[Byte] =
    pngBytesWith(id, w, h, i => ((id + i) % 256).toInt)

  /** [[pngBytes]] with the pixel formula injectable (`pix` maps the
    * row-major byte index to a value in [0,256)): the ScaleProof
    * near-dup ladder needs DECORRELATED rasters (the ramp formula's
    * shifted copies resample to near-identical DCT signs, collapsing
    * the sketch space) while the oracle-replayable fixture needs the
    * ramp. Container layout (filter cycling, IDAT split) is shared. */
  private[graft] def pngBytesWith(id: Long, w: Int, h: Int,
      pix: Long => Int): Array[Byte] = {
    val rowBytes = w * 3
    val raw = Array.tabulate(h, rowBytes)((y, x) =>
      pix(y.toLong * rowBytes + x))
    val scan = new java.io.ByteArrayOutputStream()
    var y = 0
    while (y < h) {
      val ft = y % 5 // cycle every spec filter type
      scan.write(ft)
      val prior = if (y == 0) new Array[Int](rowBytes) else raw(y - 1)
      val cur = raw(y)
      var x = 0
      while (x < rowBytes) {
        val a = if (x >= 3) cur(x - 3) else 0
        val c = if (x >= 3) prior(x - 3) else 0
        scan.write((cur(x) - pngFilterPredict(ft, a, prior(x), c)) & 0xff)
        x += 1
      }
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(scan.toByteArray); defl.finish()
    val zout = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!defl.finished()) zout.write(buf, 0, defl.deflate(buf))
    defl.end()
    val idat = zout.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte), 0, 8)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      out.write(java.nio.ByteBuffer.allocate(4).putInt(data.length).array(), 0, 4)
      val tb = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.write(tb, 0, 4)
      out.write(data, 0, data.length)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array(), 0, 4)
    }
    chunk("IHDR", java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .array())
    if (id % 3 == 0 && idat.length >= 2) { // exercise multi-IDAT decode
      chunk("IDAT", idat.take(idat.length / 2))
      chunk("IDAT", idat.drop(idat.length / 2))
    } else chunk("IDAT", idat)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** REAL PNG decode: signature check, chunk walk with per-chunk CRC32
    * verification, multi-IDAT concatenation, zlib inflate, and full
    * scanline reconstruction (all five filter types). Fail-loud on any
    * malformation — corrupt media must not silently pass. Narrow
    * mapPartitions like every decode stage. */
  def decodePng(media: Dataset[EncodedMedia]): Dataset[DecodedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(m => decodePngBytes(m.doc_id, m.bytes)))
  }

  private[graft] def decodePngBytes(id: Long, bs: Array[Byte]): DecodedMedia = {
    val (w, h, px) = pngRaster(id, bs)
    var sum = 0L
    var i = 0
    while (i < px.length) { sum += px(i); i += 1 }
    DecodedMedia(id, "png", w, h, 3, px.length.toLong, sum)
  }

  /** The full decoded RGB raster (row-major, 3 bytes/pixel) — the
    * checksum decode above and the resize stage below share this one
    * codec walk. */
  private[graft] def pngRaster(id: Long, bs: Array[Byte]): (Int, Int, Array[Int]) = {
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    require(bs.length >= 8 && (0 until 8).forall(i => (bs(i) & 0xff) == sig(i)),
      s"doc $id: bad PNG signature")
    def be32(o: Int): Int =
      ((bs(o) & 0xff) << 24) | ((bs(o + 1) & 0xff) << 16) |
        ((bs(o + 2) & 0xff) << 8) | (bs(o + 3) & 0xff)
    var off = 8
    var w = -1; var h = -1
    val idat = new java.io.ByteArrayOutputStream()
    var sawEnd = false
    while (!sawEnd) {
      require(off + 8 <= bs.length, s"doc $id: truncated chunk header")
      val len = be32(off)
      val typ = new String(bs, off + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      require(len >= 0 && off + 12 + len <= bs.length, s"doc $id: truncated $typ chunk")
      val crc = new java.util.zip.CRC32()
      crc.update(bs, off + 4, 4 + len)
      require(crc.getValue.toInt == be32(off + 8 + len), s"doc $id: $typ CRC mismatch")
      typ match {
        case "IHDR" =>
          w = be32(off + 8); h = be32(off + 12)
          val (depth, color) = (bs(off + 16) & 0xff, bs(off + 17) & 0xff)
          require(depth == 8 && color == 2,
            s"doc $id: unsupported PNG ($depth-bit, color type $color)")
          require((bs(off + 18) & 0xff) == 0 && (bs(off + 19) & 0xff) == 0 &&
            (bs(off + 20) & 0xff) == 0,
            s"doc $id: unsupported compression/filter/interlace method")
        case "IDAT" => idat.write(bs, off + 8, len)
        case "IEND" => sawEnd = true
        case _ => () // ancillary chunk: skipped, CRC still verified above
      }
      off += 12 + len
    }
    // appended garbage must fail as loudly as truncation: IEND is the
    // spec's final chunk, so the container ends exactly where it does
    require(off == bs.length,
      s"doc $id: ${bs.length - off} trailing bytes after IEND")
    require(w > 0 && h > 0, s"doc $id: missing or empty IHDR")
    val infl = new java.util.zip.Inflater()
    infl.setInput(idat.toByteArray)
    val scanOut = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!infl.finished()) {
      val n = infl.inflate(buf)
      require(n > 0 || infl.finished(), s"doc $id: truncated IDAT zlib stream")
      scanOut.write(buf, 0, n)
    }
    infl.end()
    val rowBytes = w * 3
    val scan = scanOut.toByteArray
    require(scan.length == (rowBytes + 1) * h,
      s"doc $id: scanline stream is ${scan.length} bytes, expected ${(rowBytes + 1) * h}")
    val raster = new Array[Int](rowBytes * h)
    val recon = new Array[Int](rowBytes)
    val prior = new Array[Int](rowBytes)
    var y = 0
    while (y < h) {
      val ft = scan(y * (rowBytes + 1)) & 0xff
      require(ft <= 4, s"doc $id: invalid filter type $ft on row $y")
      var x = 0
      while (x < rowBytes) {
        val a = if (x >= 3) recon(x - 3) else 0
        val c = if (x >= 3) prior(x - 3) else 0
        recon(x) = ((scan(y * (rowBytes + 1) + 1 + x) & 0xff) +
          pngFilterPredict(ft, a, prior(x), c)) & 0xff
        raster(y * rowBytes + x) = recon(x)
        x += 1
      }
      Array.copy(recon, 0, prior, 0, rowBytes)
      y += 1
    }
    (w, h, raster)
  }

  /** Nearest-neighbor resize over the DECODED PNG raster — the codec
    * output composed into the preprocessing step ([[resizeMedia]]'s
    * contract extended from the uncompressed containers to a real
    * compressed one): the full chunk walk / inflate / filter
    * reconstruction runs, then the standard floor sampling. One narrow
    * mapPartitions, one codec walk per row. */
  def resizePng(media: Dataset[EncodedMedia], targetW: Int,
      targetH: Int): Dataset[ResizedMedia] = {
    require(targetW > 0 && targetH > 0,
      s"target dims must be positive, got ${targetW}x$targetH")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val (w, h, px) = pngRaster(m.doc_id, m.bytes)
      var sum = 0L
      var ty = 0
      while (ty < targetH) {
        val sy = ty * h / targetH
        var tx = 0
        while (tx < targetW) {
          val sx = tx * w / targetW
          var c = 0
          while (c < 3) { sum += px((sy * w + sx) * 3 + c); c += 1 }
          tx += 1
        }
        ty += 1
      }
      ResizedMedia(m.doc_id, m.fmt, w, h, targetW, targetH, 3,
        targetW.toLong * targetH * 3, sum)
    })
  }

  /** GIF87a is the second real compressed codec here — its compression
    * is LZW, implemented in full (variable code width 9→12 bits for
    * 8-bit images, LSB-first bit packing, CLEAR/EOI codes, dictionary
    * reset at 4096, the KwKwK case, 255-byte data sub-blocks).
    * [[encodeGif]] writes spec-correct containers: header, logical
    * screen descriptor, a 256-entry global color table, image
    * descriptor (little-endian u16 dims), LZW-compressed index stream,
    * trailer. Index byte i (row-major) is (id + i) % 256 — the shared
    * generator arithmetic, so the SQL oracle replays the decode.
    * Dimensions are large enough (≥ 256 pixels) that every container
    * exercises a 9→10-bit width growth and multi-sub-block packing. */
  def encodeGif(documents: DataFrame): Dataset[EncodedMedia] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions(_.map { id =>
      EncodedMedia(id, "gif", gifBytes(id, gifW(id), gifH(id)))
    })
  }

  private[graft] def gifW(id: Long): Int = (16 + (id * 5) % 17).toInt
  private[graft] def gifH(id: Long): Int = (16 + (id * 13) % 11).toInt

  /** GIF-variant LZW compress of an 8-bit-per-pixel index stream:
    * `minCode` is the image's LZW minimum code size (8 for 256-color,
    * the spec floor of 2 for tiny palettes). Returns the packed code
    * bytes (no sub-block framing). */
  private[graft] def lzwCompress(pixels: Array[Int], minCode: Int): Array[Byte] = {
    require(pixels.nonEmpty, "LZW input is empty: nothing to compress")
    val clear = 1 << minCode
    val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0
    var width = minCode + 1
    var free = eoi + 1
    // THE load-bearing off-by-one: the decoder's dictionary lags the
    // encoder's by exactly one entry (it can only add after it has seen
    // the next code), so the width check runs AFTER emitting a code,
    // against `free` BEFORE that emit's add — the compress(1)/GIF
    // convention. Bumping at the add site instead desynchronizes the
    // two sides one code early (verified by the hand-packed fixture).
    def emit(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt; bitCnt += width
      while (bitCnt >= 8) { out.write((bitBuf & 0xff).toInt); bitBuf >>>= 8; bitCnt -= 8 }
      if (free > (1 << width) - 1 && width < 12) width += 1
    }
    var dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    emit(clear)
    var w = pixels(0)
    var i = 1
    while (i < pixels.length) {
      val k = pixels(i)
      dict.get((w, k)) match {
        case Some(code) => w = code
        case None =>
          emit(w)
          if (free < 4096) { dict((w, k)) = free; free += 1 }
          else { // table full: reset, like every mainstream encoder
            emit(clear)
            dict = scala.collection.mutable.HashMap.empty
            free = eoi + 1; width = minCode + 1
          }
          w = k
      }
      i += 1
    }
    emit(w); emit(eoi)
    if (bitCnt > 0) out.write((bitBuf & 0xff).toInt)
    out.toByteArray
  }

  /** GIF-variant LZW decompress: returns the index stream. Fail-loud on
    * malformed codes or a missing EOI. */
  private[graft] def lzwDecompress(id: Long, data: Array[Byte], minCode: Int,
      expected: Int): Array[Int] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    var width = minCode + 1
    var bitBuf = 0L; var bitCnt = 0; var pos = 0
    def read(): Int = {
      while (bitCnt < width) {
        require(pos < data.length, s"doc $id: LZW stream truncated")
        bitBuf |= (data(pos) & 0xffL) << bitCnt; bitCnt += 8; pos += 1
      }
      val c = (bitBuf & ((1L << width) - 1)).toInt
      bitBuf >>>= width; bitCnt -= width
      c
    }
    val out = new Array[Int](expected)
    var n = 0
    // dictionary as (prefix code, appended byte); roots are implicit
    val prefix = new Array[Int](4096); val append = new Array[Int](4096)
    var free = eoi + 1
    def first(code: Int): Int = { // first byte of a code's expansion
      var c = code
      while (c >= clear) c = prefix(c)
      c
    }
    def write(code: Int): Unit = { // expand a code into out (in order)
      var c = code; var len = 0
      var d = c
      while (d >= clear) { len += 1; d = prefix(d) }
      len += 1
      require(n + len <= expected, s"doc $id: LZW output overruns $expected pixels")
      var j = n + len - 1
      while (c >= clear) { out(j) = append(c); c = prefix(c); j -= 1 }
      out(j) = c
      n += len
    }
    var prev = -1
    var done = false
    while (!done) {
      val code = read()
      if (code == clear) { free = eoi + 1; width = minCode + 1; prev = -1 }
      else if (code == eoi) done = true
      else {
        require(code < free || (code == free && prev >= 0),
          s"doc $id: LZW code $code out of range (free=$free)")
        if (prev < 0) { require(code < clear, s"doc $id: first code not a root"); write(code) }
        else {
          if (code == free) { // the KwKwK case
            val start = n
            write(prev)
            require(n < expected, s"doc $id: KwKwK overruns")
            out(n) = out(start); n += 1
          } else write(code)
          if (free < 4096) {
            prefix(free) = prev
            append(free) = first(code)
            free += 1
            if (free == (1 << width) && width < 12) width += 1
          }
        }
        prev = code
      }
    }
    require(n == expected, s"doc $id: LZW decoded $n pixels, expected $expected")
    out
  }

  /** Logical row order of a GIF interlaced image's STORAGE rows: the
    * four spec passes (8k, 8k+4, 4k+2, 2k+1). */
  private[graft] def interlaceRows(h: Int): Array[Int] =
    (Seq.range(0, h, 8) ++ Seq.range(4, h, 8) ++
      Seq.range(2, h, 4) ++ Seq.range(1, h, 2)).toArray

  private[graft] def gifBytes(id: Long, w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF87a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    le16(w); le16(h)
    out.write(0xf7) // GCT present, 8-bit color resolution, 256 entries
    out.write(0); out.write(0)
    var j = 0
    while (j < 256) { out.write(j); out.write(j); out.write(j); j += 1 } // gray GCT
    val interlaced = id % 5 == 0 // every fifth image ships interlaced
    out.write(0x2c) // image descriptor
    le16(0); le16(0); le16(w); le16(h)
    out.write(if (interlaced) 0x40 else 0) // no local table; interlace flag
    out.write(8) // LZW minimum code size for 8-bit indices
    val logical = Array.tabulate(w * h)(i => ((id + i) % 256).toInt)
    val pixels =
      if (!interlaced) logical
      else interlaceRows(h).flatMap(y => logical.slice(y * w, (y + 1) * w))
    val lzw = lzwCompress(pixels, 8)
    var off = 0
    while (off < lzw.length) { // 255-byte data sub-blocks
      val n = math.min(255, lzw.length - off)
      out.write(n); out.write(lzw, off, n); off += n
    }
    out.write(0) // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** [[DecodedMedia]] plus an ORDER-SENSITIVE pixel fold
    * `(acc·1000003 + px) mod 2147483629` over the LOGICAL row-major
    * stream: the sum alone cannot distinguish correctly de-interlaced
    * rows from misplaced ones (any permutation sums alike); the fold
    * pins row placement, so interlace handling is oracle-checked. */
  final case class GifDecoded(doc_id: Long, fmt: String, width: Int,
      height: Int, channels: Int, pixel_bytes: Long, pixel_sum: Long,
      pixel_fold: Long)

  /** REAL GIF87a decode: header + screen descriptor, global color
    * table skip, image descriptor (little-endian dims, INTERLACE flag
    * honored — storage rows map back through the four spec passes),
    * sub-block reassembly, and the full LZW expansion. `channels` = 1
    * (a paletted image IS its index stream; the palette maps indices
    * to RGB downstream). */
  def decodeGif(media: Dataset[EncodedMedia]): Dataset[GifDecoded] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(m => decodeGifBytes(m.doc_id, m.bytes)))
  }

  private[graft] def decodeGifBytes(id: Long, bs: Array[Byte]): GifDecoded = {
    require(bs.length >= 13, s"doc $id: GIF too short")
    val magic = new String(bs, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    require(magic == "GIF87a" || magic == "GIF89a", s"doc $id: bad GIF magic '$magic'")
    def le16(o: Int): Int = (bs(o) & 0xff) | ((bs(o + 1) & 0xff) << 8)
    val packed = bs(10) & 0xff
    var off = 13
    if ((packed & 0x80) != 0) off += 3 * (1 << ((packed & 0x07) + 1)) // skip GCT
    require(off < bs.length && (bs(off) & 0xff) == 0x2c,
      s"doc $id: expected image descriptor at $off")
    val w = le16(off + 5); val h = le16(off + 7)
    require(w > 0 && h > 0, s"doc $id: bad image dims ${w}x$h")
    val ipacked = bs(off + 9) & 0xff
    require((ipacked & 0x80) == 0, s"doc $id: local color table unsupported")
    val interlaced = (ipacked & 0x40) != 0
    off += 10
    val minCode = bs(off) & 0xff; off += 1
    require(minCode >= 2 && minCode <= 8, s"doc $id: bad LZW min code $minCode")
    val data = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done) { // reassemble the sub-block chain
      require(off < bs.length, s"doc $id: truncated sub-block chain")
      val n = bs(off) & 0xff; off += 1
      if (n == 0) done = true
      else {
        require(off + n <= bs.length, s"doc $id: truncated sub-block")
        data.write(bs, off, n); off += n
      }
    }
    require(off < bs.length && (bs(off) & 0xff) == 0x3b, s"doc $id: missing trailer")
    // the trailer is the container's last byte: appended garbage fails
    // loud like every other malformation (truncation already does)
    require(off + 1 == bs.length,
      s"doc $id: ${bs.length - off - 1} trailing bytes after GIF trailer")
    val stored = lzwDecompress(id, data.toByteArray, minCode, w * h)
    // de-interlace: storage row j carries logical row interlaceRows(h)(j)
    val px =
      if (!interlaced) stored
      else {
        val logical = new Array[Int](w * h)
        val order = interlaceRows(h)
        var j = 0
        while (j < h) {
          System.arraycopy(stored, j * w, logical, order(j) * w, w)
          j += 1
        }
        logical
      }
    var sum = 0L; var fold = 0L; var i = 0
    while (i < px.length) {
      sum += px(i)
      fold = (fold * 1000003L + px(i)) % 2147483629L
      i += 1
    }
    GifDecoded(id, "gif", w, h, 1, w.toLong * h, sum, fold)
  }

  final case class ResizedMedia(doc_id: Long, fmt: String, src_width: Int,
      src_height: Int, width: Int, height: Int, channels: Int,
      pixel_bytes: Long, pixel_sum: Long)

  /** REAL nearest-neighbor resize over the decoded pixel grid — the
    * preprocessing step every vision pipeline runs before batching
    * (thumbnails, fixed model input sizes). Target pixel (tx, ty)
    * samples source pixel (tx·srcW div tw, ty·srcH div th) — the
    * standard floor mapping, integer-exact, so the resized raster (and
    * its checksum) is bit-deterministic and SQL-replayable. The sampler
    * reads straight from the container bytes through each format's
    * layout ([[ppmLayout]]/[[bmpLayout]] — header offsets, BMP row
    * padding and bottom-up/top-down order all honored); no intermediate
    * full-size copy is materialized, and the whole stage is the same
    * narrow `mapPartitions` shape as [[decodeMedia]] (no shuffle, no
    * driver collect — blobs stay on executors). */
  def resizeMedia(media: Dataset[EncodedMedia], targetW: Int,
      targetH: Int): Dataset[ResizedMedia] = {
    require(targetW > 0 && targetH > 0,
      s"target dims must be positive, got ${targetW}x$targetH")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val bs = m.bytes
      require(bs.length >= 2, s"doc ${m.doc_id}: payload too short")
      // (srcW, srcH, channels, byte accessor at logical (x, y, c))
      val (w, h, ch, at): (Int, Int, Int, (Int, Int, Int) => Int) =
        if (bs(0) == 'P' && bs(1) == '6') {
          val (pw, ph, off) = ppmLayout(m.doc_id, bs)
          (pw, ph, 3, (x, y, c) => bs(off + (y * pw + x) * 3 + c) & 0xff)
        } else if (bs(0) == 'B' && bs(1) == 'M') {
          val (bw, bh, bch, off, rowSize, topDown) = bmpLayout(m.doc_id, bs)
          (bw, bh, bch, (x, y, c) => {
            val storedRow = if (topDown) y else bh - 1 - y
            bs(off + storedRow * rowSize + x * bch + c) & 0xff
          })
        } else throw new IllegalArgumentException(
          s"doc ${m.doc_id}: unknown magic 0x${(bs(0) & 0xff).toHexString}${(bs(1) & 0xff).toHexString}")
      var sum = 0L
      var ty = 0
      while (ty < targetH) {
        val sy = ty * h / targetH
        var tx = 0
        while (tx < targetW) {
          val sx = tx * w / targetW
          var c = 0
          while (c < ch) { sum += at(sx, sy, c); c += 1 }
          tx += 1
        }
        ty += 1
      }
      ResizedMedia(m.doc_id, m.fmt, w, h, targetW, targetH, ch,
        targetW.toLong * targetH * ch, sum)
    })
  }

  final case class DecodedVideo(doc_id: Long, width: Int, height: Int,
      fps_num: Int, fps_den: Int, n_frames: Long, frame_bytes: Long,
      pixel_sum: Long, sampled_frames: Long, sampled_sum: Long)

  /** Encode a deterministic tiny Y4M (YUV4MPEG2) clip per document —
    * VIDEO completes the pure-JVM container triple beside PPM/BMP and
    * WAV: Y4M is uncompressed (ASCII stream header, per-frame `FRAME`
    * markers, raw planar YUV bytes), so a real parser needs no codec.
    * W = 4 + id%4, H = 2 + id%3, C444 (three full planes → 3·W·H bytes
    * per frame), 25:1 fps, n = 3 + id%5 frames; frame f's byte j is
    * (id + f·131 + j) % 256 — arithmetic off doc_id so the oracle
    * replays the decode without parsing bytes. Even doc_ids carry a
    * parameter on their first FRAME marker (`FRAME Xtest`): the spec
    * allows per-frame params up to the newline, and a parser that
    * assumes a bare marker misreads every subsequent frame. */
  def encodeVideo(documents: DataFrame): Dataset[EncodedMedia] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions(_.map { id =>
      EncodedMedia(id, "y4m", y4mBytes(id))
    })
  }

  private[graft] def videoDims(id: Long): (Int, Int, Int) =
    ((4 + id % 4).toInt, (2 + id % 3).toInt, (3 + id % 5).toInt)

  private[graft] def y4mBytes(id: Long): Array[Byte] = {
    val (w, h, n) = videoDims(id)
    val frameBytes = 3 * w * h
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C444\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new java.io.ByteArrayOutputStream()
    out.write(header, 0, header.length)
    var f = 0
    while (f < n) {
      val marker = (if (f == 0 && id % 2 == 0) "FRAME Xtest\n" else "FRAME\n")
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.write(marker, 0, marker.length)
      var j = 0
      while (j < frameBytes) {
        out.write(((id + f.toLong * 131L + j) % 256L).toInt)
        j += 1
      }
      f += 1
    }
    out.toByteArray
  }

  /** Shared YUV4MPEG2 stream-header parse (the [[wavPcm]] factoring
    * applied to the video container — [[decodeVideo]], [[sceneCuts]]
    * and [[videoFingerprints]] all walk the same header): validates
    * magic and tag syntax, reads the space-separated W/H/F/C fields
    * tolerating Ip/A/X params, and requires dims + C444 (the one plane
    * layout that ships; others fail loudly like non-PCM WAV). Returns
    * (w, h, fpsNum, fpsDen, posAfterHeader) — fps is -1 when the F tag
    * is absent; callers that consume it must require it. */
  private[graft] def y4mHeader(bs: Array[Byte], id: Long): (Int, Int, Int, Int, Int) = {
    val magic = "YUV4MPEG2"
    require(bs.length > magic.length &&
      new String(bs, 0, magic.length, java.nio.charset.StandardCharsets.US_ASCII) == magic,
      s"doc $id: not a YUV4MPEG2 stream")
    var pos = magic.length
    var w = -1; var h = -1; var fn = -1; var fd = -1; var cs = "420"
    while (pos < bs.length && bs(pos) != '\n') {
      require(bs(pos) == ' ', s"doc $id: malformed stream header")
      pos += 1
      val tag = bs(pos).toChar
      pos += 1
      val sb = new StringBuilder
      while (pos < bs.length && bs(pos) != ' ' && bs(pos) != '\n') {
        sb.append(bs(pos).toChar); pos += 1
      }
      val v = sb.toString
      tag match {
        case 'W' => w = v.toInt
        case 'H' => h = v.toInt
        case 'F' =>
          val parts = v.split(":")
          require(parts.length == 2 && parts.forall(_.nonEmpty),
            s"doc $id: malformed frame-rate tag F$v")
          fn = parts(0).toInt; fd = parts(1).toInt
        case 'C' => cs = v
        case _ => () // Ip / A1:1 / X params: valid, irrelevant here
      }
    }
    require(pos < bs.length, s"doc $id: header never terminated")
    pos += 1 // consume the newline
    require(w > 0 && h > 0, s"doc $id: missing or bad dimensions ${w}x$h")
    require(cs == "444", s"doc $id: unsupported colorspace C$cs (only C444 ships)")
    (w, h, fn, fd, pos)
  }

  /** Shared FRAME-marker walk: validates the marker at `pos0`, skips
    * per-frame parameters up to the newline, checks the payload fits,
    * and returns the payload start. */
  private[graft] def y4mFrameStart(bs: Array[Byte], pos0: Int, id: Long,
      frameIdx: Long, frameBytes: Long): Int = {
    val mk = "FRAME"
    require(pos0 + mk.length <= bs.length &&
      new String(bs, pos0, mk.length, java.nio.charset.StandardCharsets.US_ASCII) == mk,
      s"doc $id: expected FRAME marker at byte $pos0")
    var pos = pos0 + mk.length
    while (pos < bs.length && bs(pos) != '\n') pos += 1 // per-frame params
    require(pos < bs.length, s"doc $id: FRAME marker never terminated")
    pos += 1
    require(pos + frameBytes <= bs.length, s"doc $id: truncated frame $frameIdx")
    pos
  }

  /** REAL Y4M decoder + frame sampler: parses the stream header
    * ([[y4mHeader]]), walks `FRAME` markers tolerating per-frame
    * parameters up to the newline, checksums every frame, and computes
    * the every-`stride`-th frame-sampling checksum over the REAL bytes
    * ([[frameSamplePlan]] is the metadata-only twin of this pass).
    * Narrow mapPartitions; truncated frames, bad magic and unsupported
    * colorspaces fail loudly. */
  def decodeVideo(media: Dataset[EncodedMedia], stride: Int = 2): Dataset[DecodedVideo] = {
    require(stride >= 1, s"stride must be positive, got $stride")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val bs = m.bytes
      val id = m.doc_id
      val (w, h, fn, fd, headerEnd) = y4mHeader(bs, id)
      require(fn > 0 && fd > 0, s"doc $id: missing or bad frame rate $fn:$fd")
      var pos = headerEnd
      // overflow-free container bound (w,h are validated positive, so
      // w.toLong*h <= 2^62 cannot wrap; 3L*w*h for hostile ~1.75e9 dims
      // WOULD wrap Long negative and send `pos` backwards)
      require(w.toLong * h <= bs.length / 3,
        s"doc $id: Y4M frame size 3*${w}x$h exceeds container ${bs.length}")
      val frameBytes = 3L * w * h
      var nFrames = 0L; var sum = 0L; var sampledFrames = 0L; var sampledSum = 0L
      while (pos < bs.length) {
        pos = y4mFrameStart(bs, pos, id, nFrames, frameBytes)
        var fs = 0L
        var j = 0
        while (j < frameBytes) { fs += bs(pos + j) & 0xff; j += 1 }
        if (nFrames % stride == 0) { sampledFrames += 1; sampledSum += fs }
        sum += fs
        nFrames += 1
        pos += frameBytes.toInt
      }
      DecodedVideo(id, w, h, fn, fd, nFrames, frameBytes, sum,
        sampledFrames, sampledSum)
    })
  }

  // ---------------------------------------------------------------------
  // Scene-cut detection over a two-scene fixture.
  // ---------------------------------------------------------------------

  /** Two-scene Y4M fixture. The [[y4mBytes]] clips carry a CONSTANT
    * frame-to-frame delta (131 per byte), which makes cut detection
    * degenerate there (every boundary identical — the round-17 scoping
    * note). This fixture varies the delta: frame f's byte j is
    * (id + 3f + [f ≥ c]·101) % 256 with the cut frame c = 1 + id %
    * (n−1), so within-scene motion is small (delta 3) and the scene
    * boundary jumps (delta 104) — the shape a frame-difference
    * detector exists to find. n = 4 + id%4 frames of W=4+id%4,
    * H=2+id%3, C444. */
  def encodeSceneVideo(documents: DataFrame): Dataset[EncodedMedia] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions(_.map { id =>
      EncodedMedia(id, "y4m", y4mSceneBytes(id))
    })
  }

  private[graft] def sceneVideoDims(id: Long): (Int, Int, Int, Int) =
    ((4 + id % 4).toInt, (2 + id % 3).toInt, (4 + id % 4).toInt,
      (1 + id % (3 + id % 4)).toInt)

  private[graft] def y4mSceneBytes(id: Long): Array[Byte] = {
    val (w, h, n, c) = sceneVideoDims(id)
    val frameBytes = 3 * w * h
    val header = s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C444\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new java.io.ByteArrayOutputStream()
    out.write(header, 0, header.length)
    var f = 0
    while (f < n) {
      val marker = "FRAME\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      out.write(marker, 0, marker.length)
      val off = 3L * f + (if (f >= c) 101L else 0L)
      var j = 0
      while (j < frameBytes) {
        out.write(((id + off + j) % 256L).toInt)
        j += 1
      }
      f += 1
    }
    out.toByteArray
  }

  final case class SceneCuts(doc_id: Long, width: Int, height: Int,
      n_frames: Long, n_cuts: Long, first_cut: Long, sad_sum: Long)

  /** REAL scene-cut detector: parse the Y4M stream ([[decodeVideo]]'s
    * header/marker discipline), hold ONE previous-frame buffer, and
    * score each consecutive frame pair by the sum of circular byte
    * distances min(|a−b|, 256−|a−b|) — circular because the fixture's
    * pixel values wrap mod 256, and a detector scoring wrapped deltas
    * as near-255 jumps would false-cut on smooth gradients. A cut is
    * declared when the pair's SAD ≥ `thr` per byte (exact integer
    * compare: sad ≥ thr·frameBytes — never a float edge). Narrow
    * mapPartitions, one frame of state, no shuffle: at 100 TB this
    * runs wherever the bytes already live. */
  def sceneCuts(media: Dataset[EncodedMedia], thr: Int = 20): Dataset[SceneCuts] = {
    require(thr >= 1, s"per-byte SAD threshold must be positive, got $thr")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val bs = m.bytes
      val id = m.doc_id
      val (w, h, _, _, headerEnd) = y4mHeader(bs, id)
      var pos = headerEnd
      // bound the frame size OVERFLOW-FREE first: hostile header W/H
      // around 1.75e9 make even 3L*w*h wrap Long negative, so that
      // guard passes vacuously and the Int frameBytes wraps — back to
      // the NegativeArraySizeException it was meant to close (r18
      // advisor). w,h are validated positive, so w.toLong*h <= 2^62
      // can never wrap; a frame can never legally exceed its container
      require(w.toLong * h <= bs.length / 3,
        s"doc $id: Y4M frame size 3*${w}x$h exceeds container ${bs.length}")
      val frameBytes = 3 * w * h
      val prev = new Array[Int](frameBytes)
      var nFrames = 0L; var nCuts = 0L; var firstCut = -1L; var sadSum = 0L
      while (pos < bs.length) {
        pos = y4mFrameStart(bs, pos, id, nFrames, frameBytes)
        var sad = 0L
        var j = 0
        while (j < frameBytes) {
          val cur = bs(pos + j) & 0xff
          if (nFrames > 0) {
            val ad = math.abs(cur - prev(j))
            sad += (if (ad > 128) 256 - ad else ad)
          }
          prev(j) = cur
          j += 1
        }
        if (nFrames > 0) {
          sadSum += sad
          if (sad >= thr.toLong * frameBytes) {
            nCuts += 1
            if (firstCut < 0) firstCut = nFrames
          }
        }
        nFrames += 1
        pos += frameBytes
      }
      SceneCuts(id, w, h, nFrames, nCuts, firstCut, sadSum)
    })
  }

  // ---------------------------------------------------------------------
  // Video-level dedup: frame-sampled fingerprints.
  // ---------------------------------------------------------------------

  /** Fingerprint moduli and frame-position weight. The frame hash is
    * reduced mod 2^20 before combining, the combine runs mod 2^40, so
    * every intermediate — (fh % 2^20) · (pow < 2^40) < 2^60, plus an
    * accumulator < 2^40 — fits a signed 64-bit value for ANY input
    * (production-size frames included), and the SQL oracle replays the
    * arithmetic with no overflow on either engine. */
  private[graft] val FpMod: Long = 1L << 40
  private[graft] val FhMod: Long = 1L << 20
  private[graft] val FpWeight: Long = 1000003L

  final case class VideoFingerprint(doc_id: Long, width: Int, height: Int,
      n_frames: Long, sampled_frames: Long, fingerprint: Long)

  /** Frame-sampled video fingerprint: parse the Y4M stream, hash every
    * `stride`-th frame by a position-weighted byte sum (order-sensitive
    * inside the frame), and combine the sampled hashes
    * position-weighted across frames — the clip-level signature a
    * video dedup keys on, robust to how the clip is CONTAINERIZED
    * (only pixel bytes feed the hash) while exact on content. Narrow
    * mapPartitions, no shuffle; at production scale this is the only
    * full read the dedup needs, and the downstream group-by carries
    * 8-byte keys, never pixel data. */
  def videoFingerprints(media: Dataset[EncodedMedia], stride: Int = 2): Dataset[VideoFingerprint] = {
    require(stride >= 1, s"stride must be positive, got $stride")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val bs = m.bytes
      val id = m.doc_id
      val (w, h, _, _, headerEnd) = y4mHeader(bs, id)
      var pos = headerEnd
      // same overflow-free bound as sceneCuts: w.toLong*h <= 2^62
      // cannot wrap, unlike 3L*w*h for hostile ~1.75e9 header dims
      require(w.toLong * h <= bs.length / 3,
        s"doc $id: Y4M frame size 3*${w}x$h exceeds container ${bs.length}")
      val frameBytes = 3 * w * h
      var nFrames = 0L; var sampled = 0L; var fp = 0L
      // running W^idx % 2^40 — recomputing the power per sampled frame
      // would cost O(frames²) on a production-length clip
      var pw = 1L
      while (pos < bs.length) {
        pos = y4mFrameStart(bs, pos, id, nFrames, frameBytes)
        if (nFrames % stride == 0) {
          var fh = 0L
          var j = 0
          while (j < frameBytes) {
            fh = (fh + (bs(pos + j) & 0xff).toLong * (j + 1)) % FpMod
            j += 1
          }
          fp = (fp + (fh % FhMod) * pw) % FpMod
          pw = (pw * FpWeight) % FpMod
          sampled += 1
        }
        nFrames += 1
        pos += frameBytes
      }
      VideoFingerprint(id, w, h, nFrames, sampled, fp)
    })
  }

  /** Duplicate-video groups by exact fingerprint — [[phashDupGroups]]'
    * discipline on the video modality: one hash-keyed aggregation over
    * 8-byte keys, members sorted for a deterministic group row, only
    * groups with ≥ 2 members survive. */
  def videoDupGroups(media: Dataset[EncodedMedia], stride: Int = 2): DataFrame =
    videoFingerprints(media, stride).toDF()
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"),
        array_join(transform(array_sort(collect_list(col("doc_id"))),
          d => d.cast("string")), ",").as("doc_ids"))
      .filter(col("n_docs") >= 2)

  final case class DecodedAudio(doc_id: Long, channels: Int, sample_rate: Int,
      n_samples: Long, duration_us: Long, sample_sum: Long, rms: Double,
      zero_crossings: Long)

  /** Encode a deterministic 16-bit PCM mono WAV per document — the
    * AUDIO member of the pure-JVM container family beside PPM/BMP
    * (RIFF/WAV PCM is uncompressed, so a real parser needs no codec
    * library). Sample i = ((doc_id·2654435761 + i·40503) % 65536) −
    * 32768, n = 256 + (doc_id·31) % 512 at 8 kHz — arithmetic off
    * doc_id so a SQL oracle replays the expected decode without
    * parsing bytes (the [[encodeMedia]] discipline). Even doc_ids get
    * an ODD-sized junk `LIST` chunk between `fmt ` and `data`: the
    * RIFF spec pads odd chunks with one byte, and a chunk walker that
    * forgets the pad misreads every subsequent chunk id — encoding the
    * hazard makes [[decodeAudio]] prove it handles it. */
  def encodeAudio(documents: DataFrame): Dataset[EncodedMedia] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions(_.map { id =>
      EncodedMedia(id, "wav", wavBytes(id))
    })
  }

  private[graft] def audioSampleCount(id: Long): Int = (256 + (id * 31) % 512).toInt

  private[graft] def audioSample(id: Long, i: Int): Int =
    (((id * 2654435761L + i.toLong * 40503L) % 65536L) - 32768L).toInt

  /** Canonical RIFF/WAVE layout: "RIFF" size "WAVE", then chunks, each
    * 4-byte id + LE32 size + payload (+1 pad byte when size is odd).
    * fmt : PCM(1), mono, 8 kHz, 16-bit. */
  private[graft] def wavBytes(id: Long): Array[Byte] = {
    val n = audioSampleCount(id)
    val junk: Array[Byte] =
      if (id % 2 == 0) Array.tabulate(5)(i => ((id + i) % 256).toByte) else Array.emptyByteArray
    val junkChunk = if (junk.isEmpty) 0 else 8 + junk.length + (junk.length % 2) // pad to even
    val dataBytes = n * 2
    val riffPayload = 4 + (8 + 16) + junkChunk + (8 + dataBytes)
    val out = new Array[Byte](8 + riffPayload)
    var p = 0
    def put(s: String): Unit = { s.foreach { c => out(p) = c.toByte; p += 1 } }
    def le32(v: Int): Unit = {
      out(p) = (v & 0xff).toByte; out(p + 1) = ((v >> 8) & 0xff).toByte
      out(p + 2) = ((v >> 16) & 0xff).toByte; out(p + 3) = ((v >> 24) & 0xff).toByte
      p += 4
    }
    def le16(v: Int): Unit = {
      out(p) = (v & 0xff).toByte; out(p + 1) = ((v >> 8) & 0xff).toByte; p += 2
    }
    put("RIFF"); le32(riffPayload); put("WAVE")
    put("fmt "); le32(16)
    le16(1); le16(1)               // PCM, mono
    le32(8000); le32(8000 * 2)     // sample rate, byte rate
    le16(2); le16(16)              // block align, bits per sample
    if (junk.nonEmpty) {
      put("LIST"); le32(junk.length)
      junk.foreach { b => out(p) = b; p += 1 }
      if (junk.length % 2 == 1) { out(p) = 0; p += 1 } // RIFF odd-size pad
    }
    put("data"); le32(dataBytes)
    var i = 0
    while (i < n) { le16(audioSample(id, i) & 0xffff); i += 1 }
    out
  }

  /** REAL RIFF/WAV decoder + audio feature extractor: walks the chunk
    * list (unknown chunks skipped, odd sizes padded per the RIFF spec),
    * validates PCM/16-bit in `fmt `, then computes the standard cheap
    * audio-curation features from the LE int16 samples — exact int64
    * sample sum, RMS energy (Σs² is exact int64; the division and
    * `sqrt` are both correctly-rounded IEEE ops, so even the double
    * hash-replays — sqrt is the ONE transcendental-adjacent function
    * the no-pow/exp/ln rule admits), and the zero-crossing count
    * (adjacent sign flips, the classic voiced/unvoiced signal). Narrow
    * mapPartitions like every decode stage; malformed containers
    * (truncated, non-PCM, missing chunks) fail loudly. */
  /** RIFF/WAV chunk walk shared by the feature decoder and the quality
    * screen: validates the container and PCM16 `fmt `, returns
    * (channels, sampleRate, dataOff, nSamples). Unknown chunks are
    * skipped with the spec's odd-size pad byte. */
  private def wavPcm(id: Long, bs: Array[Byte]): (Int, Int, Int, Int) = {
    def le32(off: Int): Int =
      (bs(off) & 0xff) | ((bs(off + 1) & 0xff) << 8) |
      ((bs(off + 2) & 0xff) << 16) | ((bs(off + 3) & 0xff) << 24)
    def le16(off: Int): Int = (bs(off) & 0xff) | ((bs(off + 1) & 0xff) << 8)
    def tag(off: Int): String = new String(bs, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    require(bs.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE",
      s"doc $id: not a RIFF/WAVE container")
    require(bs.length.toLong >= 8L + le32(4),
      s"doc $id: truncated RIFF payload")
    var pos = 12
    var fmtOff = -1; var dataOff = -1; var dataLen = -1
    while (pos + 8 <= bs.length && (fmtOff < 0 || dataOff < 0)) {
      val cid = tag(pos); val clen = le32(pos + 4)
      require(clen >= 0 && pos + 8 + clen.toLong <= bs.length,
        s"doc $id: chunk '$cid' overruns the container")
      if (cid == "fmt ") fmtOff = pos + 8
      else if (cid == "data") { dataOff = pos + 8; dataLen = clen }
      pos += 8 + clen + (clen % 2) // RIFF: odd chunks carry a pad byte
    }
    require(fmtOff >= 0, s"doc $id: no fmt chunk")
    require(dataOff >= 0, s"doc $id: no data chunk")
    val audioFormat = le16(fmtOff)
    val channels = le16(fmtOff + 2)
    val sampleRate = le32(fmtOff + 4)
    val bits = le16(fmtOff + 14)
    require(audioFormat == 1, s"doc $id: non-PCM format tag $audioFormat")
    require(bits == 16, s"doc $id: unsupported bit depth $bits")
    require(channels >= 1, s"doc $id: bad channel count $channels")
    require(dataLen % 2 == 0, s"doc $id: odd PCM16 data length $dataLen")
    (channels, sampleRate, dataOff, dataLen / 2)
  }

  def decodeAudio(media: Dataset[EncodedMedia]): Dataset[DecodedAudio] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val bs = m.bytes
      val id = m.doc_id
      def le16(off: Int): Int = (bs(off) & 0xff) | ((bs(off + 1) & 0xff) << 8)
      val (channels, sampleRate, dataOff, n) = wavPcm(id, bs)
      var sum = 0L; var sumSq = 0L; var crossings = 0L
      var prevNeg = false
      var i = 0
      while (i < n) {
        val s = le16(dataOff + 2 * i).toShort.toInt
        sum += s; sumSq += s.toLong * s
        val neg = s < 0
        if (i > 0 && neg != prevNeg) crossings += 1
        prevNeg = neg
        i += 1
      }
      val rms = if (n == 0) 0.0 else math.sqrt(sumSq.toDouble / n)
      DecodedAudio(id, channels, sampleRate, n.toLong,
        n.toLong * 1000000L / sampleRate, sum, rms, crossings)
    })
  }

  /** Pinned Goertzel probe bank for [[audioSpectral]]: (hz at the
    * fixture's 8 kHz rate, Q14 coefficient round(2·cos(2π·f/fs)·2^14)).
    * The coefficients are pinned INTEGERS — like the JPEG IDCT table,
    * the fixed-point constants ARE the spec, so the recurrence is
    * exact integer arithmetic both engines replay bit-for-bit. */
  val SpectralProbes: Seq[(Int, Long)] =
    Seq((250, 32138L), (500, 30274L), (1000, 23170L), (2000, 0L))

  final case class AudioSpectral(doc_id: Long, n_samples: Long,
      p250: Long, p500: Long, p1000: Long, p2000: Long, dominant_hz: Int)

  /** Fixed-point Goertzel spectral probes over the REAL decoded WAV
    * samples — actual DSP on the audio modality (the feature a
    * music/speech screen thresholds), with the house exactness
    * discipline: the recurrence is s0 = x + (c·s1)/2^14 − s2 where `/`
    * is TRUNCATING 64-bit division (Java's `/` ≡ DuckDB's `//`, so no
    * floor-vs-truncate drift), and the bin power is
    * s1² + s2² − ((c·s1)/2^14)·s2 — all int64, every intermediate
    * bounded (|s| ≤ n·2^15 ≈ 2^25, products ≤ 2^50). Dominant bin =
    * max power, ties to the LOWER frequency. One pass over the samples
    * updating all four probe states, inside the same narrow
    * mapPartitions walk as [[decodeAudio]] — no shuffle, no driver
    * state, runs where the bytes live. */
  def audioSpectral(media: Dataset[EncodedMedia]): Dataset[AudioSpectral] = {
    val spark = media.sparkSession
    import spark.implicits._
    val probes = SpectralProbes
    media.mapPartitions(_.map { m =>
      val bs = m.bytes
      val id = m.doc_id
      def le16(off: Int): Int = (bs(off) & 0xff) | ((bs(off + 1) & 0xff) << 8)
      val (channels, sampleRate, dataOff, n) = wavPcm(id, bs)
      // the probe coefficients are pinned to one 8 kHz mono stream: a
      // stereo interleave or another rate would score the wrong bins
      // SILENTLY (a 16 kHz tone lands one bin down) — refuse by name
      require(channels == 1, s"doc $id: spectral probes need mono, got $channels channels")
      require(sampleRate == 8000,
        s"doc $id: probe bank pinned to 8000 Hz, got $sampleRate")
      val k = probes.length
      val s1 = new Array[Long](k)
      val s2 = new Array[Long](k)
      var i = 0
      while (i < n) {
        val x = le16(dataOff + 2 * i).toShort.toLong
        var b = 0
        while (b < k) {
          val c = probes(b)._2
          val s0 = x + (c * s1(b)) / 16384L - s2(b)
          s2(b) = s1(b)
          s1(b) = s0
          b += 1
        }
        i += 1
      }
      val p = Array.tabulate(k) { b =>
        val c = probes(b)._2
        s1(b) * s1(b) + s2(b) * s2(b) - ((c * s1(b)) / 16384L) * s2(b)
      }
      var best = 0
      var b = 1
      while (b < k) { if (p(b) > p(best)) best = b; b += 1 }
      AudioSpectral(id, n.toLong, p(0), p(1), p(2), p(3), probes(best)._1)
    })
  }

  // ---------------------------------------------------------------------
  // Format sniffing: magic-byte dispatch over mixed containers.
  // ---------------------------------------------------------------------

  /** A MIXED media column: doc_id % 7 routes each doc through one of
    * the seven shipped encoders (0/1 → PPM-or-BMP by parity, 2 → PNG,
    * 3 → GIF, 4 → WAV, 5 → Y4M, 6 → JPEG) — the "bucket of scraped
    * files" a real ingest faces, where nothing guarantees the stated
    * content type. */
  def encodeMixed(documents: DataFrame): Dataset[EncodedMedia] = {
    def r(i: Int) = documents.filter(col("doc_id") % 7 === i)
    encodeMedia(r(0)).unionByName(encodeMedia(r(1)))
      .unionByName(encodePng(r(2)))
      .unionByName(encodeGif(r(3)))
      .unionByName(encodeAudio(r(4)))
      .unionByName(encodeVideo(r(5)))
      .unionByName(Jpeg.encodeJpeg(r(6)))
  }

  final case class SniffedMedia(doc_id: Long, fmt: String, dim1: Long, dim2: Long)

  /** Format sniffer/router: detect the container from MAGIC BYTES —
    * the `fmt` label on the row is deliberately ignored, because a
    * crawl's stated content type lies — and parse that format's own
    * header for its primary dimensions (images/video: w×h; WAV:
    * n_samples × sample rate). One narrow pass; an unrecognized
    * magic fails loudly by name (a router that silently drops or
    * mislabels corrupts every downstream modality split). */
  def sniffMedia(media: Dataset[EncodedMedia]): Dataset[SniffedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val bs = m.bytes
      val id = m.doc_id
      def ascii(off: Int, n: Int): String =
        if (bs.length < off + n) ""
        else new String(bs, off, n, java.nio.charset.StandardCharsets.US_ASCII)
      def le16(off: Int): Int = (bs(off) & 0xff) | ((bs(off + 1) & 0xff) << 8)
      def le32(off: Int): Int = le16(off) | (le16(off + 2) << 16)
      def be16(off: Int): Int = ((bs(off) & 0xff) << 8) | (bs(off + 1) & 0xff)
      def be32(off: Int): Long = (be16(off).toLong << 16) | be16(off + 2)
      if (ascii(0, 2) == "P6") {
        // "P6\n<w> <h>\n255\n": token scan over ASCII ints
        var p = 2
        def int(): Long = {
          while (p < bs.length && (bs(p) == ' ' || bs(p) == '\n' || bs(p) == '\t')) p += 1
          var v = 0L
          while (p < bs.length && bs(p) >= '0' && bs(p) <= '9') { v = v * 10 + (bs(p) - '0'); p += 1 }
          v
        }
        SniffedMedia(id, "ppm", int(), int())
      } else if (ascii(0, 2) == "BM") {
        SniffedMedia(id, "bmp", le32(18).toLong, math.abs(le32(22)).toLong)
      } else if (bs.length > 8 && (bs(0) & 0xff) == 0x89 && ascii(1, 3) == "PNG") {
        SniffedMedia(id, "png", be32(16), be32(20))
      } else if (ascii(0, 4) == "GIF8") {
        SniffedMedia(id, "gif", le16(6).toLong, le16(8).toLong)
      } else if (ascii(0, 4) == "RIFF" && ascii(8, 4) == "WAVE") {
        val (_, rate, _, n) = wavPcm(id, bs)
        SniffedMedia(id, "wav", n.toLong, rate.toLong)
      } else if (ascii(0, 9) == "YUV4MPEG2") {
        val (w, h, _, _, _) = y4mHeader(bs, id)
        SniffedMedia(id, "y4m", w.toLong, h.toLong)
      } else if (bs.length > 2 && (bs(0) & 0xff) == 0xff && (bs(1) & 0xff) == 0xd8) {
        // JPEG: walk markers to the first SOFn (C0-CF minus C4/C8/CC).
        // This runs on untrusted crawl bytes, so every read is bounded
        // and every stream shape the walk can't interpret fails loudly
        // BY NAME (r17 advisor: a truncated SOF or a standalone marker
        // used to surface as ArrayIndexOutOfBounds / misparse):
        //  - fill bytes: the spec allows any run of 0xFF padding before
        //    a marker code — skip to the last 0xFF of the run;
        //  - standalone markers (TEM 0x01, RST0-7 0xD0-D7, SOI 0xD8,
        //    EOI 0xD9) carry NO length field — none may legally precede
        //    the frame header, so hitting one before SOF is a named
        //    failure, not a bogus length-field read;
        //  - SOF dims live at p+5..p+8 — guarded before the reads.
        var p = 2
        var w = -1L; var h = -1L
        while (w < 0) {
          while (p + 1 < bs.length && (bs(p) & 0xff) == 0xff &&
            (bs(p + 1) & 0xff) == 0xff) p += 1
          require(p + 4 <= bs.length,
            s"doc $id: truncated JPEG marker stream at byte $p before any SOF")
          require((bs(p) & 0xff) == 0xff, s"doc $id: bad JPEG marker at byte $p")
          val mk = bs(p + 1) & 0xff
          require(mk != 0x01 && !(mk >= 0xd0 && mk <= 0xd9),
            f"doc $id: standalone JPEG marker 0x$mk%02x at byte $p before any SOF frame header")
          val len = be16(p + 2)
          if (mk >= 0xc0 && mk <= 0xcf && mk != 0xc4 && mk != 0xc8 && mk != 0xcc) {
            require(p + 9 <= bs.length, s"doc $id: truncated JPEG SOF header at byte $p")
            h = be16(p + 5).toLong; w = be16(p + 7).toLong
          } else p += 2 + len
        }
        require(w > 0 && h > 0, s"doc $id: JPEG with no SOF frame header")
        SniffedMedia(id, "jpeg", w, h)
      } else {
        throw new IllegalArgumentException(
          s"doc $id: unrecognized container magic " +
            bs.take(4).map(b => f"${b & 0xff}%02x").mkString(" "))
      }
    })
  }

  /** Audio quality screen row: rail-clipping and near-silence rates
    * with the keep verdict. */
  final case class AudioFingerprint(doc_id: Long, n_samples: Long,
      fingerprint: Long)

  /** Clip fingerprint from the REAL decoded spectral content — the
    * [[videoFingerprints]] discipline on the audio modality: the four
    * Goertzel bin powers plus the sample count, combined positionally
    * by the same `Σ (v mod 2²⁰)·W^idx mod 2⁴⁰` fold the video
    * signature uses. Identical bytes (the re-encode-dup problem: one
    * clip uploaded twice) produce identical fingerprints because the
    * bins are computed from the SAMPLES, never from the row id; clips
    * differing in content or length hash apart up to true formula
    * collisions. Narrow map over [[audioSpectral]]'s one-pass walk —
    * no shuffle. */
  def audioFingerprints(media: Dataset[EncodedMedia]): Dataset[AudioFingerprint] = {
    val spark = media.sparkSession
    import spark.implicits._
    audioSpectral(media).map { a =>
      var fp = 0L
      var pw = 1L
      Seq(a.n_samples, a.p250, a.p500, a.p1000, a.p2000).foreach { v =>
        fp = (fp + (v % FhMod) * pw) % FpMod
        pw = (pw * FpWeight) % FpMod
      }
      AudioFingerprint(a.doc_id, a.n_samples, fp)
    }
  }

  /** Duplicate-AUDIO groups by exact spectral fingerprint —
    * [[videoDupGroups]]' one hash-keyed aggregation on the third
    * modality's remaining gap (video and images had dup groups; audio
    * only had features/quality/spectral): every group is ≥ 2 doc ids
    * sharing a fingerprint, ids sorted into a deterministic list.
    * Groups are bounded by true duplication; the clip bytes never
    * shuffle (only the 8-byte fingerprint and the id do). */
  def audioDupGroups(media: Dataset[EncodedMedia]): DataFrame =
    audioFingerprints(media).toDF()
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"),
        array_join(transform(array_sort(collect_list(col("doc_id"))),
          d => d.cast("string")), ",").as("doc_ids"))
      .filter(col("n_docs") >= 2)

  /** splitmix64 finalizer (public-domain constant set) — the full-
    * avalanche mixer the tone fixture needs: mod-p-then-mod-4 and
    * LCG-product mixes both leave tone SEQUENCES correlated under
    * additive id shifts (measured: 3.7k full 16-segment collisions per
    * 5k clips for the LCG; the same trap as [[graft.ScaleProof]]'s
    * raster generator), which turns linear planted pairs into
    * quadratic collision growth. The oracle replays this exactly in
    * DuckDB via UBIGINT xors and a 32-bit-split wrapping multiply. */
  private[graft] def avalanche64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Tone index per (base clip, segment) for the NEAR-dup audio
    * fixture — low 2 avalanche bits of key `base·16 + s`, so no two
    * base clips share the whole 16-segment tone sequence (0 collisions
    * measured at 5k clips). Segment s of the VARIANT copy shifts the
    * tone by one bin for s < base % 3, so base↔variant sketch Hamming
    * is exactly 0, 2 or 4 — on either side of the ≤ 3 near-dup cut. */
  private[graft] def toneIdx(base: Long, s: Int, variant: Boolean): Int = {
    val raw = (avalanche64(base * 16L + s) & 3L).toInt
    if (variant && s < (base % 3L)) (raw + 1) % 4 else raw
  }

  /** Id offset under which [[encodeAudioTones]] emits variant copies. */
  val AudioVariantOffset: Long = 10000000L

  /** 16-segment square-tone WAV fixture for the audio NEAR-dup family:
    * 512 samples = 16 segments × 32, segment s playing the
    * [[toneIdx]]-selected probe tone (250/500/1000/2000 Hz are EXACT
    * 32-point DFT bins at 8 kHz, so each segment's power concentrates
    * in its own Goertzel probe; square-wave harmonics are odd
    * multiples, never another probe). Amplitude varies per clip but
    * never enters the sketch. `variant = true` emits each clip again
    * under doc_id + [[AudioVariantOffset]] with the tone shift — the
    * re-encoded/level-shifted twin an exact fingerprint can't see. */
  def encodeAudioTones(documents: DataFrame, variant: Boolean = false): Dataset[EncodedMedia] = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id")).as[Long].mapPartitions(_.map { base =>
      val amp = (8000L + (base % 17L) * 500L).toInt
      val samples = new Array[Int](512)
      var s = 0
      while (s < 16) {
        val period = 32 >> toneIdx(base, s, variant)
        var i = 0
        while (i < 32) {
          samples(s * 32 + i) = if (i % period < period / 2) amp else -amp
          i += 1
        }
        s += 1
      }
      val id = if (variant) base + AudioVariantOffset else base
      EncodedMedia(id, "wav", wavBytesOf(samples))
    })
  }

  /** Minimal RIFF/WAVE container (fmt + data, PCM16 mono 8 kHz) around
    * an explicit sample array — the tone fixture's builder; the noise
    * fixture's [[wavBytes]] keeps its junk-chunk layout for the chunk
    * walker's coverage. */
  private[graft] def wavBytesOf(samples: Array[Int]): Array[Byte] = {
    val dataBytes = samples.length * 2
    val riffPayload = 4 + (8 + 16) + (8 + dataBytes)
    val out = new Array[Byte](8 + riffPayload)
    var p = 0
    def put(s: String): Unit = { s.foreach { c => out(p) = c.toByte; p += 1 } }
    def le32(v: Int): Unit = {
      out(p) = (v & 0xff).toByte; out(p + 1) = ((v >> 8) & 0xff).toByte
      out(p + 2) = ((v >> 16) & 0xff).toByte; out(p + 3) = ((v >> 24) & 0xff).toByte
      p += 4
    }
    def le16(v: Int): Unit = {
      out(p) = (v & 0xff).toByte; out(p + 1) = ((v >> 8) & 0xff).toByte; p += 2
    }
    put("RIFF"); le32(riffPayload); put("WAVE")
    put("fmt "); le32(16)
    le16(1); le16(1)
    le32(8000); le32(8000 * 2)
    le16(2); le16(16)
    put("data"); le32(dataBytes)
    samples.foreach(v => le16(v & 0xffff))
    out
  }

  final case class AudioSketch(doc_id: Long, n_samples: Long, sketch: Long)

  /** Locality-preserving 64-bit audio sketch — the pHash discipline on
    * the audio modality: the clip is split into 16 equal segments, the
    * Goertzel probe bank runs PER SEGMENT (same exact Q14 fixed-point
    * recurrence as [[audioSpectral]], restarted at each boundary), and
    * each segment contributes a one-hot nibble at bit `4·seg + argmax
    * bin` (power ties to the lower frequency). A re-encode or level
    * shift rescales all bin powers together, so the per-segment argmax
    * — and the sketch — moves only where the CONTENT moved: sketch
    * Hamming counts changed segments ×2, exactly what a near-dup cut
    * thresholds. The exact-fingerprint fold ([[audioFingerprints]])
    * avalanches on any change and cannot rank distance; this sketch is
    * the Hamming-meaningful form. Narrow one-pass walk, no shuffle. */
  def audioSketch(media: Dataset[EncodedMedia]): Dataset[AudioSketch] = {
    val spark = media.sparkSession
    import spark.implicits._
    val probes = SpectralProbes
    media.mapPartitions(_.map { m =>
      val bs = m.bytes
      val id = m.doc_id
      def le16(off: Int): Int = (bs(off) & 0xff) | ((bs(off + 1) & 0xff) << 8)
      val (channels, sampleRate, dataOff, n) = wavPcm(id, bs)
      require(channels == 1, s"doc $id: audio sketch needs mono, got $channels channels")
      require(sampleRate == 8000,
        s"doc $id: probe bank pinned to 8000 Hz, got $sampleRate")
      require(n >= 16 && n % 16 == 0,
        s"doc $id: audio sketch needs 16 equal segments, got $n samples")
      val segLen = n / 16
      val k = probes.length
      var sk = 0L
      var seg = 0
      while (seg < 16) {
        val s1 = new Array[Long](k)
        val s2 = new Array[Long](k)
        var i = 0
        while (i < segLen) {
          val x = le16(dataOff + 2 * (seg * segLen + i)).toShort.toLong
          var b = 0
          while (b < k) {
            val c = probes(b)._2
            val s0 = x + (c * s1(b)) / 16384L - s2(b)
            s2(b) = s1(b)
            s1(b) = s0
            b += 1
          }
          i += 1
        }
        var best = 0
        var bestP = Long.MinValue
        var b = 0
        while (b < k) {
          val c = probes(b)._2
          val p = s1(b) * s1(b) + s2(b) * s2(b) - ((c * s1(b)) / 16384L) * s2(b)
          if (p > bestP) { bestP = p; best = b }
          b += 1
        }
        sk |= 1L << (4 * seg + best)
        seg += 1
      }
      AudioSketch(id, n.toLong, sk)
    })
  }

  /** ONE delta's audio sketch state `(doc_id, sketch)` — the add/merge
    * maintained-state discipline ([[phashAdd]]'s contract) on the audio
    * family: the WAV walk + segment Goertzel runs ONCE per clip at
    * ingest, the 8-byte sketch persists across crawl snapshots;
    * `mergeAudioSketch(add(A), add(B)) ≡ add(A∪B)` exactly (pure
    * per-clip function), idempotent under overlap. */
  def audioSketchAdd(delta: Dataset[EncodedMedia]): DataFrame =
    audioSketch(delta).toDF().select(col("doc_id"), col("sketch"))

  /** Exact merge of [[audioSketchAdd]] states: id-keyed first-wins
    * union (duplicate rows are value-identical). */
  def mergeAudioSketch(states: DataFrame*): DataFrame =
    States.merge(states, Seq("doc_id"), "sketch" -> States.First)

  /** NEAR-duplicate audio pairs at Hamming ≤ `maxHamming` off a
    * maintained [[audioSketchAdd]] state — the same 4×16-bit MIH
    * banding as [[phashNearDupsFromState]] (pigeonhole-exact at
    * Hamming ≤ 3; recall measured by `audio_near_dup_recall`), banding
    * and verify over STATE rows, never re-decoding clip bytes. */
  def audioNearDupsFromState(state: DataFrame, maxHamming: Int = 3): DataFrame =
    mihPairs(state.select(col("doc_id"), col("sketch").as("h64")), maxHamming)

  /** Batch composition: sketches from the clips themselves in one
    * delta — bit-identical to [[audioNearDupsFromState]] over any
    * merged ingest (the `audio_near_dups_stream` twin's assertion). */
  def audioNearDups(media: Dataset[EncodedMedia], maxHamming: Int = 3): DataFrame =
    audioNearDupsFromState(audioSketchAdd(media), maxHamming)

  /** Brute ALL-PAIRS Hamming truth over a `(doc_id, sketch)` frame —
    * [[brutePhashPairs]]' audit-only contract on the audio sketch. */
  def bruteAudioPairs(sk: DataFrame, maxHamming: Int): DataFrame =
    bruteHamming64Pairs(sk.select(col("doc_id"), col("sketch").as("h64")), maxHamming)

  final case class AudioQuality(doc_id: Long, n_samples: Long,
      clipped: Long, near_silent: Long, clipped_frac: Double,
      silence_frac: Double, accepted: Int)

  /** The audio member of the quality-rule family ([[graft.ext.Text
    * .gopherRepetition]]'s discipline applied to the third modality):
    * per clip, the count of RAIL-CLIPPED samples (±32767/−32768 — the
    * classic corrupt-gain signal) and NEAR-SILENT samples
    * (|s| ≤ 1024, ~3% of int16 range), fractions as single IEEE
    * divides of exact ints, and the keep verdict — no clipping AND
    * silence under 4% — compared in cross-multiplied INTEGERS
    * (`near_silent · 25 ≤ n`), never on a float edge. Same narrow
    * mapPartitions walk as [[decodeAudio]], one pass over the
    * samples. */
  def audioQuality(media: Dataset[EncodedMedia]): Dataset[AudioQuality] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val bs = m.bytes
      val id = m.doc_id
      def le16(off: Int): Int = (bs(off) & 0xff) | ((bs(off + 1) & 0xff) << 8)
      val (_, _, dataOff, n) = wavPcm(id, bs)
      var clipped = 0L; var silent = 0L
      var i = 0
      while (i < n) {
        val s = le16(dataOff + 2 * i).toShort.toInt
        if (s == 32767 || s == -32768) clipped += 1
        if (s >= -1024 && s <= 1024) silent += 1
        i += 1
      }
      val cf = if (n == 0) 0.0 else clipped.toDouble / n.toDouble
      val sf = if (n == 0) 0.0 else silent.toDouble / n.toDouble
      val ok = clipped == 0L && silent * 25L <= n.toLong
      AudioQuality(id, n.toLong, clipped, silent, cf, sf, if (ok) 1 else 0)
    })
  }

  // -------------------------------------------------------------------
  // Perceptual image hashing (pHash) — PIXEL-space image dedup, the
  // multimodal counterpart of SimHash: near-identical images (resize,
  // mild recompression) land at small Hamming distance. SemDeDup
  // dedups in embedding space; this dedups the rasters themselves —
  // the first screen a 100 TB image-curation run applies.
  // -------------------------------------------------------------------

  /** Perceptual hash row: the 63-bit AC-sign hash + its popcount. */
  final case class ImagePhash(doc_id: Long, fmt: String, width: Int,
      height: Int, phash: Long, n_bits: Int)

  /** The pHash core over a decoded RGB raster, exact-integer end to
    * end so the DuckDB twin replays it bit-for-bit:
    * 1. nearest-neighbor resample to 8×8 (the [[resizeMedia]] floor
    *    mapping), gray = r + g + b (an exact integer in [0, 765] —
    *    no luma weights, which would need a rounding convention),
    * 2. forward 8×8 2-D DCT with the PINNED [[Jpeg.Idct8k]] basis
    *    (the forward transform is the transposed basis product —
    *    exact int64 sums of 64 products, no normalization needed
    *    because only SIGNS of mean-centered coefficients survive),
    * 3. one bit per AC coefficient j = 1..63: set when
    *    63·F_j > Σ_{k≥1} F_k — the mean threshold compared in
    *    cross-multiplied integers, never a float.
    * The DC coefficient is excluded (it is overall brightness — pHash
    * convention), so the hash has 63 bits and fits a positive int64. */
  private[graft] def phash64(w: Int, h: Int, px: Array[Int]): (Long, Int) = {
    val gray = new Array[Long](64)
    var i = 0
    while (i < 64) {
      val sy = (i / 8) * h / 8; val sx = (i % 8) * w / 8
      val o = (sy * w + sx) * 3
      gray(i) = (px(o) + px(o + 1) + px(o + 2)).toLong
      i += 1
    }
    val t = graft.ext.Jpeg.Idct8k
    val f = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0L
        var y = 0
        while (y < 8) {
          val ty = t(u * 8 + y).toLong
          var x = 0
          while (x < 8) {
            s += ty * t(v * 8 + x) * gray(y * 8 + x)
            x += 1
          }
          y += 1
        }
        f(u * 8 + v) = s
        v += 1
      }
      u += 1
    }
    var total = 0L
    var j = 1
    while (j < 64) { total += f(j); j += 1 }
    var hash = 0L; var bits = 0
    j = 1
    while (j < 64) {
      if (63L * f(j) > total) { hash |= 1L << (j - 1); bits += 1 }
      j += 1
    }
    (hash, bits)
  }

  /** pHash over PNG containers: the full codec walk (chunk CRCs,
    * inflate, filter reconstruction) feeds the hash — one narrow
    * mapPartitions, no shuffle, no driver state. */
  def phashPng(media: Dataset[EncodedMedia]): Dataset[ImagePhash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val (w, h, px) = pngRaster(m.doc_id, m.bytes)
      val (hash, bits) = phash64(w, h, px)
      ImagePhash(m.doc_id, "png", w, h, hash, bits)
    })
  }

  /** Duplicate-image groups by EXACT pHash — the image analogue of
    * exact text dedup (the common case: re-uploaded byte-identical or
    * trivially re-encoded copies collapse to one hash; near-dups at
    * small Hamming distance ride the [[graft.ext.MinHash.simHash]]
    * banding machinery if needed). One hash-keyed aggregation —
    * hot hashes are bounded by real duplication, members kept sorted
    * so the group row is deterministic. Returns only groups with ≥ 2
    * members: `(phash, n_docs, doc_ids)`. */
  def phashDupGroups(media: Dataset[EncodedMedia]): DataFrame =
    phashPng(media).toDF()
      .groupBy(col("phash"))
      .agg(count(lit(1)).as("n_docs"),
        array_join(transform(array_sort(collect_list(col("doc_id"))),
          d => d.cast("string")), ",").as("doc_ids"))
      .filter(col("n_docs") >= 2)

  /** ONE delta's pHash sketch state `(doc_id, phash)` — the
    * [[graft.ext.MinHash.minhashAdd]] add/merge discipline on the image
    * family: the full PNG codec walk + DCT runs ONCE per image at
    * ingest, the 8-byte sketch is what persists across crawl
    * snapshots; `mergePhash(phashAdd(A), phashAdd(B)) ≡ phashAdd(A∪B)`
    * exactly (the sketch is a pure per-image function), idempotent
    * under overlap. */
  def phashAdd(delta: Dataset[EncodedMedia]): DataFrame =
    phashPng(delta).toDF().select(col("doc_id"), col("phash"))

  /** Exact merge of [[phashAdd]] states: id-keyed first-wins union
    * (duplicate rows are value-identical). */
  def mergePhash(states: DataFrame*): DataFrame =
    States.merge(states, Seq("doc_id"), "phash" -> States.First)

  /** NEAR-duplicate image pairs at Hamming ≤ `maxHamming` off a
    * maintained [[phashAdd]] state — banding and verify over STATE
    * rows, never re-decoding image bytes. Multi-index Hamming banding
    * (the LSH-for-Hamming trick) on the 63-bit sketch: 4 substring
    * bands of 16/16/16/15 bits, so by pigeonhole any pair within
    * Hamming ≤ 3 shares an untouched band (EXACT recall — measured,
    * not asserted, by `phash_near_dup_recall`); candidates meet in a
    * band equi-join carrying the 8-byte sketch so the Hamming verify
    * runs inline, never all-pairs. WIDE bands matter at scale:
    * candidate traffic on a near-uniform sketch population is
    * ~bands·n²/2^bandBits, so 16-bit bands dilute buckets 128× more
    * than the 8/9-bit layout the SimHash family uses — the standard
    * MIH tradeoff of fewer, wider substrings per unit of Hamming
    * tolerance; a corpus pushing n past the 2^bandBits dilution
    * re-splits into more, wider-keyed bands and verifies more
    * candidates, never loosening the pigeonhole bound. */
  def phashNearDupsFromState(state: DataFrame, maxHamming: Int = 3): DataFrame =
    mihPairs(state.select(col("doc_id"), col("phash").as("h64")), maxHamming)

  /** The shared MIH banding kernel over any `(doc_id, h64)` 64-bit
    * sketch frame — the pHash and audio near-dup families run the
    * IDENTICAL candidate structure, so the pigeonhole bound, the
    * banded equi-join shape and the plan pins are proven once. */
  private[graft] def mihPairs(state: DataFrame, maxHamming: Int): DataFrame = {
    val bands = 4; val bandBits = 16
    require(maxHamming >= 0 && maxHamming < bands,
      s"maxHamming must be in [0, ${bands - 1}] for exact recall with $bands bands, got $maxHamming")
    val ph = state.select(col("doc_id"), col("h64")).localCheckpoint(false)
    val mask = (1L << bandBits) - 1
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("h64"), b * bandBits).bitwiseAND(lit(mask)).as("bval"))
    }
    val banded = ph.select(col("doc_id"), col("h64"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("h64"),
        col("bk.band").as("band"), col("bk.bval").as("bval"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.h64").bitwiseXOR(col("b.h64"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Batch composition: sketches from the media themselves in one
    * delta — bit-identical to [[phashNearDupsFromState]] over any
    * merged ingest (the `image_phash_near_dups_stream` twin's
    * assertion). */
  def phashNearDups(media: Dataset[EncodedMedia], maxHamming: Int = 3): DataFrame =
    phashNearDupsFromState(phashAdd(media), maxHamming)

  /** Incremental near-dup of ONE image delta against state ∪ delta —
    * [[graft.ext.MinHash.nearDupDeltaPairs]]' snapshot-over-snapshot
    * shape on the pHash family: the delta's band keys broadcast into
    * the MIH join, the maintained [[phashAdd]] state is probed with ONE
    * narrow scan and never shuffles on a band key. By the pigeonhole
    * bound the result is EXACTLY the full-corpus Hamming ≤ `maxHamming`
    * pairs restricted to delta-touching ones. */
  def phashNearDupDeltaPairs(state: DataFrame, delta: Dataset[EncodedMedia],
      maxHamming: Int = 3): DataFrame =
    mihDeltaPairs(state.select(col("doc_id"), col("phash").as("h64")),
      phashAdd(delta).select(col("doc_id"), col("phash").as("h64")), maxHamming)

  /** [[phashNearDupDeltaPairs]]' contract on the audio sketch family:
    * one clip delta (WAV walk + Goertzel paid once, at ingest) probes a
    * maintained [[audioSketchAdd]] state in place. */
  def audioNearDupDeltaPairs(state: DataFrame, delta: Dataset[EncodedMedia],
      maxHamming: Int = 3): DataFrame =
    mihDeltaPairs(state.select(col("doc_id"), col("sketch").as("h64")),
      audioSketchAdd(delta).select(col("doc_id"), col("sketch").as("h64")), maxHamming)

  /** The shared DELTA-probe kernel over `(doc_id, h64)` sketch frames —
    * [[mihPairs]]' banding with the delta side banded SMALL and
    * broadcast, the state ∪ delta side scanned once in place (no
    * state-sized exchange; the plan pin asserts the broadcast). `=!=`
    * (not `<`) so delta rows pair in BOTH directions against older and
    * newer ids; least/greatest restores the canonical orientation
    * before the distinct. The 8-byte sketch rides the band rows, so the
    * Hamming verify runs inline in the join — same pigeonhole-exact
    * recall as the batch kernel, restricted to delta-touching pairs. */
  private[graft] def mihDeltaPairs(state: DataFrame, delta: DataFrame,
      maxHamming: Int): DataFrame = {
    val bands = 4; val bandBits = 16
    require(maxHamming >= 0 && maxHamming < bands,
      s"maxHamming must be in [0, ${bands - 1}] for exact recall with $bands bands, got $maxHamming")
    val deltaSk = delta.select(col("doc_id"), col("h64")).localCheckpoint(false)
    val all = state.select(col("doc_id"), col("h64"))
      .unionByName(deltaSk)
    val mask = (1L << bandBits) - 1
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("h64"), b * bandBits).bitwiseAND(lit(mask)).as("bval"))
    }
    def banded(df: DataFrame) =
      df.select(col("doc_id"), col("h64"), explode(array(bandCols: _*)).as("bk"))
        .select(col("doc_id"), col("h64"),
          col("bk.band").as("band"), col("bk.bval").as("bval"))
    banded(all).as("a")
      .join(broadcast(banded(deltaSk)).as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval")
          && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        bit_count(col("a.h64").bitwiseXOR(col("b.h64"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Brute ALL-PAIRS Hamming truth over a `(doc_id, phash)` frame —
    * the AUDIT-ONLY truth kernel for [[phashNearDups]]' recall
    * ([[graft.ext.Sim.bruteNearDupPairs]]' contract on the image
    * sketch): the 16-byte/doc index is collected and broadcast, every
    * probe scans it, so the cost is n² xor+popcount with NO candidate
    * bound — run at fixture scale (production audits sample); never a
    * production path. Emits canonical `doc_a < doc_b` pairs. */
  def brutePhashPairs(ph: DataFrame, maxHamming: Int): DataFrame =
    bruteHamming64Pairs(ph.select(col("doc_id"), col("phash").as("h64")), maxHamming)

  /** The shared brute-truth kernel over any `(doc_id, h64)` frame. */
  private[graft] def bruteHamming64Pairs(ph: DataFrame, maxHamming: Int): DataFrame = {
    val spark = ph.sparkSession
    import spark.implicits._
    val index: Array[(Long, Long)] = ph
      .select(col("doc_id"), col("h64")).as[(Long, Long)]
      .collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(index)
    ph.select(col("doc_id"), col("h64")).as[(Long, Long)]
      .mapPartitions { it =>
        val idx = bc.value
        it.flatMap { case (qid, qh) =>
          idx.iterator.collect {
            case (nid, nh) if nid > qid &&
              java.lang.Long.bitCount(qh ^ nh) <= maxHamming =>
              (qid, nid, java.lang.Long.bitCount(qh ^ nh).toLong)
          }
        }
      }.toDF("doc_a", "doc_b", "hamming")
  }
}
