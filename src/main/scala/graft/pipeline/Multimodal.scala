package graft.pipeline

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.control.NonFatal

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata; decode / feature-extract / resize /
  * frame-sample run as batched per-partition transforms (the JVM analogue of
  * `mapInPandas` — one buffer of rows at a time).
  *
  * Decode kernels are REAL where the JDK ships a codec:
  *  - images: `javax.imageio` (PNG/JPEG/BMP/GIF/WBMP out of the box) —
  *    [[decodeImages]] returns actual decoded dimensions, channel count,
  *    container format, and a banded mean-luminance feature vector;
  *    [[resizeImages]] re-decodes and bilinearly rescales the pixels.
  *  - audio: payloads are parsed as 16-bit little-endian PCM and
  *    [[extractAudioFeatures]] computes a real DFT magnitude spectrum per
  *    window.
  *  - video/animation: [[sampleVideoFrames]] opens multi-frame containers
  *    the JDK can read (animated GIF) and decodes evenly-spaced frames.
  * Payloads no JDK codec can read (e.g. mp4 — the JDK has no mp4 demuxer)
  * fall back to [[pseudoDecode]], a clearly-marked deterministic stand-in
  * tagged with `format = "opaque"` so downstream filters can separate real
  * decodes from fallbacks.
  */
object Multimodal {

  // ImageIO's default ImageInput/OutputStream cache spills every payload
  // through a temp FILE on disk; executor-side codec kernels must stay in
  // memory (one disk round-trip per image would dominate at corpus scale)
  ImageIO.setUseCache(false)

  val decodedSchema: StructType = StructType(Seq(
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("channels", IntegerType), StructField("format", StringType),
    StructField("features", ArrayType(FloatType))))

  // ------------------------------------------------------------------ images

  /** Mean Rec.601 luminance (in [0,1]) over `featureDim` horizontal bands —
    * band j covers pixel rows [j*h/D, (j+1)*h/D), widened to at least one
    * row, so every band is a real pixel statistic at any aspect ratio.
    */
  private[pipeline] def bandLuminance(img: BufferedImage, featureDim: Int): Array[Float] = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Float](featureDim)
    val rowBuf = new Array[Int](w)
    var j = 0
    while (j < featureDim) {
      val r0 = j * h / featureDim
      val r1 = math.min(math.max((j + 1) * h / featureDim, r0 + 1), h)
      var sum = 0.0
      var cnt = 0L
      var r = r0
      while (r < r1) {
        img.getRGB(0, r, w, 1, rowBuf, 0, w)
        var c = 0
        while (c < w) {
          val rgb = rowBuf(c)
          sum += (0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
            0.114 * (rgb & 0xff)) / 255.0
          cnt += 1
          c += 1
        }
        r += 1
      }
      out(j) = if (cnt == 0) 0f else (sum / cnt).toFloat
      j += 1
    }
    out
  }

  /** Deterministic FALLBACK for payloads no JDK codec can decode (tagged
    * `format = "opaque"`): pseudo width/height/features derived from a hash
    * fold of the bytes, so undecodable media still flows through the typed
    * pipeline with stable, testable values instead of nulls.
    */
  private[pipeline] def pseudoDecode(bytes: Array[Byte], featureDim: Int): Row = {
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) { h = h * 31 + bytes(i); i += 1 }
    val width = 16 + math.floorMod(h, 1024).toInt
    val height = 16 + math.floorMod(h >> 10, 1024).toInt
    val features = new Array[Float](featureDim)
    var j = 0
    var s = h
    while (j < featureDim) {
      s = s * 6364136223846793005L + 1442695040888963407L
      features(j) = (s >>> 40).toFloat / (1 << 24).toFloat
      j += 1
    }
    Row(width, height, 3, "opaque", features.toSeq)
  }

  /** REAL decode kernel: `javax.imageio` parses the payload; on success the
    * row carries the actual decoded (width, height, channels, format) plus
    * [[bandLuminance]] features. Unreadable payloads fall back to
    * [[pseudoDecode]]; null payloads stay null. One stream + one reader
    * per payload — sniffing the format and decoding share the setup
    * instead of re-opening the bytes twice.
    */
  private[pipeline] def decodeImage(bytes: Array[Byte], featureDim: Int): Row = {
    if (bytes == null) return null
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
    if (iis == null) return pseudoDecode(bytes, featureDim)
    try {
      val readers = ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return pseudoDecode(bytes, featureDim)
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val fmt = reader.getFormatName.toLowerCase
        val img = reader.read(0)
        Row(img.getWidth, img.getHeight, img.getColorModel.getNumComponents,
          fmt, bandLuminance(img, featureDim).toSeq)
      } finally reader.dispose()
    } catch { case NonFatal(_) => pseudoDecode(bytes, featureDim) }
    finally iis.close()
  }

  /** Decode a binary image column into a typed struct, batched per
    * partition. Repartitions by payload hash first so decode work is
    * balanced across executors regardless of upstream file layout (at
    * 100 TB, media payloads skew heavily by source).
    */
  def decodeImages(
      df: DataFrame, binCol: String, outCol: String = "decoded",
      featureDim: Int = 64, rebalance: Boolean = true): DataFrame = {
    val base = if (rebalance) df.repartition(xxhash64(col(binCol))) else df
    val inSchema = base.schema
    val outSchema = StructType(inSchema.fields :+ StructField(outCol, decodedSchema))
    base.mapPartitions { it =>
      // the iterator is the batch; ImageIO readers are instantiated per call
      // (thread-safe), the row buffer amortizes across the partition
      it.map { row =>
        Row.fromSeq(row.toSeq :+ decodeImage(
          row.getAs[Array[Byte]](inSchema.fieldIndex(binCol)), featureDim))
      }
    }(Encoders.row(outSchema))
  }

  /** Synthesize a solid-fill PNG payload (used by specs and the CORRECTNESS
    * registry to exercise the real decode path with payloads whose decoded
    * dimensions are predictable arithmetic over the generating row).
    */
  def synthesizePng(width: Int, height: Int, rgb: Int): Array[Byte] = {
    val img = new BufferedImage(width, height, BufferedImage.TYPE_3BYTE_BGR)
    val px = Array.fill(width * height)(rgb)
    img.setRGB(0, 0, width, height, px, 0, width) // bulk: one store per image
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Column form of [[synthesizePng]] — runs executor-side. */
  val synthPng = udf((w: Int, h: Int, rgb: Int) => synthesizePng(w, h, rgb))

  /** Synthesize a vertical-stripe PNG whose stripe frequency scales with
    * `k`. Distinct `k` produce spatially distinct patterns with distinct
    * DCT spectra — what [[perceptualHash]] keys on (solid fills all hash
    * alike: their AC spectrum is zero). Used by specs and the CORRECTNESS
    * registry to plant known image-duplicate groups.
    */
  def synthesizeStripePng(width: Int, height: Int, k: Int): Array[Byte] = {
    val img = new BufferedImage(width, height, BufferedImage.TYPE_3BYTE_BGR)
    val period = math.max(1, width / (2 * (k + 1)))
    val row = Array.tabulate(width)(x => if ((x / period) % 2 == 0) 0xffffff else 0)
    val px = new Array[Int](width * height)
    var y = 0
    while (y < height) { System.arraycopy(row, 0, px, y * width, width); y += 1 }
    img.setRGB(0, 0, width, height, px, 0, width)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Column form of [[synthesizeStripePng]] — runs executor-side. */
  val synthStripePng = udf((w: Int, h: Int, k: Int) => synthesizeStripePng(w, h, k))

  /** REAL image resize: re-decode the payload, bilinearly rescale so the
    * longest side is `maxSide` (no-op for smaller images), re-encode as PNG.
    * Payloads no codec can read pass through unchanged — resizing is a
    * best-effort normalization, not a gate.
    */
  private[pipeline] def resizePayload(bytes: Array[Byte], maxSide: Int): Array[Byte] = {
    if (bytes == null) return null
    val img =
      try ImageIO.read(new ByteArrayInputStream(bytes))
      catch { case NonFatal(_) => null }
    if (img == null) return bytes
    val w = img.getWidth
    val h = img.getHeight
    if (math.max(w, h) <= maxSide) return bytes
    val scale = maxSide.toDouble / math.max(w, h)
    val nw = math.max(1, math.round(w * scale).toInt)
    val nh = math.max(1, math.round(h * scale).toInt)
    val out = new BufferedImage(nw, nh, BufferedImage.TYPE_3BYTE_BGR)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
        RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, nw, nh, null)
    } finally g.dispose()
    val bos = new ByteArrayOutputStream()
    ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** Resize a binary image column in place (see [[resizePayload]]). */
  def resizeImages(df: DataFrame, binCol: String, maxSide: Int): DataFrame = {
    val kernel = udf((bytes: Array[Byte]) => resizePayload(bytes, maxSide))
    df.withColumn(binCol, kernel(col(binCol)))
  }

  /** Metadata-level resize of an already-decoded struct: rescales the
    * recorded dimensions for a target box without touching pixels — the
    * cheap path when only the metadata must reflect the target resolution.
    * Use [[resizeImages]] to actually rescale payload pixels.
    */
  def resize(df: DataFrame, decodedCol: String, maxSide: Int): DataFrame = {
    val d = col(decodedCol)
    val scale = least(lit(1.0),
      lit(maxSide.toDouble) / greatest(d.getField("width"), d.getField("height"))
        .cast("double"))
    df.withColumn(decodedCol, struct(
      (d.getField("width") * scale).cast("int").as("width"),
      (d.getField("height") * scale).cast("int").as("height"),
      d.getField("channels").as("channels"),
      d.getField("format").as("format"),
      d.getField("features").as("features")))
  }

  /** Metadata-level frame sampling: emits `frames` copies of an
    * already-decoded struct with a frame index — the cheap path when only
    * the row shape matters. [[sampleVideoFrames]] is the REAL path for
    * multi-frame containers the JDK can read (animated GIF); containers
    * needing an external demuxer (mp4 etc.) can only go through this shape
    * stub.
    */
  def sampleFrames(df: DataFrame, decodedCol: String, frames: Int): DataFrame =
    df.withColumn("frame_index", explode(sequence(lit(0), lit(frames - 1))))

  // ------------------------------------------------------------------- video

  /** Synthesize an animated GIF whose `frames` frames are stripe patterns
    * phase-shifted per frame (used by specs and the CORRECTNESS registry:
    * frame counts and per-frame pixels are predictable arithmetic).
    */
  def synthesizeAnimatedGif(width: Int, height: Int, frames: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    val w = ImageIO.getImageWritersByFormatName("gif").next()
    try {
      w.setOutput(ios)
      w.prepareWriteSequence(null)
      var f = 0
      while (f < frames) {
        val img = new BufferedImage(width, height, BufferedImage.TYPE_3BYTE_BGR)
        val row = Array.tabulate(width)(x => if ((x + f) % 2 == 0) 0xffffff else 0)
        val px = new Array[Int](width * height)
        var y = 0
        while (y < height) { System.arraycopy(row, 0, px, y * width, width); y += 1 }
        img.setRGB(0, 0, width, height, px, 0, width)
        w.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      w.endWriteSequence()
    } finally { w.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Column form of [[synthesizeAnimatedGif]] — runs executor-side. */
  val synthGif = udf((w: Int, h: Int, frames: Int) => synthesizeAnimatedGif(w, h, frames))

  /** REAL frame sampling kernel: open the container with an ImageIO reader,
    * count its frames, decode up to `maxFrames` evenly-spaced ones (frame
    * j*n/maxFrames — first frame always included). Returns
    * (sourceFrameIndex, totalFrames, decodedStruct) triples. Single-image
    * formats are one-frame containers; an undecodable payload yields one
    * [[pseudoDecode]] fallback row; null yields none. GIF disposal/compose
    * semantics are out of scope — frames decode independently.
    */
  private[pipeline] def decodeFrames(
      bytes: Array[Byte], maxFrames: Int, featureDim: Int): Seq[(Int, Int, Row)] = {
    if (bytes == null) return Nil
    val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
    if (iis == null) return Seq((0, 1, pseudoDecode(bytes, featureDim)))
    try {
      val readers = ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return Seq((0, 1, pseudoDecode(bytes, featureDim)))
      val reader = readers.next()
      try {
        reader.setInput(iis)
        val fmt = reader.getFormatName.toLowerCase
        val n = reader.getNumImages(true)
        val take = math.min(n, maxFrames)
        (0 until take).map { j =>
          // divide by take, not maxFrames: with n < maxFrames every frame
          // decodes exactly once (j*n/maxFrames would re-decode frame 0)
          val idx = j * n / take
          val img = reader.read(idx)
          (idx, n, Row(img.getWidth, img.getHeight,
            img.getColorModel.getNumComponents, fmt,
            bandLuminance(img, featureDim).toSeq))
        }
      } finally reader.dispose()
    } catch {
      case NonFatal(_) => Seq((0, 1, pseudoDecode(bytes, featureDim)))
    } finally iis.close()
  }

  /** REAL video/animation frame sampling over a binary column: one output
    * row per sampled frame with (frame_index, frame_count, outCol struct).
    * Same batched mapPartitions shape as [[decodeImages]], with the same
    * payload-hash rebalance option for skewed media sources.
    */
  def sampleVideoFrames(
      df: DataFrame, binCol: String, maxFrames: Int, outCol: String = "frame",
      featureDim: Int = 16, rebalance: Boolean = true): DataFrame = {
    require(maxFrames >= 1, "maxFrames must be positive")
    val base = if (rebalance) df.repartition(xxhash64(col(binCol))) else df
    val inSchema = base.schema
    val outSchema = StructType(inSchema.fields ++ Seq(
      StructField("frame_index", IntegerType),
      StructField("frame_count", IntegerType),
      StructField(outCol, decodedSchema)))
    base.mapPartitions { it =>
      it.flatMap { row =>
        decodeFrames(row.getAs[Array[Byte]](inSchema.fieldIndex(binCol)),
          maxFrames, featureDim).iterator.map { case (idx, n, dec) =>
          Row.fromSeq(row.toSeq ++ Seq(idx, n, dec))
        }
      }
    }(Encoders.row(outSchema))
  }

  // -------------------------------------------------------------- image pHash

  private val PhashSize = 32 // luminance resample grid
  private val PhashBlock = 8 // low-frequency DCT block kept

  /** DCT-II basis table for the 32-point transform, built once per JVM. */
  private lazy val dctBasis: Array[Array[Double]] = {
    val n = PhashSize
    Array.tabulate(n, n)((k, t) => math.cos(math.Pi / n * (t + 0.5) * k))
  }

  /** 64-bit perceptual hash (pHash): decode, area-average luminance onto a
    * 32x32 grid, 2D DCT-II, keep the low-frequency 8x8 block, and set bit i
    * when coefficient i exceeds the block's median (DC excluded from the
    * median so flat offsets don't flip every bit). Images that survive
    * resize, recompression, or mild noise agree on most bits, so Hamming
    * distance on these hashes is an image near-duplicate metric — the
    * multimodal sibling of simhash on text. Returns null when no JDK codec
    * can read the payload.
    */
  def perceptualHash(bytes: Array[Byte]): java.lang.Long = {
    if (bytes == null) return null
    val img =
      try ImageIO.read(new ByteArrayInputStream(bytes))
      catch { case NonFatal(_) => null }
    if (img == null) return null
    val n = PhashSize
    val w = img.getWidth
    val h = img.getHeight
    // area-average resample: each grid cell averages its pixel block (at
    // least one pixel), so the hash is stable under moderate rescaling
    val grid = Array.ofDim[Double](n, n)
    val rowBuf = new Array[Int](w)
    val cellSums = Array.ofDim[Double](n, n)
    val cellCounts = Array.ofDim[Long](n, n)
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, rowBuf, 0, w)
      val gy = math.min(y * n / h, n - 1)
      var x = 0
      while (x < w) {
        val rgb = rowBuf(x)
        val lum = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)
        val gx = math.min(x * n / w, n - 1)
        cellSums(gy)(gx) += lum
        cellCounts(gy)(gx) += 1
        x += 1
      }
      y += 1
    }
    var gy = 0
    while (gy < n) {
      var gx = 0
      while (gx < n) {
        // images smaller than the grid leave empty cells; inherit the
        // nearest filled source pixel so the transform stays total
        grid(gy)(gx) =
          if (cellCounts(gy)(gx) > 0) cellSums(gy)(gx) / cellCounts(gy)(gx)
          else {
            val sy = math.min(gy * h / n, h - 1)
            val sx = math.min(gx * w / n, w - 1)
            val rgb = img.getRGB(sx, sy)
            0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
              0.114 * (rgb & 0xff)
          }
        gx += 1
      }
      gy += 1
    }
    // separable 2D DCT-II restricted to the 8x8 low-frequency corner
    val block = Array.ofDim[Double](PhashBlock, PhashBlock)
    var u = 0
    while (u < PhashBlock) {
      var v = 0
      while (v < PhashBlock) {
        var acc = 0.0
        var ty = 0
        while (ty < n) {
          var rowDot = 0.0
          var tx = 0
          while (tx < n) { rowDot += grid(ty)(tx) * dctBasis(v)(tx); tx += 1 }
          acc += rowDot * dctBasis(u)(ty)
          ty += 1
        }
        block(u)(v) = acc
        v += 1
      }
      u += 1
    }
    val ac = (for (i <- 0 until PhashBlock; j <- 0 until PhashBlock
      if i != 0 || j != 0) yield block(i)(j)).sorted
    val median = ac(31) // true median of the 63 AC coefficients
    var hash = 0L
    var bit = 0
    var i = 0
    while (i < PhashBlock) {
      var j = 0
      while (j < PhashBlock) {
        if (block(i)(j) > median) hash |= (1L << bit)
        bit += 1
        j += 1
      }
      i += 1
    }
    java.lang.Long.valueOf(hash)
  }

  /** Column form of [[perceptualHash]] — null for undecodable payloads. */
  val pHash = udf((bytes: Array[Byte]) => perceptualHash(bytes))

  /** Duplicate-image GROUP SUMMARIES by perceptual hash: one row per hash
    * group with (phash, min-id representative, group size), keyed on
    * pixels instead of bytes, so re-encoded or resized copies of one image
    * collapse into one group. For the per-payload id -> representative
    * mapping, join the input's (id, pHash) projection against this result
    * on the hash. A single hash-keyed shuffle carrying (hash, id): payload
    * bytes never leave the map side.
    */
  def dedupImagesByPhash(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val in = df.select(col(idCol).as("id"), col(binCol).as("__bin"))
    val inSchema = in.schema
    val outSchema = StructType(Seq(inSchema("id"), StructField("phash", LongType)))
    // the hash runs inside an object boundary, not as a Column: a null
    // filter on a projected UDF column gets pushed down (and through the
    // aggregate when filtering the group key) with the UDF re-inlined,
    // running the whole codec kernel twice per row — here decode happens
    // exactly once and undecodable rows vanish before the shuffle
    val hashed = in.mapPartitions { it =>
      it.flatMap { r =>
        val h = perceptualHash(r.getAs[Array[Byte]](1))
        if (h == null) Iterator.empty
        else Iterator.single(Row(r.get(0), h.longValue))
      }
    }(Encoders.row(outSchema))
    hashed.groupBy("phash")
      .agg(min(col("id")).as("representative_id"), count(lit(1)).as("n_images"))
  }

  // ------------------------------------------------------------------- audio

  /** Parse a payload as 16-bit little-endian PCM, normalized to [-1, 1). */
  private[pipeline] def pcm16(bytes: Array[Byte]): Array[Double] = {
    val n = bytes.length / 2
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort / 32768.0
      i += 1
    }
    out
  }

  // twiddle tables per (windowLength, bins): media batches share a handful
  // of window geometries, and sin/cos dominate the direct DFT, so memoize
  // the table once per JVM per geometry. The budget is in ELEMENTS, not
  // entries — window length scales with clip length, so an entry-count cap
  // would let a few long clips pin hundreds of MB per executor. Geometries
  // past the remaining budget just compute inline (O(1) memory, as before
  // the cache existed).
  private val twiddleCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), (Array[Double], Array[Double])]()
  private val TwiddleBudgetElems = new java.util.concurrent.atomic.AtomicLong(1L << 22) // ~64 MB

  private def twiddles(n: Int, bins: Int): (Array[Double], Array[Double]) = {
    def build(): (Array[Double], Array[Double]) = {
      val cos = new Array[Double](bins * n)
      val sin = new Array[Double](bins * n)
      var k = 0
      while (k < bins) {
        var t = 0
        while (t < n) {
          val ang = -2.0 * math.Pi * k * t / n
          cos(k * n + t) = math.cos(ang)
          sin(k * n + t) = math.sin(ang)
          t += 1
        }
        k += 1
      }
      (cos, sin)
    }
    val hit = twiddleCache.get((n, bins))
    if (hit != null) hit
    else {
      val elems = 2L * bins * n
      val tables = build()
      // reserve budget first; losing a concurrent race refunds and uses
      // whichever entry won
      if (TwiddleBudgetElems.addAndGet(-elems) >= 0) {
        val prev = twiddleCache.putIfAbsent((n, bins), tables)
        if (prev != null) { TwiddleBudgetElems.addAndGet(elems); prev }
        else tables
      } else {
        TwiddleBudgetElems.addAndGet(elems)
        tables
      }
    }
  }

  /** Magnitude spectrum |X_k|/n of x[lo, hi) at k = 0..bins-1 (direct DFT —
    * windows are short and bins few, so O(n*bins) beats FFT bookkeeping;
    * the sin/cos table is memoized per window geometry). bins(0) is
    * |mean|; an empty span yields zeros.
    */
  private[pipeline] def dftMagnitudes(
      x: Array[Double], lo: Int, hi: Int, bins: Int): Array[Float] = {
    val n = hi - lo
    val out = new Array[Float](bins)
    if (n <= 0) return out
    val (cosT, sinT) = twiddles(n, bins)
    var k = 0
    while (k < bins) {
      var re = 0.0
      var im = 0.0
      val base = k * n
      var t = 0
      while (t < n) {
        re += x(lo + t) * cosT(base + t)
        im += x(lo + t) * sinT(base + t)
        t += 1
      }
      out(k) = (math.sqrt(re * re + im * im) / n).toFloat
      k += 1
    }
    out
  }

  /** Synthesize a 16-bit LE PCM sine tone: `nSamples` samples of period
    * `period` at ~0.37 full scale (used by specs and the CORRECTNESS
    * registry — the dominant spectral bin of a pure tone is predictable).
    */
  def synthesizeTonePcm(nSamples: Int, period: Int): Array[Byte] = {
    val out = new Array[Byte](nSamples * 2)
    var t = 0
    while (t < nSamples) {
      val s = math.round(math.sin(2.0 * math.Pi * t / period) * 12000.0).toInt
      out(2 * t) = (s & 0xff).toByte
      out(2 * t + 1) = ((s >> 8) & 0xff).toByte
      t += 1
    }
    out
  }

  /** Column form of [[synthesizeTonePcm]] — runs executor-side. */
  val synthTone = udf((n: Int, period: Int) => synthesizeTonePcm(n, period))

  /** Audio content fingerprint by spectral-peak hashing (the idea behind
    * landmark audio search): per PCM window, take the dominant DFT bin
    * (DC excluded — amplitude scaling cannot move an argmax) and pack the
    * per-window peak sequence into one long, 8 bits per window. Identical
    * recordings collapse; different dominant frequencies split. Returns
    * null for payloads with no samples.
    */
  def audioFingerprint(bytes: Array[Byte], windows: Int = 8, bins: Int = 32): java.lang.Long = {
    // 8 bits of hash per window: more than 8 windows would silently shift
    // the earliest peaks out of the long (different audio, same hash)
    require(windows >= 1 && windows <= 8,
      s"windows must be in [1, 8] (8 hash bits each), got $windows")
    // the peak argmax excludes DC and must (a) have at least one candidate
    // bin and (b) fit its 8-bit hash slot
    require(bins >= 2 && bins <= 256, s"bins must be in [2, 256], got $bins")
    if (bytes == null) return null
    val samples = pcm16(bytes)
    val n = samples.length
    if (n == 0) return null
    var hash = 0L
    var w = 0
    while (w < windows) {
      val lo = w * n / windows
      val hi = (w + 1) * n / windows
      val mags = dftMagnitudes(samples, lo, hi, bins)
      var peak = 1
      var k = 2
      while (k < bins) {
        if (mags(k) > mags(peak)) peak = k
        k += 1
      }
      hash = (hash << 8) | (peak & 0xff)
      w += 1
    }
    java.lang.Long.valueOf(hash)
  }

  /** Duplicate-audio GROUP SUMMARIES by [[audioFingerprint]]: one row per
    * group with the min-id representative and size —
    * [[dedupImagesByPhash]]'s shape for audio. The fingerprint runs inside
    * an object boundary for the same reason (one decode per row); the
    * shuffle carries (fingerprint, id).
    */
  def dedupAudioByFingerprint(
      df: DataFrame, idCol: String, binCol: String,
      windows: Int = 8, bins: Int = 32): DataFrame = {
    val in = df.select(col(idCol).as("id"), col(binCol).as("__bin"))
    val inSchema = in.schema
    val outSchema = StructType(Seq(inSchema("id"), StructField("fingerprint", LongType)))
    val hashed = in.mapPartitions { it =>
      it.flatMap { r =>
        val h = audioFingerprint(r.getAs[Array[Byte]](1), windows, bins)
        if (h == null) Iterator.empty
        else Iterator.single(Row(r.get(0), h.longValue))
      }
    }(Encoders.row(outSchema))
    hashed.groupBy("fingerprint")
      .agg(min(col("id")).as("representative_id"), count(lit(1)).as("n_clips"))
  }

  /** REAL windowed audio feature extraction: the payload is parsed as 16-bit
    * little-endian PCM ([[pcm16]]) and split into `windows` equal spans
    * (window w covers samples [w*n/W, (w+1)*n/W), so per-window counts sum
    * exactly to floor(bytes/2)); each span gets a `featureDim`-point DFT
    * magnitude spectrum ([[dftMagnitudes]]). Output adds
    * (window_index, n_samples, features) — one row per window.
    */
  def extractAudioFeatures(
      df: DataFrame, binCol: String, windows: Int = 4, featureDim: Int = 16): DataFrame = {
    require(windows >= 1, "window count must be positive")
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++ Seq(
      StructField("window_index", IntegerType),
      StructField("n_samples", IntegerType),
      StructField("features", ArrayType(FloatType))))
    df.mapPartitions { it =>
      it.flatMap { row =>
        val bytes = row.getAs[Array[Byte]](inSchema.fieldIndex(binCol))
        if (bytes == null) {
          (0 until windows).iterator.map(w =>
            Row.fromSeq(row.toSeq ++ Seq(w, 0, null)))
        } else {
          val samples = pcm16(bytes)
          val n = samples.length
          (0 until windows).iterator.map { w =>
            val lo = w * n / windows
            val hi = (w + 1) * n / windows
            Row.fromSeq(row.toSeq ++ Seq(w, hi - lo,
              dftMagnitudes(samples, lo, hi, featureDim).toSeq))
          }
        }
      }
    }(Encoders.row(outSchema))
  }
}
