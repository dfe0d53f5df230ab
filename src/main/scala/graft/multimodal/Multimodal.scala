package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.api.java.{UDF1, UDF2}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines. Media payloads are opaque `binary` columns with a typed
  * metadata struct. Every real codec op is one column function in the
  * query's own Catalyst plan (the analogue of the reference's per-row
  * `mapInPandas`): a named UDF runs the JDK codec once per row and returns
  * a typed column, so EXPLAIN shows the decode, column pruning and filter
  * pushdown see through it, and the columns the codec does not read never
  * leave Spark's row format.
  *
  * IMAGE decode/resize/encode are REAL: `javax.imageio.ImageIO` ships
  * PNG/JPEG/GIF/BMP codecs in the JDK, no external dependency
  * (`decodeImageStats`, `resizeImages`, `syntheticPng`).
  *
  * AUDIO decode/trim/encode are REAL for WAV (RIFF PCM):
  * `javax.sound.sampled.AudioSystem` ships the WAVE reader/writer in the
  * JDK — pure header+PCM parsing, no audio device needed, works headless
  * (`decodeAudioStats`, `trimAudio`, `syntheticWav`).
  *
  * STUB NOTE (video + compressed audio only): this container ships no
  * video or MP3/AAC codecs, so `decodeToFeatures`/`sampleFrames` remain
  * clearly-marked deterministic FAKES (hash-derived features / byte
  * slices with the right shapes). Their Spark-side contract — schema,
  * partitioning, null passthrough — is real and tested;
  * swapping in a true codec is a one-function change.
  */
object Multimodal {

  /** Rebalance a codec input NARROWER than the session's parallelism before
    * the per-row decode work (round 15, guide §2.5 "repartition immediately
    * after the read"): decode cost dwarfs a one-time payload shuffle, and a
    * small input (one parquet split — the bench shape, or a single
    * unsplittable file at any scale) otherwise funnels every ImageIO/
    * AudioSystem round-trip through ONE task while the rest of the cluster
    * idles. Inputs already at or above the session's parallelism pass
    * through untouched — no payload ever shuffles when the scan is wide,
    * so the 100 TB path pays nothing. Condition and width both derive from
    * the session, not a constant. */
  private def widenForDecode(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** A JDK codec as a named column function. Spark hands it the external
    * form of each input (binary → `Array[Byte]`, struct → `Row`, long →
    * boxed) and converts its result back to `out`, so the output column has
    * exactly the declared type. The name is the YAML op's, so EXPLAIN shows
    * which codec a plan runs.
    */
  private def codec[A](name: String, out: DataType)(f: A => Any): UserDefinedFunction =
    udf(new UDF1[A, Any] { def call(a: A): Any = f(a) }, out).withName(name)

  private def codec2[A, B](name: String, out: DataType)(f: (A, B) => Any): UserDefinedFunction =
    udf(new UDF2[A, B, Any] { def call(a: A, b: B): Any = f(a, b) }, out).withName(name)

  /** `call` as the new column `out`, evaluated once per row by a one-row
    * generator (`explode` of a one-element array) rather than a projection:
    * Catalyst pushes a filter on a projected column below the projection
    * with a copy of the call in it, a second decode per row. A generator's
    * output is an attribute, so a filter on it stays above the call, and
    * filters on the input columns still push below the decode.
    */
  private def withCodec(df: DataFrame, out: String, call: Column): DataFrame =
    widenForDecode(df).withColumn(out, explode(array(call)))

  /** Replace `payload` and `meta` with one codec's `(payload, meta)` row,
    * decoded once into a hidden struct column that both outputs read. A
    * null result (null or undecodable payload) keeps the row's original
    * payload and meta; column names, order and types stay the input's.
    */
  private def replaceMedia(df: DataFrame, name: String)(f: (Array[Byte], Row) => Row): DataFrame = {
    val media = StructType(Seq(df.schema("payload"), df.schema("meta")))
    val step = codec2[Array[Byte], Row](name, media) { (payload, meta) =>
      Option(f(payload, meta)).getOrElse(Row(payload, meta))
    }.asNonNullable()
    withCodec(df, "__media", step(col("payload"), col("meta")))
      .withColumns(Map("payload" -> col("__media.payload"), "meta" -> col("__media.meta")))
      .drop("__media")
  }

  /** Decode one image payload with the JDK codec; null for null or
    * undecodable payloads (ImageIO returns null for unknown formats).
    */
  private def readImage(payload: Array[Byte]): java.awt.image.BufferedImage = {
    if (payload == null) return null
    noImageIOFileCache()
    try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    catch { case _: Exception => null }
  }

  /** Canonical media schema: payload + typed metadata. */
  val MediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("meta", MediaMetaSchema)))

  /** Wrap raw binary + fields into the canonical media struct columns. */
  def asMedia(df: DataFrame, idCol: String, payloadCol: String,
              format: String, width: Int = 0, height: Int = 0, durationMs: Long = 0L): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(payloadCol).cast("binary").as("payload"),
      struct(lit(format).as("format"), lit(width).as("width"), lit(height).as("height"),
        lit(durationMs).as("duration_ms")).as("meta"))

  /** Decoded-image stats schema: dims + channel count + exact channel means
    * (integer sums / pixel count — order-independent, so reproducible and
    * oracle-able), derived mean luminance, and an 8-bin luminance histogram.
    */
  val ImageStatsSchema: StructType = StructType(Seq(
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("mean_r", DoubleType),
    StructField("mean_g", DoubleType),
    StructField("mean_b", DoubleType),
    StructField("mean_luma", DoubleType),
    StructField("luma_hist", ArrayType(LongType))))

  /** ImageIO defaults to a temp-FILE-backed stream cache (`getUseCache` is
    * true), costing one /tmp file create/write/delete per decoded or encoded
    * image. Our payloads are in-memory byte arrays — no disk cache needed.
    * Static JVM-wide flag; called at the top of every codec path so it takes
    * effect in each executor JVM, not just the driver. Idempotent.
    */
  private[graft] def noImageIOFileCache(): Unit =
    if (javax.imageio.ImageIO.getUseCache) javax.imageio.ImageIO.setUseCache(false)

  /** Decode one image payload with the JDK codec and compute pixel stats.
    * Returns null for null/undecodable payloads (a corrupt image is data,
    * not a job-killer). Channel sums are exact integers (≤ 2^53 for any
    * realistic image), so the means are bit-reproducible across engines;
    * mean_luma is DEFINED as the Rec.601 combination of the channel means
    * (linear, so equal to the per-pixel mean in exact arithmetic — pinning
    * the definition avoids summation-order drift). The histogram bins
    * per-pixel Rec.601 luma into 8 × 32-value buckets.
    */
  private[graft] def imageStats(payload: Array[Byte]): Row = {
    val img = readImage(payload)
    if (img == null) null else statsOf(img)
  }

  /** Pixel-stat loop over a decoded image (shared by the single-image and
    * per-GIF-frame paths).
    */
  private def statsOf(img: java.awt.image.BufferedImage): Row = {
    val w = img.getWidth; val h = img.getHeight
    val channels = img.getRaster.getNumBands
    var sr = 0L; var sg = 0L; var sb = 0L
    val hist = new Array[Long](8)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y) // ARGB regardless of the internal raster
        val r = (rgb >> 16) & 0xFF; val g = (rgb >> 8) & 0xFF; val b = rgb & 0xFF
        sr += r; sg += g; sb += b
        val luma = 0.299 * r + 0.587 * g + 0.114 * b
        hist(math.min(7, (luma / 32.0).toInt)) += 1L
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    val mr = sr.toDouble / n; val mg = sg.toDouble / n; val mb = sb.toDouble / n
    Row(w, h, channels, mr, mg, mb, 0.299 * mr + 0.587 * mg + 0.114 * mb, hist.toSeq)
  }

  /** REAL image decode → stats column: one codec call per row. Appends a
    * nullable `outCol` struct (ImageStatsSchema); null/undecodable payloads
    * yield a null struct. Row-local — no shuffle; at 100 TB the decode cost
    * scales with executors like any map.
    */
  def decodeImageStats(df: DataFrame, payloadCol: String,
                       outCol: String = "image_stats"): DataFrame =
    withCodec(df, outCol, codec("decode_image_stats", ImageStatsSchema)(imageStats)(col(payloadCol)))

  /** Deterministic test-image generator (engine-side; also the gate query's
    * input): renders the pinned gradient pattern
    *   pixel(x, y) = ((7x+13y+seed) mod 256, (3x+5y+2·seed) mod 256,
    *                  (x+y+3·seed) mod 256)
    * and encodes it PNG via ImageIO. PNG is lossless, so decoded stats are
    * exactly the pattern's — computable independently in plain SQL.
    */
  def syntheticPng(seed: Long, w: Int, h: Int): Array[Byte] = {
    noImageIOFileCache()
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (((7L * x + 13L * y + seed) % 256 + 256) % 256).toInt
        val g = (((3L * x + 5L * y + 2L * seed) % 256 + 256) % 256).toInt
        val b = (((x.toLong + y + 3L * seed) % 256 + 256) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Quadratic-pattern sibling of [[syntheticPng]] for the perceptual-hash
    * gates: pixel(x,y) = (7x²+13y²+(5+seed%97)xy+31·seed,
    * 3x²+11y²+(7+seed%89)xy+17·seed, 5x²+3y²+(11+seed%83)xy+23·seed) mod
    * 256. The LINEAR gradient pattern is perceptually degenerate (cell
    * averages grow monotonically → most dHashes collapse to a handful of
    * values); the quadratic + seed-dependent cross term gives distinct
    * seeds distinct hashes (measured: 200/200 distinct, min Hamming 8), so
    * planted duplicate pairs are the ONLY near-dups and the oracle can
    * replay every hash from the formula.
    */
  def syntheticPng2(seed: Long, w: Int, h: Int): Array[Byte] = {
    noImageIOFileCache()
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val cr = 5 + (seed % 97); val cg = 7 + (seed % 89); val cb = 11 + (seed % 83)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val xl = x.toLong; val yl = y.toLong
        val r = (((7L * xl * xl + 13L * yl * yl + cr * xl * yl + 31L * seed) % 256 + 256) % 256).toInt
        val g = (((3L * xl * xl + 11L * yl * yl + cg * xl * yl + 17L * seed) % 256 + 256) % 256).toInt
        val b = (((5L * xl * xl + 3L * yl * yl + cb * xl * yl + 23L * seed) % 256 + 256) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 64-bit difference hash (dHash) of a REAL decoded image — the standard
    * perceptual near-dup key (Krawetz): downsample to a 9×8 luma grid,
    * bit(x,y) = avg(x+1,y) > avg(x,y). Everything is EXACT integer
    * arithmetic — area-average cells (cell = floor-partitioned pixel
    * ranges, no resampling kernel), integer Rec.601 luma (299r+587g+114b,
    * unscaled), and the comparison as cross-multiplication — so the hash
    * is bit-reproducible across JVMs and replayable in plain SQL for the
    * oracle. Images smaller than 9×8, null, or undecodable payloads → null.
    */
  private[graft] def dhash64(payload: Array[Byte]): Any = {
    val img = readImage(payload)
    if (img == null) return null
    val w = img.getWidth; val h = img.getHeight
    if (w < 9 || h < 8) return null
    val sums = Array.ofDim[Long](8, 9)
    val cnts = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < h) {
      val gy = math.min((y.toLong * 8 / h).toInt, 7)
      var x = 0
      while (x < w) {
        val gx = math.min((x.toLong * 9 / w).toInt, 8)
        val rgb = img.getRGB(x, y)
        val l = 299L * ((rgb >> 16) & 0xFF) + 587L * ((rgb >> 8) & 0xFF) + 114L * (rgb & 0xFF)
        sums(gy)(gx) += l
        cnts(gy)(gx) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        if (sums(gy)(gx + 1) * cnts(gy)(gx) > sums(gy)(gx) * cnts(gy)(gx + 1))
          hash |= 1L << (gy * 8 + gx)
        gx += 1
      }
      gy += 1
    }
    hash
  }

  /** dHash column over a media frame (per-row decode, null passthrough). */
  def imageDHash(df: DataFrame, payloadCol: String, outCol: String = "dhash"): DataFrame =
    withCodec(df, outCol, codec("image_dhash", LongType)(dhash64)(col(payloadCol)))

  /** Image near-dup pairs within Hamming radius ≤ 3 over a dHash column —
    * the multimodal sibling of text SimHash dedup, and the same 4×16-bit
    * block scheme (pigeonhole: distance ≤ 3 pairs must agree on ≥ 1 of 4
    * blocks; the candidate exchange carries (id, hash), exact
    * bit_count(xor) verify after). Null hashes never pair. Output (id_a,
    * id_b, hamming), id_a < id_b. Reads `hashed` once and caches nothing.
    */
  def imageNearDupPairs(hashed: DataFrame, idCol: String, hashCol: String = "dhash",
                        maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"imageNearDupPairs' 4-block scheme guarantees recall only for maxHamming <= 3, got $maxHamming")
    // one read of `hashed`: each id's hash rides its blocks into the
    // buckets, so the pairs need no join back to the (decoded) input
    val sig = struct(col(idCol).as("id"), col(hashCol).as("dh"))
    val blockStructs = (0 until 4).map { i =>
      struct(lit(i).as("blk"), shiftright(col("s.dh"), i * 16).bitwiseAND(0xFFFFL).as("v"))
    }
    val blocks = hashed.filter(col(hashCol).isNotNull).select(sig.as("s"))
      .select(col("s"), explode(array(blockStructs: _*)).as("b"))
      .select(col("s"), col("b.blk").as("blk"), col("b.v").as("v"))
    // the PairCombos kernel expands each bucket's member INDEX pairs
    graft.text.Dedup.bucketMembers(blocks, Seq("blk", "v"), maxBucketSize, col("s"))
      .select(col("__ids"), explode(graft.expr.PairCombos(
        sequence(lit(0L), size(col("__ids")).cast("long") - 1), normalize = false)).as("__p"))
      .select(element_at(col("__ids"), col("__p.id_a").cast("int") + 1).as("a"),
        element_at(col("__ids"), col("__p.id_b").cast("int") + 1).as("b"))
      .filter(col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"), greatest(col("a.id"), col("b.id")).as("id_b"),
        bit_count(col("a.dh").bitwiseXOR(col("b.dh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** REAL image resize via JDK Graphics2D (bilinear) + PNG re-encode, one
    * codec call per row; metadata records the new dims. Null/undecodable
    * payloads pass through unchanged with their original meta.
    */
  def resizeImages(df: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0, s"resizeImages: target dims must be positive")
    replaceMedia(df, "resize_images") { (payload, meta) =>
      val decoded = readImage(payload)
      if (decoded == null) null
      else {
        val out = new java.awt.image.BufferedImage(targetW, targetH,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g2 = out.createGraphics()
        g2.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g2.drawImage(decoded, 0, 0, targetW, targetH, null)
        g2.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        Row(bos.toByteArray, Row("image/png", targetW, targetH, meta.getLong(3)))
      }
    }
  }

  /** Deterministic multi-frame test clip: an animated GIF whose frame f is
    * the SOLID color
    *   (r, g, b)(f) = ((11f+7·seed) mod 256, (23f+5·seed) mod 256,
    *                   (37f+3·seed) mod 256).
    * Solid frames use a 1-entry palette, so the GIF round-trip is exact —
    * decoded per-frame channel means equal the formula, computable in SQL.
    * Written through the real JDK GIF sequence writer.
    */
  def syntheticGif(seed: Long, w: Int, h: Int, frames: Int): Array[Byte] = {
    noImageIOFileCache()
    val writer = javax.imageio.ImageIO.getImageWritersBySuffix("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < frames) {
        val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val r = (((11L * f + 7L * seed) % 256 + 256) % 256).toInt
        val g = (((23L * f + 5L * seed) % 256 + 256) % 256).toInt
        val b = (((37L * f + 3L * seed) % 256 + 256) % 256).toInt
        val g2 = img.createGraphics()
        g2.setColor(new java.awt.Color(r, g, b)); g2.fillRect(0, 0, w, h); g2.dispose()
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null),
          writer.getDefaultWriteParam)
        f += 1
      }
      writer.endWriteSequence()
    } finally { ios.close(); writer.dispose() }
    bos.toByteArray
  }

  /** One sampled GIF frame: its media id, stored index, dims and means. */
  private val GifFrameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("frame_idx", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("mean_r", DoubleType),
    StructField("mean_g", DoubleType),
    StructField("mean_b", DoubleType)))

  /** Every `everyN`-th stored frame of one multi-frame payload, as
    * GifFrameSchema rows; none for null/undecodable payloads, and a corrupt
    * frame is skipped while the rest are kept.
    */
  private def gifFrames(id: java.lang.Long, payload: Array[Byte], everyN: Int): Seq[Row] = {
    if (payload == null) return Nil
    noImageIOFileCache()
    val iis = javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(payload))
    val readers = javax.imageio.ImageIO.getImageReaders(iis)
    if (!readers.hasNext) { iis.close(); return Nil }
    val reader = readers.next()
    try {
      reader.setInput(iis)
      val n = reader.getNumImages(true) // count ALL frames (one pass)
      (0 until n by everyN).flatMap { i =>
        try {
          val st = statsOf(reader.read(i))
          Seq(Row(id, i, st.getInt(0), st.getInt(1), st.getDouble(3), st.getDouble(4), st.getDouble(5)))
        } catch { case _: Exception => Nil }
      }
    } catch { case _: Exception => Nil }
    finally { reader.dispose(); iis.close() }
  }

  /** REAL frame sampling for multi-frame media (animated GIF — the one
    * moving-picture format the JDK decodes): every `everyN`-th stored frame
    * is decoded and reduced to pixel stats. Output is one row per sampled
    * frame: (media_id, frame_idx, width, height, mean_r, mean_g, mean_b),
    * the `inline` of one codec call's frame array per row. Null/undecodable
    * payloads contribute no rows. Row-local fan-out — no shuffle; downstream
    * repartitions by media_id if it needs co-location. (`sampleFrames`
    * remains the byte-slice STUB for true video formats.)
    */
  def sampleGifFrames(df: DataFrame, everyN: Int = 1): DataFrame = {
    require(everyN > 0, "sampleGifFrames: everyN must be positive")
    val frames = codec2[java.lang.Long, Array[Byte]]("sample_gif_frames", ArrayType(GifFrameSchema)) {
      (id, payload) => gifFrames(id, payload, everyN)
    }
    widenForDecode(df).select(inline(frames(col("media_id"), col("payload"))))
  }

  /** Decoded-audio stats schema. The sums are exact integers (16-bit PCM:
    * |v| ≤ 32768, v² ≤ 2^30 — sums fit a long for any realistic clip and
    * are summation-order-independent, so reproducible and oracle-able).
    * Multi-channel clips are reduced over CHANNEL 0 (pinned definition).
    */
  val AudioStatsSchema: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("bits_per_sample", IntegerType),
    StructField("num_frames", LongType),
    StructField("duration_ms", LongType),
    StructField("sum_abs", LongType),
    StructField("sum_sq", LongType),
    StructField("zero_crossings", LongType)))

  /** javax.sound's `AudioSystem` entry points re-scan every installed SPI
    * provider on EVERY call, and the scan serializes on a JVM-global lock
    * (`SoftMidiAudioFileReader`'s probe consults the MIDI soft-synth
    * registry on the read side; the writer registry locks the same way on
    * the write side). Measured on this container's JDK 17: ~100 µs/call
    * with ZERO parallel speedup across 32 threads — the 10× scale-stress
    * showed 19× wall growth for 10× rows because all decode ran on one
    * core. The SPI providers themselves are stateless and scale linearly
    * (22–42 µs/call, ~32× speedup at 32 threads), so they are resolved
    * ONCE per JVM here and dispatched directly — readers by sniffed
    * container magic, writers by target-type support. Anything
    * unrecognized falls back to the stock `AudioSystem` path, preserving
    * behavior for exotic formats.
    */
  private lazy val audioReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    val buf = Seq.newBuilder[javax.sound.sampled.spi.AudioFileReader]
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .forEach(r => buf += r)
    buf.result()
  }

  private lazy val audioWriters: Seq[javax.sound.sampled.spi.AudioFileWriter] = {
    val buf = Seq.newBuilder[javax.sound.sampled.spi.AudioFileWriter]
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .forEach(w => buf += w)
    buf.result()
  }

  /** Open `payload` as audio: magic-sniffed direct reader dispatch, stock
    * `AudioSystem` fallback. Throws like `getAudioInputStream` on
    * undecodable input — callers keep their existing catch-to-null.
    */
  private def openAudio(payload: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    def magic(s: String): Boolean =
      payload.length >= 4 && (0 until 4).forall(i => payload(i) == s.charAt(i).toByte)
    val preferred =
      if (magic("RIFF")) audioReaders.filter(_.getClass.getSimpleName.startsWith("Wave"))
      else if (magic("FORM")) audioReaders.filter(_.getClass.getSimpleName.startsWith("Aiff"))
      else if (magic(".snd")) audioReaders.filter(_.getClass.getSimpleName.startsWith("AuFile"))
      else Nil
    val it = preferred.iterator
    while (it.hasNext) {
      try return it.next().getAudioInputStream(new java.io.ByteArrayInputStream(payload))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
    }
    javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
  }

  /** WAV-encode `ais` into `bos`: first cached writer that supports the
    * stream, stock `AudioSystem.write` fallback.
    */
  private def writeWav(ais: javax.sound.sampled.AudioInputStream,
                       bos: java.io.OutputStream): Unit = {
    val wave = javax.sound.sampled.AudioFileFormat.Type.WAVE
    audioWriters.find(_.isFileTypeSupported(wave, ais)) match {
      case Some(w) => w.write(ais, wave, bos)
      case None    => javax.sound.sampled.AudioSystem.write(ais, wave, bos)
    }
  }

  /** Decode one WAV payload with the JDK codec (`AudioSystem`) and compute
    * channel-0 sample stats. Returns null for null/undecodable/non-PCM16
    * payloads (corrupt audio is data, not a job-killer). `zero_crossings`
    * counts i ≥ 1 where sign(v[i-1]) ≠ sign(v[i]) under `v < 0` as the sign
    * predicate; `duration_ms` = floor(frames·1000 / rate).
    */
  private[graft] def audioStats(payload: Array[Byte]): Row = {
    if (payload == null) return null
    val in =
      try openAudio(payload)
      catch { case _: Exception => return null }
    try {
      val fmt = in.getFormat
      if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          fmt.getSampleSizeInBits != 16) return null
      val channels = fmt.getChannels
      val frameSize = fmt.getFrameSize // channels * 2 bytes
      // AudioFormat fields can be NOT_SPECIFIED (-1) on exotic headers —
      // guard before they become divisors
      if (frameSize <= 0 || fmt.getSampleRate <= 0f || channels <= 0) return null
      val bytes = in.readAllBytes()
      val frames = bytes.length / frameSize
      val bigEndian = fmt.isBigEndian
      var sumAbs = 0L; var sumSq = 0L; var zc = 0L
      var prevNeg = false; var first = true
      var f = 0
      while (f < frames) {
        val off = f * frameSize // channel 0 is the first sample of the frame
        val v: Int =
          if (bigEndian) ((bytes(off) << 8) | (bytes(off + 1) & 0xFF)).toShort.toInt
          else ((bytes(off + 1) << 8) | (bytes(off) & 0xFF)).toShort.toInt
        sumAbs += math.abs(v.toLong); sumSq += v.toLong * v
        val neg = v < 0
        if (!first && neg != prevNeg) zc += 1
        prevNeg = neg; first = false
        f += 1
      }
      val rate = math.round(fmt.getSampleRate).toInt
      Row(rate, channels, 16, frames.toLong, frames.toLong * 1000L / rate,
        sumAbs, sumSq, zc)
    } catch { case _: Exception => null } finally in.close()
  }

  /** REAL WAV decode → stats column, one codec call per row (same shape
    * as `decodeImageStats`). Appends a nullable `outCol` struct
    * (AudioStatsSchema). Row-local — no shuffle.
    */
  def decodeAudioStats(df: DataFrame, payloadCol: String,
                       outCol: String = "audio_stats"): DataFrame =
    withCodec(df, outCol, codec("decode_audio_stats", AudioStatsSchema)(audioStats)(col(payloadCol)))

  /** Deterministic test-clip generator (engine-side; also the gate query's
    * input): mono 16-bit PCM with the pinned sample formula
    *   v(i) = ((1103·i + 12289·seed + 7) mod 65536) − 32768
    * encoded WAV via the real JDK writer. WAV PCM is lossless, so decoded
    * stats are exactly the formula's — computable independently in SQL.
    */
  def syntheticWav(seed: Long, numFrames: Int, sampleRate: Int = 16000): Array[Byte] = {
    val pcm = new Array[Byte](numFrames * 2)
    var i = 0
    while (i < numFrames) {
      val v = (Math.floorMod(1103L * i + 12289L * seed + 7L, 65536L) - 32768L).toInt
      pcm(2 * i) = (v & 0xFF).toByte        // little-endian
      pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, numFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    writeWav(ais, bos)
    bos.toByteArray
  }

  /** REAL audio trim: decode WAV, keep the first `maxMs` milliseconds
    * (frame-aligned: floor(maxMs·rate/1000) frames), re-encode WAV via the
    * JDK writer, update `meta.duration_ms`; one codec call per row.
    * Null/undecodable payloads pass through unchanged. Row-local — no shuffle.
    */
  def trimAudio(df: DataFrame, maxMs: Long): DataFrame = {
    require(maxMs > 0, "trimAudio: maxMs must be positive")
    replaceMedia(df, "trim_audio") { (payload, meta) =>
      val in =
        if (payload == null) null
        else try openAudio(payload) catch { case _: Exception => null }
      if (in == null) null
      else try {
        val fmt = in.getFormat
        val rate = math.round(fmt.getSampleRate).toLong
        val keepFrames = math.min(in.getFrameLength, maxMs * rate / 1000L)
        val keepBytes = (keepFrames * fmt.getFrameSize).toInt
        val bytes = in.readNBytes(keepBytes)
        val trimmed = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(bytes), fmt, keepFrames)
        val bos = new java.io.ByteArrayOutputStream()
        writeWav(trimmed, bos)
        Row(bos.toByteArray, Row(meta.getString(0), meta.getInt(1), meta.getInt(2),
          keepFrames * 1000L / rate))
      } catch { case _: Exception => null } finally in.close()
    }
  }

  /** STUB decoder for NON-DECODABLE media (video / compressed audio — no
    * codec in this container): deterministic `dim`-float feature vector
    * derived from the payload bytes (xxhash64 seeded per index). Real
    * plumbing: evaluated per-partition, codegen'd, null payload → null
    * features. Images: use `decodeImageStats`; WAV: `decodeAudioStats`.
    */
  def decodeToFeatures(df: DataFrame, payloadCol: String, dim: Int = 16,
                       outCol: String = "features"): DataFrame =
    df.withColumn(outCol,
      when(col(payloadCol).isNull, lit(null))
        .otherwise(transform(sequence(lit(0), lit(dim - 1)),
          i => (pmod(xxhash64(col(payloadCol), i), lit(1000L)).cast("double") / 500.0) - 1.0)))

  /** Frame sampling for video payloads: every `everyMs` milliseconds of the
    * declared duration, emit (media_id, frame_idx, frame_payload). The frame
    * extraction itself is a STUB byte-slice; the explode/partition shape is
    * the real contract (rows fan out, downstream repartitions by media_id).
    */
  def sampleFrames(df: DataFrame, everyMs: Long): DataFrame =
    df.withColumn("frame_idx",
        explode(sequence(lit(0L), greatest(expr(s"meta.duration_ms div $everyMs") - 1, lit(0L)))))
      .withColumn("frame_payload",
        expr("substring(payload, int(frame_idx * 16) + 1, 16)"))
      .select("media_id", "frame_idx", "frame_payload")

  /** Deterministic media generators as named SQL functions, so YAML
    * pipelines (`transform.calculate`, `custom_sql`) can synthesize test
    * payloads without Scala code — the engine's analogue of `rand()` for
    * media columns. Registered by `Pipeline.load` alongside the CleanLib
    * UDF registry.
    */
  def registerUdfs(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.udf.register("graft_synthetic_png",
      (seed: Long, w: Int, h: Int) => syntheticPng(seed, w, h))
    spark.udf.register("graft_synthetic_wav",
      (seed: Long, numFrames: Int) => syntheticWav(seed, numFrames))
  }
}
