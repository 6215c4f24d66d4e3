package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal column handling (SURVEY.md §2C): image/audio/video
  * payloads ride as opaque `BinaryType` columns with a typed metadata
  * struct; decode / feature-extract / resize / frame-sample run as
  * compiled batch functions over the bytes.
  *
  * Decode is REAL for the formats the JDK ships codecs for — PNG,
  * JPEG, BMP, GIF via `javax.imageio` (no external libraries; verified
  * against in-test-encoded PNG/BMP bytes in MultimodalSpec). Payloads
  * no JDK reader accepts (including the synthetic non-image bytes in
  * the test fixtures) fall back to a clearly-labeled DETERMINISTIC
  * pseudo-header so pipelines degrade predictably instead of throwing
  * mid-scan; `decoded` distinguishes the two paths.
  *
  * Scale posture: payloads never leave executors (no driver collect),
  * all transforms are row-local (embarrassingly parallel), decode
  * runs per-partition so codec state amortizes, and binary stays
  * columnar in parquet, so a 100 TB media table partitions like any
  * other.
  */
object Multimodal {

  /** Decoded-image header; `decoded=false` marks the pseudo fallback. */
  final case class ImageHeader(width: Int, height: Int, channels: Int,
      decoded: Boolean)

  /** Real JDK decode: PNG/JPEG/BMP/GIF → BufferedImage, None for
    * anything ImageIO has no reader for. ImageIO is headless-safe (no
    * display needed for decode/encode/raster ops). */
  private[operators] def readImage(bytes: Array[Byte])
      : Option[java.awt.image.BufferedImage] = {
    if (bytes == null || bytes.length < 8) None
    else try {
      Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes)))
    } catch {
      // a reader can reject garbage that happens to start with its
      // magic (text beginning "BM…" reaches the BMP parser) with
      // unchecked exceptions, not just IOException — any failure means
      // "not a decodable image", never a failed task
      case scala.util.control.NonFatal(_) => None
    }
  }

  private def channelsOf(img: java.awt.image.BufferedImage): Int =
    img.getColorModel.getNumComponents

  /** Deterministic pseudo-header for undecodable payloads: a fixed
    * arithmetic function of the first bytes and the length, so the
    * degraded path is reproducible across engines and runs. */
  private[operators] def pseudoHeader(bytes: Array[Byte]): ImageHeader = {
    val n = bytes.length
    val b0 = bytes(0) & 0xff
    val b1 = bytes(1) & 0xff
    ImageHeader(
      width = 16 + (b0 * 31 + n) % 497,
      height = 16 + (b1 * 17 + n * 7) % 311,
      channels = 1 + (b0 + n) % 4,
      decoded = false)
  }

  /** Attach a binary payload + typed metadata struct to a text corpus —
    * the canonical shape of a multimodal table: (id, payload binary,
    * meta struct&lt;mime, n_bytes, checksum&gt;). */
  def attach(df: DataFrame, idCol: String, textCol: String,
      mime: String = "application/octet-stream"): DataFrame = {
    val payload = encode(col(textCol), "UTF-8")
    df.withColumn("payload", payload)
      .withColumn("meta", struct(
        lit(mime).as("mime"),
        length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("checksum")))
  }

  /** Image decode: real (ImageIO: PNG/JPEG/BMP/GIF) with the
    * deterministic pseudo-header as the undecodable fallback.
    * bytes → struct&lt;width, height, channels, decoded&gt;. */
  val decodeImage = udf { bytes: Array[Byte] =>
    if (bytes == null || bytes.length < 2) null
    else readImage(bytes) match {
      case Some(img) =>
        ImageHeader(img.getWidth, img.getHeight, channelsOf(img),
          decoded = true)
      case None => pseudoHeader(bytes)
    }
  }

  /** Mean luminance (Rec.601 weights over the RGB raster) of a REAL
    * decode, null for undecodable payloads — the brightness/exposure
    * quality signal of an image-corpus filter. */
  val meanLuma = udf { bytes: Array[Byte] =>
    readImage(bytes).map { img =>
      val w = img.getWidth; val h = img.getHeight
      var s = 0.0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          s += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
            0.114 * (rgb & 0xff)
          x += 1
        }
        y += 1
      }
      math.round(s / (w.toLong * h) * 1e4) / 1e4
    }
  }

  /** Image resize: REAL decode → area-respecting nearest scale so the
    * longest side is ≤ `maxDim` → PNG re-encode (JDK writer). Payloads
    * that don't decode fall back to deterministic byte decimation, so
    * the column stays total. Row-local either way. */
  val resizeImage = udf { (bytes: Array[Byte], maxDim: Int) =>
    if (bytes == null || maxDim <= 0) null
    else readImage(bytes) match {
      case Some(img) =>
        val w = img.getWidth; val h = img.getHeight
        val scale = math.min(1.0, maxDim.toDouble / math.max(w, h))
        val nw = math.max(1, math.round(w * scale).toInt)
        val nh = math.max(1, math.round(h * scale).toInt)
        val out = new java.awt.image.BufferedImage(nw, nh,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try g.drawImage(img, 0, 0, nw, nh, null) finally g.dispose()
        val buf = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", buf)
        buf.toByteArray
      case None => decimate(bytes, math.max(1,
        bytes.length / math.max(1, maxDim * maxDim)))
    }
  }

  private def decimate(bytes: Array[Byte], k: Int): Array[Byte] = {
    val out = new Array[Byte]((bytes.length + k - 1) / k)
    var i = 0
    while (i < out.length) { out(i) = bytes(i * k); i += 1 }
    out
  }

  /** Deterministic byte decimation (every k-th byte) — the bandwidth
    * knob for payloads with no decoder (and the q38 fixture path). */
  val downsample = udf { (bytes: Array[Byte], k: Int) =>
    if (bytes == null || k <= 0) null else decimate(bytes, k)
  }

  /** Split a payload into fixed-size frames (last frame may be short) —
    * the video/audio frame-extraction shape: binary → array&lt;binary&gt;,
    * typically followed by `posexplode` and per-frame processing. */
  val frames = udf { (bytes: Array[Byte], frameSize: Int) =>
    if (bytes == null || frameSize <= 0) null
    else bytes.grouped(frameSize).toArray
  }

  /** 16-bucket byte histogram (bucket = byte >>> 4) — a stand-in for any
    * per-payload feature extraction; compiled single pass. */
  val byteHistogram = udf { bytes: Array[Byte] =>
    val h = new Array[Int](16)
    if (bytes != null) {
      var i = 0
      while (i < bytes.length) { h((bytes(i) & 0xff) >>> 4) += 1; i += 1 }
    }
    h
  }

  /** Partition-batch decode path: processes payloads a partition at a
    * time (the Scala analogue of a batched pandas UDF — same batch
    * shape, same executor locality), real-decode-first like
    * [[decodeImage]]. ImageIO's reader registry is JVM-wide, so codec
    * lookup amortizes across the partition. */
  def decodeBatch(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val out = df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          if (bytes == null || bytes.length < 2) (id, 0, 0, 0)
          else readImage(bytes) match {
            case Some(img) =>
              (id, img.getWidth, img.getHeight, channelsOf(img))
            case None =>
              val h = pseudoHeader(bytes)
              (id, h.width, h.height, h.channels)
          }
        }
      }
    out.toDF(idCol, "width", "height", "channels")
  }

  /** Solid-gray PNG generator (REAL JDK encoder) — the deterministic
    * image synthesizer for codec roundtrip checks: a w×h TYPE_INT_RGB
    * raster of gray level `v`, PNG-encoded. Decoding it back must
    * return exactly (w, h) and mean luma v (gray luma is the identity
    * under the Rec.601 weights). Row-local. */
  val solidPng = udf { (gray: Int, w: Int, h: Int) =>
    if (w <= 0 || h <= 0) null
    else {
      val v = ((gray % 256) + 256) % 256
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (v << 16) | (v << 8) | v
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
  }

  /** Parsed WAV header (RIFF/WAVE fmt + data chunks). */
  final case class WavHeader(sampleRate: Int, channels: Int,
      bitsPerSample: Int, nSamples: Long, durationMs: Double)

  /** Minimal PCM WAV generator: a standard 44-byte RIFF/WAVE header +
    * silent 16-bit PCM frames — the audio-side synthesizer for
    * roundtrip checks. Row-local. */
  val pcmWav = udf { (sampleRate: Int, channels: Int, nSamples: Int) =>
    val bits = 16
    val blockAlign = if (channels > 0) channels * bits / 8 else 0
    // data length must fit the RIFF 32-bit size field AND the JVM array
    if (sampleRate <= 0 || channels <= 0 || nSamples < 0 ||
        nSamples.toLong * blockAlign > Int.MaxValue - 44L) null
    else {
      val dataLen = nSamples * blockAlign
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1.toShort) // PCM
        .putShort(channels.toShort).putInt(sampleRate)
        .putInt(sampleRate * blockAlign) // byte rate
        .putShort(blockAlign.toShort).putShort(bits.toShort)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      bb.array()
    }
  }

  /** REAL WAV header parse: walks the RIFF chunk list (not a fixed
    * 44-byte assumption — fmt and data may be separated by LIST/fact
    * chunks), returns null for anything that isn't a PCM WAVE. The
    * audio twin of [[decodeImage]]: real parse, loud null fallback,
    * row-local. */
  val decodeWav = udf { bytes: Array[Byte] =>
    if (bytes == null || bytes.length < 44) None
    else {
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(off: Int): String =
        new String(bytes, off, 4, "US-ASCII")
      if (tag(0) != "RIFF" || tag(8) != "WAVE") None
      else {
        var off = 12
        var fmtTag = -1
        var rate = -1; var ch = -1; var bits = -1; var dataLen = -1L
        while (off + 8 <= bytes.length && (rate < 0 || dataLen < 0)) {
          val id = tag(off)
          val len = bb.getInt(off + 4)
          if (len < 0 || off + 8 + len.toLong > bytes.length) {
            off = bytes.length // malformed length: stop, fall through to null
          } else {
            if (id == "fmt " && len >= 16) {
              fmtTag = bb.getShort(off + 8).toInt
              ch = bb.getShort(off + 10).toInt
              rate = bb.getInt(off + 12)
              bits = bb.getShort(off + 22).toInt
            } else if (id == "data") dataLen = len.toLong
            off += 8 + len + (len & 1) // chunks are word-aligned
          }
        }
        // PCM only (fmtTag 1), whole-byte samples only: the block-align
        // math below is meaningless for float/ADPCM frames or bits < 8,
        // and a zero block size must never divide
        val blockAlign = if (ch > 0 && bits > 0) ch * (bits / 8) else 0
        if (fmtTag != 1 || rate <= 0 || ch <= 0 || bits <= 0 ||
            bits % 8 != 0 || blockAlign <= 0 || dataLen < 0) None
        else {
          val n = dataLen / blockAlign
          Some(WavHeader(rate, ch, bits, n,
            math.round(n.toDouble / rate * 1e5) / 1e2))
        }
      }
    }
  }
}
